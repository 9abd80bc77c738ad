"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the full extraction pipeline over a
transcripts table synthesized deterministically from the sf0.001
``documents`` parquet.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2 + the training-data ops), EVERY one with a
DuckDB-runnable ANSI-SQL oracle — including the xxhash64 production
pipeline, whose oracle reimplements Spark's XXH64 in pure SQL
(``fundus_spark/xxh64_sql.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """documents -> synthetic HTML transcripts -> Arrow-boundary extraction."""
    return _q_extract_documents(spark, SF_DEFAULT)


# ---------------------------------------------------------------------------
# extraction queries (kernel end-to-end with closed-form SQL oracles)
# ---------------------------------------------------------------------------


def _q_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.plans import extract_articles
    from fundus_spark.sources.doc_html import documents_as_transcripts

    docs = _read(spark, sf_dir, "documents")
    transcripts = documents_as_transcripts(docs)
    extracted = extract_articles(transcripts.drop("doc_id"))
    # doc_id is closed-form in the extracted title ("Document <id>") —
    # recover it as a column expression instead of shuffling a join
    # back onto (conv_id, turn_idx); the stage stays a pure narrow map.
    return extracted.select(
        F.regexp_extract("title", r"^Document (\d+)$", 1).cast("long").alias("doc_id"),
        "title",
        "plaintext",
        F.col("authors")[0].alias("author0"),
        "publishing_date",
        "free_access",
    )


_EXTRACT_DOCUMENTS_SQL = """
SELECT doc_id,
       'Document ' || CAST(doc_id AS VARCHAR) AS title,
       trim(regexp_replace(text, '\\s+', ' ', 'g')) AS plaintext,
       'Author ' || CAST(doc_id % 5 AS VARCHAR) AS author0,
       strftime(DATE '2024-01-01' + INTERVAL (doc_id % 365) DAY, '%Y-%m-%d') || ' 00:00:00+00:00'
           AS publishing_date,
       true AS free_access
FROM documents
"""


def _q_extract_documents_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misattribution guard: doc_id comes from the CARRIED
    (conv_id, turn_idx) key joined back onto the stage output — not
    from the extracted payload — so content tagged with the wrong
    transcript row breaks the value-hash against the same oracle.
    (The benchmark path extract_documents keeps the narrow-map
    regexp recovery; this query keeps the shuffle so the property
    stays observable.)"""
    from fundus_spark.plans import extract_articles
    from fundus_spark.sources.doc_html import documents_as_transcripts

    docs = _read(spark, sf_dir, "documents")
    transcripts = documents_as_transcripts(docs)
    key_map = transcripts.select("conv_id", "turn_idx", "doc_id")
    extracted = extract_articles(transcripts.drop("doc_id"))
    return extracted.join(key_map, ["conv_id", "turn_idx"]).select(
        "doc_id",
        "title",
        "plaintext",
        F.col("authors")[0].alias("author0"),
        "publishing_date",
        "free_access",
    )


def _q_extract_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richer kernel gate (VERDICT r2 #8): synthetic articles exercise
    the JSON-LD date path, the <br> rewrap (transform_breaks_to_tag,
    replace=True), and srcset image extraction through the non-generic
    'rich' rule; every projected field is closed-form in doc_id so the
    DuckDB oracle breaks if any of those kernel paths drift."""
    from pyspark.sql.types import BooleanType

    from fundus_spark.plans import extract_articles
    from fundus_spark.sources.rich_html import documents_as_rich_transcripts

    docs = _read(spark, sf_dir, "documents")
    transcripts = documents_as_rich_transcripts(docs)
    key_map = transcripts.select("conv_id", "turn_idx", "doc_id")
    extracted = extract_articles(transcripts.drop("doc_id"))
    return extracted.join(key_map, ["conv_id", "turn_idx"]).select(
        "doc_id",
        "title",
        F.col("authors")[0].alias("author0"),
        "publishing_date",
        F.get_json_object("body_json", "$.sections[0].paragraphs[0]").alias("p1"),
        F.get_json_object("body_json", "$.sections[0].paragraphs[1]").alias("p2"),
        F.get_json_object("body_json", "$.sections[0].paragraphs[2]").alias("p3"),
        F.get_json_object("images_json", "$[0].versions[1].url").alias("img_url_large"),
        F.get_json_object("images_json", "$[0].caption").alias("img_caption"),
        F.get_json_object("images_json", "$[0].is_cover").cast(BooleanType()).alias("img_cover"),
    )


_RICH_SQL = """
SELECT doc_id,
       'Rich ' || CAST(doc_id AS VARCHAR) AS title,
       'Author ' || CAST(doc_id % 5 AS VARCHAR) AS author0,
       strftime(DATE '2024-01-01' + INTERVAL (doc_id % 365) DAY, '%Y-%m-%d') || ' 00:00:00+00:00'
           AS publishing_date,
       trim(regexp_replace(text, '\\s+', ' ', 'g')) AS p1,
       'Alpha ' || CAST(doc_id AS VARCHAR) || '.' AS p2,
       'Beta ' || CAST(doc_id AS VARCHAR) || '.' AS p3,
       'https://img.example/rich/' || CAST(doc_id AS VARCHAR) || '-large.jpg' AS img_url_large,
       'Caption ' || CAST(doc_id AS VARCHAR) AS img_caption,
       true AS img_cover
FROM documents
"""


def _q_extract_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _q_extract_documents_full(spark, sf_dir)
    return df.select("doc_id", F.explode("topics").alias("topic"))


def _q_extract_documents_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.plans import extract_articles
    from fundus_spark.sources.doc_html import documents_as_transcripts

    docs = _read(spark, sf_dir, "documents")
    transcripts = documents_as_transcripts(docs)
    extracted = extract_articles(transcripts.drop("doc_id"))
    return extracted.withColumn(
        "doc_id", F.regexp_extract("title", r"^Document (\d+)$", 1).cast("long")
    )


_EXTRACT_TOPICS_SQL = """
SELECT doc_id, topic FROM (
    SELECT doc_id, 'k' || CAST(doc_id % 7 AS VARCHAR) AS topic FROM documents
    UNION ALL
    SELECT doc_id, 'shared' AS topic FROM documents
)
"""


def _q_assemble_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.plans import assemble_conversations, extract_articles
    from fundus_spark.sources.doc_html import documents_as_transcripts

    docs = _read(spark, sf_dir, "documents")
    transcripts = documents_as_transcripts(docs).drop("doc_id")
    extracted = extract_articles(transcripts)
    return assemble_conversations(extracted, chunk=8).select("conv_id", "n_turns", "document")


_ASSEMBLE_SQL = """
SELECT source AS conv_id,
       COUNT(*) AS n_turns,
       string_agg(trim(regexp_replace(text, '\\s+', ' ', 'g')), chr(10) || chr(10) ORDER BY doc_id)
           AS document
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# relational operators (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


def _q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import grouped_topk

    docs = _read(spark, sf_dir, "documents")
    return grouped_topk(docs, ["source"], "n_chars", 3, tiebreak_col="doc_id").select(
        "source", "doc_id", "n_chars", "rank"
    )


_GROUPED_TOPK_SQL = """
SELECT source, doc_id, n_chars, rank FROM (
    SELECT source, doc_id, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rank
    FROM documents
) WHERE rank <= 3
"""


def _q_round_robin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin fair merge (reference crawler.py:585-590) — the r-th
    document of every source precedes any (r+1)-th; oracle defines the
    same total order directly with a global window."""
    from fundus_spark.operators import round_robin_merge

    docs = _read(spark, sf_dir, "documents")
    return round_robin_merge(docs, "source", "doc_id").select("merge_pos", "source", "doc_id")


_ROUND_ROBIN_SQL = """
WITH base AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY rn, source) - 1 AS BIGINT) AS merge_pos, source, doc_id
FROM base
"""


def _q_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import first_wins_dedup

    events = _read(spark, sf_dir, "events")
    return first_wins_dedup(events, ["user_id", "event_type"], "event_id").select(
        "user_id", "event_type", "event_id"
    )


_FIRST_WINS_SQL = """
SELECT user_id, event_type, event_id FROM (
    SELECT user_id, event_type, event_id,
           row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id ASC) AS rn
    FROM events
) WHERE rn = 1
"""


def _q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import regex_filter

    docs = _read(spark, sf_dir, "documents")
    return regex_filter(docs, "source", r"src1[0-9]").select("doc_id", "source")


_REGEX_FILTER_SQL = """
SELECT doc_id, source FROM documents WHERE NOT regexp_matches(source, 'src1[0-9]')
"""


def _q_requires(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import requires

    docs = _read(spark, sf_dir, "documents")
    return requires(docs, ["text", "lang"]).where(F.col("n_chars") > 200).select("doc_id", "lang", "n_chars")


_REQUIRES_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE text IS NOT NULL AND length(text) > 0 AND lang IS NOT NULL AND length(lang) > 0
  AND n_chars > 200
"""


# ---------------------------------------------------------------------------
# TPC-H-flavored relational coverage (joins / aggregations / pruning)
# ---------------------------------------------------------------------------


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price", "sum_disc_price", "count_order")
    )


_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("n_name", "revenue")
    )


_REVENUE_BY_NATION_SQL = """
SELECT n_name, round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (selective dim filter -> two joins -> agg ->
    global top-k): Catalyst pushes both date filters into the scans and
    AQE picks the join strategy; the explicit top-10 rides the sort."""
    customer = _read(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def _q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select("day", "event_type", "n", "total_value")
    )


_EVENTS_DAILY_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n, round(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (the same construct the streaming
    conversation assembler uses) in batch over the events table: a
    session closes after 30 idle minutes per user. The DuckDB oracle
    recomputes sessions with the classic gaps-and-islands construction
    (lag -> new-session flag -> running sum), proving the semantics
    rather than mirroring the operator."""
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_EVENT_SESSIONS_SQL = """
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
islands AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       round(SUM(value), 2) AS total_value
FROM islands
GROUP BY user_id, session_id
"""


def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    return (
        events.select("event_type", F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("k"), 3).alias("avg_k"))
        .select("event_type", "n", "avg_k")
    )


_EVENTS_JSON_SQL = """
SELECT event_type, COUNT(*) AS n,
       round(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 3) AS avg_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# dedup suite
# ---------------------------------------------------------------------------


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import exact_dedup

    docs = _read(spark, sf_dir, "documents")
    return exact_dedup(docs)


_EXACT_DEDUP_SQL = """
SELECT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import minhash_signatures

    docs = _read(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, n_perm=8, k=4)
    return sig.select("doc_id", F.posexplode("signature").alias("perm", "minhash"))


def _minhash_oracle_sql(n_perm: int = 8, k: int = 4) -> str:
    shingle_rel = f"""
        SELECT DISTINCT doc_id,
               array_to_string(toks[i:i+{k - 1}], ' ') AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
             LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - {k - 1}, 1))) AS i) t
    """
    perms = ",\n".join(
        f"MIN(CAST('0x' || substr(md5('p{j}:' || shingle), 1, 8) AS BIGINT)) AS h{j}" for j in range(n_perm)
    )
    unions = "\nUNION ALL\n".join(f"SELECT doc_id, {j} AS perm, h{j} AS minhash FROM sig" for j in range(n_perm))
    return f"WITH shingles AS ({shingle_rel}), sig AS (SELECT doc_id, {perms} FROM shingles GROUP BY doc_id)\n{unions}"


def _q_minhash_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production hash mode: same minhash pipeline with native xxhash64
    instead of md5. Benched beside the md5 twin so the md5-portability
    cost is measured, not guessed — and exactly value-gated like every
    other query, via the pure-SQL XXH64 oracle (_minhash_xxhash_sql)."""
    from fundus_spark.operators import minhash_signatures

    docs = _read(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, n_perm=8, k=4, hash_mode="xxhash64")
    return sig.select("doc_id", F.posexplode("signature").alias("perm", "minhash"))


def _minhash_xxhash_sql(n_perm: int = 8, k: int = 4) -> str:
    """Exact oracle for the PRODUCTION hash mode: Spark's xxhash64
    (XXH64, seed 42) reimplemented in pure DuckDB SQL — HUGEINT modular
    arithmetic with overflow-safe split multiplication, recursive CTEs
    over byte positions (fundus_spark/xxh64_sql.py, self-tested against
    Spark ground truth in tools/xxh64_sql.py). Upgrades minhash_xxhash
    from a rows-only check to a fully value-gated query."""
    from fundus_spark.xxh64_sql import xxh64_hash_cte

    return f"""
WITH RECURSIVE
shing AS (
    SELECT DISTINCT doc_id,
           array_to_string(toks[i:i+{k - 1}], ' ') AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - {k - 1}, 1))) AS i) t
),
salted AS (
    SELECT 'p' || CAST(j AS VARCHAR) || ':' || shingle AS s, shingle, j
    FROM (SELECT DISTINCT shingle FROM shing),
         (SELECT unnest(generate_series(0, {n_perm - 1})) AS j)
),
sset AS (SELECT DISTINCT s FROM salted),
{xxh64_hash_cte('sset')},
hashed AS (
    SELECT salted.shingle, salted.j, (xh.h % 4294967296) AS h32
    FROM salted JOIN xh USING (s)
)
SELECT shing.doc_id,
       CAST(hashed.j AS INTEGER) AS perm,
       CAST(MIN(hashed.h32) AS BIGINT) AS minhash
FROM shing JOIN hashed USING (shingle)
GROUP BY shing.doc_id, hashed.j
"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    # within-source pairing: the scale-bounded regime (a hot shingle
    # costs |bucket within source|^2, not |bucket|^2)
    return ngram_jaccard_pairs(docs, k=2, threshold=0.05, partition_col="source")


def _ngram_jaccard_sql(k: int = 2, threshold: float = 0.05) -> str:
    return f"""
WITH shingles AS (
    SELECT DISTINCT doc_id, source,
           array_to_string(toks[i:i+{k - 1}], ' ') AS shingle
    FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - {k - 1}, 1))) AS i) t
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inters AS (
    SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS inter
    FROM shingles l JOIN shingles r USING (source, shingle)
    WHERE l.doc_id < r.doc_id
    GROUP BY 1, 2
)
SELECT a, b, round(inter / (sa.n + sb.n - inter), 4) AS jaccard
FROM inters
JOIN sizes sa ON inters.a = sa.doc_id
JOIN sizes sb ON inters.b = sb.doc_id
WHERE round(inter / (sa.n + sb.n - inter), 4) >= {threshold}
"""


def _q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import lsh_candidate_pairs

    docs = _read(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs, n_perm=8, bands=4, k=4)


def _lsh_candidates_sql(n_perm: int = 8, bands: int = 4, k: int = 4, relation: str = "documents") -> str:
    rpb = n_perm // bands
    shingle_rel = f"""
        SELECT DISTINCT doc_id,
               array_to_string(toks[i:i+{k - 1}], ' ') AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM {relation}),
             LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - {k - 1}, 1))) AS i) t
    """
    perms = ",\n".join(
        f"MIN(CAST('0x' || substr(md5('p{j}:' || shingle), 1, 8) AS BIGINT)) AS h{j}" for j in range(n_perm)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + " AS key FROM sig"
        for b in range(bands)
    )
    return f"""
WITH shingles AS ({shingle_rel}),
sig AS (SELECT doc_id, {perms} FROM shingles GROUP BY doc_id),
banded AS ({band_union})
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM banded l JOIN banded r USING (band, key)
WHERE l.doc_id < r.doc_id
"""


def _q_lsh_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-phase 100 TB dedup path: LSH banding proposes candidate
    pairs, exact n-gram Jaccard verifies them — the intersection is
    computed from the candidate list, never a shingle self-join."""
    from fundus_spark.operators import lsh_candidate_pairs, ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    cands = lsh_candidate_pairs(docs, n_perm=8, bands=4, k=4)
    return ngram_jaccard_pairs(docs, k=4, threshold=0.01, candidates=cands)


def _lsh_jaccard_verified_sql(
    n_perm: int = 8, bands: int = 4, k: int = 4, threshold: float = 0.01, relation: str = "documents"
) -> str:
    return f"""
WITH cands AS ({_lsh_candidates_sql(n_perm, bands, k, relation)}),
shingles AS (
    SELECT DISTINCT doc_id,
           array_to_string(toks[i:i+{k - 1}], ' ') AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM {relation}),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - {k - 1}, 1))) AS i) t
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inters AS (
    SELECT cands.a, cands.b, COUNT(*) AS inter
    FROM cands
    JOIN shingles sa ON sa.doc_id = cands.a
    JOIN shingles sb ON sb.doc_id = cands.b AND sb.shingle = sa.shingle
    GROUP BY cands.a, cands.b
)
SELECT a, b, round(inter / (za.n + zb.n - inter), 4) AS jaccard
FROM inters
JOIN sizes za ON inters.a = za.doc_id
JOIN sizes zb ON inters.b = zb.doc_id
WHERE round(inter / (za.n + zb.n - inter), 4) >= {threshold}
"""


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only incremental dedup: cluster a new batch (src0/src2/..)
    against the frozen already-deduplicated src1 corpus without
    re-clustering it — prior survivorship can never flip. The operator
    a daily 100 TB curation increment runs instead of full
    re-clustering (see curate_corpus's incremental contract)."""
    from fundus_spark.operators import incremental_assign

    docs = _read(spark, sf_dir, "documents")
    frozen = docs.where(F.col("source") == "src1")
    new = docs.where(F.col("source") != "src1")
    return incremental_assign(new, frozen, k=4, threshold=0.01)


def _banded_cte(relation: str, prefix: str, n_perm: int = 8, bands: int = 4, k: int = 4) -> str:
    """CTE text for `(doc_id, band, key)` md5-minhash LSH band keys of
    ``relation``, name-prefixed so two relations can be banded in one
    statement (the incremental new-vs-frozen probe)."""
    rpb = n_perm // bands
    perms = ",\n".join(
        f"MIN(CAST('0x' || substr(md5('p{j}:' || shingle), 1, 8) AS BIGINT)) AS h{j}" for j in range(n_perm)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + f" AS key FROM {prefix}sig"
        for b in range(bands)
    )
    return f"""
{prefix}sh AS (
    SELECT DISTINCT doc_id, array_to_string(toks[i:i+{k - 1}], ' ') AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM {relation}),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - {k - 1}, 1))) AS i) t
),
{prefix}sig AS (SELECT doc_id, {perms} FROM {prefix}sh GROUP BY doc_id),
{prefix}bnd AS ({band_union})"""


def _incremental_dedup_sql(n_perm: int = 8, bands: int = 4, k: int = 4, threshold: float = 0.01) -> str:
    return f"""
WITH RECURSIVE
frozen AS (SELECT * FROM documents WHERE source = 'src1'),
newd AS (SELECT * FROM documents WHERE source <> 'src1'),
{_banded_cte('frozen', 'f', n_perm, bands, k)},
{_banded_cte('newd', 'n', n_perm, bands, k)},
cand_nf AS (
    SELECT DISTINCT n.doc_id AS new_id, f.doc_id AS frozen_id
    FROM nbnd n JOIN fbnd f USING (band, key)
),
nsz AS (SELECT doc_id, COUNT(*) AS n FROM nsh GROUP BY doc_id),
fsz AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id),
int_nf AS (
    SELECT cand_nf.new_id, cand_nf.frozen_id, COUNT(*) AS inter
    FROM cand_nf
    JOIN nsh sa ON sa.doc_id = cand_nf.new_id
    JOIN fsh sb ON sb.doc_id = cand_nf.frozen_id AND sb.shingle = sa.shingle
    GROUP BY 1, 2
),
seeds AS (
    SELECT new_id, MIN(frozen_id) AS seed
    FROM int_nf
    JOIN nsz ON nsz.doc_id = int_nf.new_id
    JOIN fsz ON fsz.doc_id = int_nf.frozen_id
    WHERE round(inter / (nsz.n + fsz.n - inter), 4) >= {threshold}
    GROUP BY new_id
),
pairs AS (SELECT a, b FROM ({_lsh_jaccard_verified_sql(n_perm, bands, k, threshold, relation="newd")}) v),
edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(node, lbl) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS comp_id FROM reach GROUP BY node),
seeded AS (
    SELECT newd.doc_id, COALESCE(seeds.seed, newd.doc_id) AS seed
    FROM newd LEFT JOIN seeds ON seeds.new_id = newd.doc_id
),
compmin AS (
    SELECT comp.comp_id, MIN(seeded.seed) AS comp_seed
    FROM comp JOIN seeded USING (doc_id) GROUP BY comp.comp_id
)
SELECT seeded.doc_id,
       LEAST(COALESCE(cm.comp_seed, seeded.seed), seeded.seed) AS cluster_id,
       seeded.doc_id = LEAST(COALESCE(cm.comp_seed, seeded.seed), seeded.seed) AS survives
FROM seeded
LEFT JOIN comp ON comp.doc_id = seeded.doc_id
LEFT JOIN compmin cm ON cm.comp_id = comp.comp_id
"""


def _lsh_jaccard_verified_xxhash_sql(
    n_perm: int = 8, bands: int = 4, k: int = 4, threshold: float = 0.01, relation: str = "documents"
) -> str:
    """Production-hash twin of _lsh_jaccard_verified_sql: the banding
    phase uses Spark's native xxhash64 (folded to 32 bits) instead of
    md5, recomputed exactly in pure DuckDB SQL via the XXH64 CTE
    (fundus_spark/xxh64_sql.py). Lets the END-TO-END curation chain be
    value-gated under hash_mode="xxhash64" — the hash a 100 TB run
    would actually use — not only the per-operator minhash twin."""
    from fundus_spark.xxh64_sql import xxh64_hash_cte

    rpb = n_perm // bands
    return f"""
WITH RECURSIVE
shing AS (
    SELECT DISTINCT doc_id,
           array_to_string(toks[i:i+{k - 1}], ' ') AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM {relation}),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - {k - 1}, 1))) AS i) t
),
salted AS (
    SELECT 'p' || CAST(j AS VARCHAR) || ':' || shingle AS s, shingle, j
    FROM (SELECT DISTINCT shingle FROM shing),
         (SELECT unnest(generate_series(0, {n_perm - 1})) AS j)
),
sset AS (SELECT DISTINCT s FROM salted),
{xxh64_hash_cte('sset')},
hashed AS (
    SELECT salted.shingle, salted.j, (xh.h % 4294967296) AS h32
    FROM salted JOIN xh USING (s)
),
sig AS (
    SELECT shing.doc_id, hashed.j AS perm, MIN(hashed.h32) AS minhash
    FROM shing JOIN hashed USING (shingle)
    GROUP BY shing.doc_id, hashed.j
),
banded AS (
    SELECT doc_id, perm // {rpb} AS band,
           string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm) AS key
    FROM sig GROUP BY doc_id, perm // {rpb}
),
cands AS (
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM banded l JOIN banded r USING (band, key)
    WHERE l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
inters AS (
    SELECT cands.a, cands.b, COUNT(*) AS inter
    FROM cands
    JOIN shing sa ON sa.doc_id = cands.a
    JOIN shing sb ON sb.doc_id = cands.b AND sb.shingle = sa.shingle
    GROUP BY cands.a, cands.b
)
SELECT a, b, round(inter / (za.n + zb.n - inter), 4) AS jaccard
FROM inters
JOIN sizes za ON inters.a = za.doc_id
JOIN sizes zb ON inters.b = zb.doc_id
WHERE round(inter / (za.n + zb.n - inter), 4) >= {threshold}
"""


_SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_SAMPLE_DEFAULT = 0.1
_SPLIT_WEIGHTS = (("train", 0.9), ("val", 0.05), ("test", 0.05))


def _bucket_sql(salt: str) -> str:
    return f"CAST('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum hash-bucket sampling (dataset mixing):
    decisions depend only on (salt, doc_id) — reproducible across
    engines and stable under corpus growth. Narrow filter, no shuffle."""
    from fundus_spark.operators import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    out = stratified_sample(docs, _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT, salt="mix")
    return out.select("doc_id", "source")


def _stratified_sample_sql() -> str:
    b = 2**32
    cases = " ".join(
        f"WHEN source = '{s}' THEN {int(r * b)}" for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE {_bucket_sql("mix")} < (CASE {cases} ELSE {int(_SAMPLE_DEFAULT * b)} END)
"""


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinated train/val/test assignment by cumulative hash-bucket
    ranges: independent jobs with the same salt agree on membership, and
    a grown corpus never moves an existing row between splits."""
    from fundus_spark.operators import split_assign

    docs = _read(spark, sf_dir, "documents")
    return split_assign(docs, _SPLIT_WEIGHTS, salt="split").select("doc_id", "split")


def _split_assign_sql() -> str:
    b = 2**32
    cum = 0.0
    whens = []
    for name, w in _SPLIT_WEIGHTS[:-1]:
        cum += w
        whens.append(f"WHEN {_bucket_sql('split')} < {int(cum * b)} THEN '{name}'")
    return f"""
SELECT doc_id, CASE {' '.join(whens)} ELSE '{_SPLIT_WEIGHTS[-1][0]}' END AS split
FROM documents
"""


def _q_pack_by_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing per source shard: windowed
    cumulative sum gives each doc its stream offset and fixed-budget
    chunk id. One shuffle on the shard key; per-shard sorted pass."""
    from fundus_spark.operators import pack_by_budget

    docs = _read(spark, sf_dir, "documents")
    out = pack_by_budget(docs, budget=4096, token_col="n_chars", part_col="source", order_col="doc_id")
    return out.select("doc_id", "source", "pack_offset", "pack_bin")


_PACK_SQL = """
SELECT doc_id, source,
       CAST(COALESCE(SUM(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_offset,
       CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS BIGINT) AS pack_bin
FROM documents
"""


def _q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation chain as ONE plan: length+repetition
    quality gate -> exact dedup -> LSH/Jaccard near-dup components ->
    survivor selection -> decontamination vs the src0 eval split ->
    deterministic train/val/test assignment -> per-source sequence
    packing. Every stage individually oracle-gated elsewhere; this
    query gates the composition end to end."""
    from fundus_spark.plans import curate_corpus

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    out = curate_corpus(
        corpus,
        benchmark=bench,
        min_chars=20,
        max_dup_gram_frac=0.9,
        jaccard_threshold=0.01,
        contamination_k=8,
        pack_budget=4096,
    )
    return out.select("doc_id", "source", "split", "n_tokens", "pack_offset", "pack_bin")


def _curate_sql(docs_rel: str = "documents", hash_mode: str = "md5") -> str:
    b = 2**32
    t_train = int(0.9 * b)
    t_val = int(0.95 * b)
    verified = _lsh_jaccard_verified_sql if hash_mode == "md5" else _lsh_jaccard_verified_xxhash_sql
    return f"""
WITH RECURSIVE
base AS (
    SELECT * FROM {docs_rel}
    WHERE source <> 'src0' AND LENGTH(TRIM(text)) >= 20
),
grams2 AS (
    SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM base),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS i) t
),
pg AS (SELECT doc_id, gram, COUNT(*) AS c, LENGTH(gram) AS glen FROM grams2 GROUP BY doc_id, gram),
rep_ok AS (
    SELECT doc_id FROM pg GROUP BY doc_id
    HAVING ROUND(SUM(glen * (c - 1)) / SUM(glen * c), 4) <= 0.9
),
gated AS (SELECT base.* FROM base JOIN rep_ok USING (doc_id)),
keep AS (
    SELECT MIN(doc_id) AS doc_id
    FROM (SELECT doc_id, md5(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM gated)
    GROUP BY fp
),
ded AS (SELECT gated.* FROM gated JOIN keep USING (doc_id)),
pairs AS (
    SELECT a, b FROM ({verified(8, 4, 4, 0.01, relation="ded")}) v
),
edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(node, lbl) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
surv AS (
    SELECT ded.* FROM ded LEFT JOIN comp USING (doc_id)
    WHERE COALESCE(comp.cluster_id, ded.doc_id) = ded.doc_id
),
shc AS (
    SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM surv),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i) t
),
bench AS (
    SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS shingle
    FROM (SELECT string_split_regex(trim(text), '\\s+') AS toks FROM {docs_rel} WHERE source = 'src0'),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i) t
),
contaminated AS (SELECT DISTINCT shc.doc_id FROM shc JOIN bench USING (shingle)),
clean AS (
    SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
final AS (
    SELECT doc_id, source,
           CASE WHEN CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) < {t_train} THEN 'train'
                WHEN CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) < {t_val} THEN 'val'
                ELSE 'test' END AS split,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM clean
)
SELECT doc_id, source, split, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_offset,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS BIGINT) AS pack_bin
FROM final
"""


def _q_curate_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain under hash_mode="xxhash64" — the hash a
    production 100 TB run uses (native JVM xxHash, ~3-4x cheaper per
    shingle than md5). Exactly value-gated end to end: the oracle
    recomputes Spark's XXH64 in pure DuckDB SQL inside the composed
    recursive-CTE curate statement."""
    from fundus_spark.plans import curate_corpus

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    out = curate_corpus(
        corpus,
        benchmark=bench,
        min_chars=20,
        max_dup_gram_frac=0.9,
        jaccard_threshold=0.01,
        contamination_k=8,
        pack_budget=4096,
        hash_mode="xxhash64",
    )
    return out.select("doc_id", "source", "split", "n_tokens", "pack_offset", "pack_bin")


def _q_crawl_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone end-to-end: .warc.gz bytes -> WARC records -> HTML
    -> article extraction (the zero-shuffle Arrow-boundary kernel stage) ->
    the FULL curation chain (quality gate, exact + near-dup dedup,
    decontamination, split, packing). A user's entire
    crawl-to-training-corpus pipeline as one gated plan; the oracle is
    the composed curate SQL over the closed-form extracted plaintext."""
    from fundus_spark.operators import warc_extract
    from fundus_spark.plans import curate_corpus, extract_articles
    from fundus_spark.sources.warc_gen import documents_as_warcs

    warcs = documents_as_warcs(_read(spark, sf_dir, "documents"), wrap_html=True)
    records = warc_extract(warcs)
    transcripts = records.select(
        F.col("source").alias("conv_id"),
        F.col("record_idx").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.col("html").alias("text"),
        F.lit("generic").alias("tool"),
        F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
    )
    extracted = extract_articles(transcripts)
    docs = extracted.select(
        F.regexp_extract("title", r"^Document (\d+)$", 1).cast("long").alias("doc_id"),
        F.col("conv_id").alias("source"),
        F.col("plaintext").alias("text"),
    )
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    out = curate_corpus(
        corpus,
        benchmark=bench,
        min_chars=20,
        max_dup_gram_frac=0.9,
        jaccard_threshold=0.01,
        contamination_k=8,
        pack_budget=4096,
    )
    return out.select("doc_id", "source", "split", "n_tokens", "pack_offset", "pack_bin")


_EXTRACTED_DOCS_REL = (
    "(SELECT doc_id, source, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text FROM documents)"
)


def _q_multisignal_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-evidence dedup: text near-dup pairs (LSH -> Jaccard
    verify) and embedding near-dup pairs (banded hyperplane LSH ->
    exact cosine) merge into ONE edge set, and connected components
    cluster over both signals — a doc pair linked by EITHER signal
    lands in the same cluster. Demonstrates that the dedup operators
    compose: each pair source keeps its own scale-correct shape and the
    clustering consumes their union."""
    from fundus_spark.operators import (
        connected_components,
        cosine_neardup_pairs,
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )

    from fundus_spark.operators.dedup import shingle_relation

    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    # one distinct shingle relation feeds both the banding and the
    # verify phase (Catalyst won't reuse the exchange across branches)
    shingles = shingle_relation(docs, k=4).distinct()
    cands = lsh_candidate_pairs(docs, n_perm=8, bands=4, k=4, shingles=shingles)
    tpairs = ngram_jaccard_pairs(
        docs, k=4, threshold=0.01, candidates=cands, shingles=shingles
    ).select("a", "b")
    vpairs = cosine_neardup_pairs(
        emb, threshold=0.2, bands=4, rows_per_band=2, dim=64, bucket_cap=64
    ).select("a", "b")
    pairs = tpairs.union(vpairs).distinct()
    comp = connected_components(pairs)
    return (
        docs.join(F.broadcast(comp), "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    )


def _multisignal_clusters_sql() -> str:
    return f"""
WITH RECURSIVE
tpairs AS (SELECT a, b FROM ({_lsh_jaccard_verified_sql(8, 4, 4, 0.01)}) t),
vpairs AS (SELECT a, b FROM ({_cosine_neardup_sql(0.2, 4, 2, 64, 42, 64)}) v),
pairs AS (SELECT a, b FROM tpairs UNION SELECT a, b FROM vpairs),
edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(node, lbl) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(comp.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp USING (doc_id)
"""


def _q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manku/Jain/Sarma bit-block SimHash dedup: pigeonhole banding on
    (max_hamming+1) signature blocks proposes candidates via equi-join,
    bit_count(XOR) verifies — never an all-pairs scan."""
    from fundus_spark.operators import simhash_neardup_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, bits=32, max_hamming=3)


def _simhash_neardup_sql(bits: int = 32, max_hamming: int = 3) -> str:
    nblocks = max_hamming + 1
    base, rem = divmod(bits, nblocks)
    starts, widths, off = [], [], 0
    for b in range(nblocks):
        w = base + (1 if b < rem else 0)
        starts.append(off)
        widths.append(w)
        off += w
    block_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS block, (simhash >> {starts[b]}) & {2 ** widths[b] - 1} AS key FROM sim"
        for b in range(nblocks)
    )
    return f"""
WITH sim AS (SELECT * FROM ({_simhash_sql(bits)}) s),
blocked AS ({block_union}),
cand AS (
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
           CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
    FROM blocked l JOIN blocked r USING (block, key)
    WHERE l.doc_id < r.doc_id
)
SELECT a, b, hamming FROM cand WHERE hamming <= {max_hamming}
"""


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: corpus docs sharing a word k-gram with
    the benchmark split (here: source src0 plays the eval set; k=4 at
    fixture scale — production uses 13-grams per GPT-3 appendix C).
    Benchmark shingles broadcast; corpus never shuffles until the final
    per-doc count."""
    from fundus_spark.operators import contamination_flags

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    return contamination_flags(corpus, bench, k=4)


_CONTAMINATION_SQL = """
WITH sh AS (
    SELECT doc_id, source, array_to_string(toks[i:i+3], ' ') AS shingle
    FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i) t
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
corp AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE source <> 'src0')
SELECT corp.doc_id, COUNT(*) AS n_shared_grams
FROM corp JOIN bench USING (shingle)
GROUP BY corp.doc_id
"""


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full content-dedup chain: LSH candidates -> exact Jaccard verify
    -> connected components -> every document labeled with its cluster
    (own id when it has no near-dup). Iterative min-label propagation,
    O(diameter) rounds, one shuffle per round."""
    from fundus_spark.operators import connected_components, lsh_candidate_pairs, ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    cands = lsh_candidate_pairs(docs, n_perm=8, bands=4, k=4)
    pairs = ngram_jaccard_pairs(docs, k=4, threshold=0.01, candidates=cands)
    comp = connected_components(pairs)
    return (
        docs.join(F.broadcast(comp), "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    )


def _dedup_clusters_sql(n_perm: int = 8, bands: int = 4, k: int = 4, threshold: float = 0.01) -> str:
    return f"""
WITH RECURSIVE verified AS (
    SELECT a, b FROM ({_lsh_jaccard_verified_sql(n_perm, bands, k, threshold)}) v
),
edges AS (SELECT a AS src, b AS dst FROM verified UNION SELECT b, a FROM verified),
reach(node, lbl) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(comp.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp USING (doc_id)
"""


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection: keep only the minimum-id document of each
    near-dup cluster (first-wins over content clusters — the corpus a
    training run would actually consume)."""
    from fundus_spark.operators import dedup_survivors, lsh_candidate_pairs, ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    cands = lsh_candidate_pairs(docs, n_perm=8, bands=4, k=4)
    pairs = ngram_jaccard_pairs(docs, k=4, threshold=0.01, candidates=cands)
    return dedup_survivors(docs, pairs).select("doc_id", "source", "n_chars")


def _dedup_survivors_sql(n_perm: int = 8, bands: int = 4, k: int = 4, threshold: float = 0.01) -> str:
    return f"""
SELECT c.doc_id, d.source, d.n_chars
FROM ({_dedup_clusters_sql(n_perm, bands, k, threshold)}) c
JOIN documents d USING (doc_id)
WHERE c.doc_id = c.cluster_id
"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import simhash

    docs = _read(spark, sf_dir, "documents")
    return simhash(docs, bits=16)


def _simhash_sql(bits: int = 16) -> str:
    bit_sums = ",\n".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(bits)
    )
    recompose = " + ".join(f"(CASE WHEN b{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(bits))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
),
hashed AS (
    SELECT doc_id, CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h FROM toks
),
agg AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM agg
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import cosine_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5)


_COSINE_TOPK_SQL = """
WITH unnested AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           SUM(q.v * c.v) / (sqrt(SUM(q.v * q.v)) * sqrt(SUM(c.v * c.v))) AS cos
    FROM unnested q JOIN unnested c USING (i)
    WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    GROUP BY 1, 2
)
SELECT query_id, rank, cand_id FROM (
    SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
    FROM pairs
) WHERE rank <= 5
"""


def _q_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-QUANTIZED embeddings (round 5): the
    compressed-index serving path (4x storage reduction). The oracle
    replays the exact round-half-up quantizer and the pre-rank score
    rounding, so rank-for-rank equality gates the whole
    quantize -> dequantize -> score -> rank chain."""
    from fundus_spark.operators import quantized_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 10)
    return quantized_topk(emb, queries, k=5)


_QUANTIZED_ANN_SQL = """
WITH scaled AS (
    SELECT vec_id,
           greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale,
           embedding
    FROM embeddings
),
dq AS (
    SELECT vec_id,
           list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / scale + 0.5) * scale) AS v
    FROM scaled
),
unnested AS (
    SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS val FROM dq
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           round(SUM(q.val * c.val) / (sqrt(SUM(q.val * q.val)) * sqrt(SUM(c.val * c.val))), 6) AS cos
    FROM unnested q JOIN unnested c USING (i)
    WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    GROUP BY 1, 2
)
SELECT query_id, rank, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
    FROM pairs
) WHERE rank <= 5
"""


def _q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import lsh_bucketed_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return lsh_bucketed_topk(emb, k=3, bands=4, rows_per_band=2, dim=64, bucket_cap=64)


def _lsh_ann_sql(k: int = 3, bands: int = 4, rows_per_band: int = 2, dim: int = 64, seed: int = 42, cap: int = 64) -> str:
    """DuckDB twin of lsh_bucketed_topk: the md5-seeded hyperplanes are
    embedded as literal arrays (same _hyperplanes() the Spark operator
    compiles), so bucket keys, sub-buckets, and ranks recompute exactly."""
    from fundus_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bands * rows_per_band, seed)
    plane_rows = ",\n".join(
        f"({p}, [{', '.join(repr(w) for w in plane)}]::DOUBLE[])" for p, plane in enumerate(planes)
    )
    return f"""
WITH planes(p, w) AS (VALUES {plane_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
bits AS (
    SELECT vec_id, p,
           CASE WHEN list_dot_product(e, w) >= 0 THEN '1' ELSE '0' END AS bit
    FROM v CROSS JOIN planes
),
banded AS (
    SELECT vec_id, p // {rows_per_band} AS band,
           string_agg(bit, '' ORDER BY p) AS key
    FROM bits GROUP BY vec_id, p // {rows_per_band}
),
subbed AS (
    SELECT vec_id, band, key,
           (row_number() OVER (PARTITION BY band, key ORDER BY vec_id) - 1) // {cap} AS sub
    FROM banded
),
cands AS (
    SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS cand_id
    FROM subbed l JOIN subbed r USING (band, key, sub)
    WHERE l.vec_id != r.vec_id
),
scored AS (
    SELECT query_id, cand_id,
           list_dot_product(q.e, c.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos
    FROM cands JOIN v q ON cands.query_id = q.vec_id JOIN v c ON cands.cand_id = c.vec_id
)
SELECT query_id, rank, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
    FROM scored
) WHERE rank <= {k}
"""


def _q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import cosine_neardup_pairs

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return cosine_neardup_pairs(emb, threshold=0.2, bands=4, rows_per_band=2, dim=64, bucket_cap=64)


def _cosine_neardup_sql(threshold: float = 0.2, bands: int = 4, rows_per_band: int = 2, dim: int = 64, seed: int = 42, cap: int = 64) -> str:
    """DuckDB twin of cosine_neardup_pairs (same banded-LSH candidate
    relation as the lsh_ann oracle, asymmetric pairs, exact cosine)."""
    from fundus_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bands * rows_per_band, seed)
    plane_rows = ",\n".join(
        f"({p}, [{', '.join(repr(w) for w in plane)}]::DOUBLE[])" for p, plane in enumerate(planes)
    )
    return f"""
WITH planes(p, w) AS (VALUES {plane_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
bits AS (
    SELECT vec_id, p,
           CASE WHEN list_dot_product(e, w) >= 0 THEN '1' ELSE '0' END AS bit
    FROM v CROSS JOIN planes
),
banded AS (
    SELECT vec_id, p // {rows_per_band} AS band,
           string_agg(bit, '' ORDER BY p) AS key
    FROM bits GROUP BY vec_id, p // {rows_per_band}
),
subbed AS (
    SELECT vec_id, band, key,
           (row_number() OVER (PARTITION BY band, key ORDER BY vec_id) - 1) // {cap} AS sub
    FROM banded
),
cands AS (
    SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
    FROM subbed l JOIN subbed r USING (band, key, sub)
    WHERE l.vec_id < r.vec_id
)
SELECT a, b,
       round(list_dot_product(qa.e, qb.e)
             / (sqrt(list_dot_product(qa.e, qa.e)) * sqrt(list_dot_product(qb.e, qb.e))), 4) AS cos
FROM cands JOIN v qa ON cands.a = qa.vec_id JOIN v qb ON cands.b = qb.vec_id
WHERE round(list_dot_product(qa.e, qb.e)
            / (sqrt(list_dot_product(qa.e, qa.e)) * sqrt(list_dot_product(qb.e, qb.e))), 4) >= {threshold}
"""


def _q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import ivf_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    # IVF practice: ~sqrt(n) cells. 64 cells keeps the per-query
    # candidate set ~n_probe * n/64 (bounded further by cell_cap) —
    # with 8 cells the probe join degenerated toward brute force
    # (measured 14s -> ~3s at sf0.1 for the same k).
    return ivf_topk(emb, k=3, n_centroids=64, n_probe=3, dim=64, cell_cap=128)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse-quantizer clustering bounds
    the pairwise cosine to within-cell, min-id pruning above the
    threshold. 16 cells over the 500-vector fixture gives ~30-member
    cells, so both the prune and keep paths carry real traffic; the
    0.25 threshold sits inside the fixture's similarity mass (99th pct
    ~0.29) so boundary rounding is exercised too."""
    from fundus_spark.operators import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return semantic_dedup(emb, threshold=0.25, n_centroids=16, dim=64, cell_cap=128)


def _semantic_dedup_sql(
    threshold: float = 0.25, n_centroids: int = 16, dim: int = 64, seed: int = 7, cap: int = 128
) -> str:
    """DuckDB twin of semantic_dedup: identical literal codebook,
    argmax cell, capped inverted lists, within-cell a<b pairwise with
    rounded cosine, min-smaller-id prune, left join back."""
    from fundus_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(dim, n_centroids, seed)
    cent_rows = ",\n".join(
        f"({i}, [{', '.join(repr(w) for w in c)}]::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
WITH cents(i, w) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
    SELECT vec_id, i, list_dot_product(e, w) AS s FROM v CROSS JOIN cents
),
ranked AS (
    SELECT vec_id, i,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rnk
    FROM scored
),
assigned AS (SELECT vec_id, i AS cell FROM ranked WHERE rnk = 1),
capped AS (
    SELECT vec_id, cell, e FROM (
        SELECT a.vec_id, a.cell, v.e,
               row_number() OVER (PARTITION BY a.cell ORDER BY a.vec_id) AS rn
        FROM assigned a JOIN v USING (vec_id)
    ) WHERE rn <= {cap}
),
pruned AS (
    SELECT b.vec_id AS b_id, min(a.vec_id) AS pruned_by
    FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
          >= {threshold}
    GROUP BY b.vec_id
)
SELECT s.vec_id, CAST(s.cell AS INT) AS cell,
       p.pruned_by IS NULL AS kept, CAST(p.pruned_by AS BIGINT) AS pruned_by
FROM assigned s LEFT JOIN pruned p ON s.vec_id = p.b_id
"""


def _q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means fit (the clustering stage SemDeDup
    runs for real): 8 cells, 3 iterations over the 500-vector fixture.
    The centroid update sums FIXED-POINT BIGINT components (exact,
    order-independent), so the float centroids are bit-identical to
    the oracle's unrolled-iteration replay — a clustering FIT gated on
    value equality, not just assignments."""
    from fundus_spark.operators import kmeans_fit

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return kmeans_fit(emb, k=8, n_iter=3, dim=64)


def _kmeans_sql(k: int = 8, n_iter: int = 3, dim: int = 64, seed: int = 7) -> str:
    """DuckDB twin of kmeans_fit: literal init codebook, then per
    unrolled iteration argmax-dot assignment + exact integer sums +
    the single s/(n*10^6) division; empty cells carry the previous
    centroid with n_members = 0. MATERIALIZED per stage (each CTE is
    referenced twice — inlining would blow up exponentially)."""
    from fundus_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(dim, k, seed)
    cent_rows = ",\n".join(
        f"({i}, [{', '.join(repr(w) for w in c)}]::DOUBLE[])" for i, c in enumerate(cents)
    )
    parts = [
        f"""
cents0(i, w) AS (VALUES {cent_rows}),
v AS MATERIALIZED (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
    FROM embeddings
)"""
    ]
    for it in range(1, n_iter + 1):
        parts.append(
            f"""
asg{it} AS MATERIALIZED (
    SELECT vec_id, qv, i AS cell FROM (
        SELECT vec_id, qv, i,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rnk
        FROM (
            SELECT vec_id, qv, i,
                   list_dot_product(list_transform(qv, x -> CAST(x AS DOUBLE) / 1000000.0), w) AS s
            FROM v CROSS JOIN cents{it-1}
        )
    ) WHERE rnk = 1
),
upd{it} AS (
    SELECT cell,
           list(comp / (n * 1000000.0) ORDER BY pos) AS w,
           any_value(n) AS n_members
    FROM (
        SELECT cell, pos, sum(val) AS comp, count(*) AS n
        FROM (
            SELECT cell, i AS pos, qv[i] AS val
            FROM asg{it}, unnest(range(1, {dim} + 1)) AS t(i)
        )
        GROUP BY cell, pos
    )
    GROUP BY cell
),
cents{it}(i, w) AS MATERIALIZED (
    SELECT c.i, coalesce(u.w, c.w) AS w
    FROM cents{it-1} c LEFT JOIN upd{it} u ON c.i = u.cell
)"""
        )
    body = ",".join(parts)
    return f"""WITH {body}
SELECT c.i AS cell, c.w AS centroid,
       CAST(coalesce(u.n_members, 0) AS BIGINT) AS n_members
FROM cents{n_iter} c LEFT JOIN upd{n_iter} u ON c.i = u.cell
"""


def _ivf_ann_sql(k: int = 3, n_centroids: int = 64, n_probe: int = 3, dim: int = 64, seed: int = 7, cap: int = 128) -> str:
    """DuckDB twin of ivf_topk: literal deterministic centroids, argmax
    cell assignment, n_probe best cells per query, truncated inverted
    lists, exact cosine top-k — every stage recomputed exactly."""
    from fundus_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(dim, n_centroids, seed)
    cent_rows = ",\n".join(
        f"({i}, [{', '.join(repr(w) for w in c)}]::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
WITH cents(i, w) AS (VALUES {cent_rows}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
    SELECT vec_id, i, list_dot_product(e, w) AS s FROM v CROSS JOIN cents
),
ranked AS (
    SELECT vec_id, i,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rnk
    FROM scored
),
assigned AS (SELECT vec_id, i AS cell FROM ranked WHERE rnk = 1),
inv AS (
    SELECT vec_id AS cand_id, cell,
           row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
    FROM assigned
),
probes AS (SELECT vec_id AS query_id, i AS cell FROM ranked WHERE rnk <= {n_probe}),
cand_pairs AS (
    SELECT DISTINCT query_id, cand_id
    FROM probes JOIN inv USING (cell)
    WHERE query_id != cand_id AND rn <= {cap}
),
cos_scored AS (
    SELECT query_id, cand_id,
           list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos
    FROM cand_pairs JOIN v q ON query_id = q.vec_id JOIN v c ON cand_id = c.vec_id
)
SELECT query_id, rank, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
    FROM cos_scored
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import token_count

    return token_count(_read(spark, sf_dir, "documents"))


_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text,
            '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9'']+|\s+'))
           AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
"""


def _q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization (Sennrich et al. 2016): train 24 merges on
    the documents table (pair-count iterations over the word-frequency
    relation, deterministic (count desc, pair asc) arg-max), then count
    per-doc tokens by applying the merge chain to the distinct-word
    vocabulary and joining back. The oracle unrolls the same 24
    training iterations as chained MATERIALIZED CTEs with the identical
    literal-replace symbol-string encoding (operators/bpe.py docstring),
    so the learned merges — not just the counts — agree exactly."""
    from fundus_spark.operators import bpe_token_count

    return bpe_token_count(_read(spark, sf_dir, "documents"), n_merges=24)


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE model itself — (rank, left, right, pair_count) — gated
    directly so a training divergence is attributable to the exact
    first differing merge, not just downstream counts."""
    from fundus_spark.operators import bpe_train

    return bpe_train(_read(spark, sf_dir, "documents"), n_merges=24)


def _bpe_training_ctes(n_merges: int) -> str:
    """The shared unrolled-training CTE chain: w0 (word-freq + spaced
    symbol string) and, per iteration i, p{i} (weighted adjacent-pair
    counts), m{i} (deterministic arg-max merge), w{i} (literal-replace
    application). MATERIALIZED keeps the chain linear — an inlined CTE
    referenced twice per iteration would expand exponentially."""
    parts = [
        r"""
w0 AS MATERIALIZED (
    SELECT word, cnt,
           chr(31) || array_to_string(list_append(regexp_extract_all(word, '.'), chr(23)), chr(31)||chr(31)) || chr(31) AS s
    FROM (
        SELECT w AS word, count(*) AS cnt
        FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
        WHERE len(w) > 0 AND NOT contains(w, chr(31)) AND NOT contains(w, chr(23))
        GROUP BY w
    )
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""
p{i} AS (
    SELECT syms[j] AS l, syms[j+1] AS r, sum(cnt) AS pair_count
    FROM (SELECT cnt, string_split(trim(s, chr(31)), chr(31)||chr(31)) AS syms FROM w{i-1}),
         unnest(range(1, len(syms))) AS t(j)
    GROUP BY l, r
),
m{i} AS MATERIALIZED (SELECT l, r, pair_count FROM p{i} ORDER BY pair_count DESC, l, r LIMIT 1),
w{i} AS MATERIALIZED (
    SELECT word, cnt,
           replace(s, coalesce(chr(31)||m.l||chr(31)||chr(31)||m.r||chr(31), chr(0)),
                      coalesce(chr(31)||m.l||m.r||chr(31), '')) AS s
    FROM w{i-1} LEFT JOIN m{i} m ON TRUE
)"""
        )
    return ",".join(parts)


def _bpe_token_count_sql(n_merges: int = 24) -> str:
    return f"""WITH {_bpe_training_ctes(n_merges)},
vocab AS (SELECT word, CAST((len(s) - len(replace(s, chr(31), ''))) // 2 AS BIGINT) AS n_tokens FROM w{n_merges}),
docw AS (
    SELECT doc_id, w AS word
    FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
    WHERE len(w) > 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM docw JOIN vocab USING (word) GROUP BY doc_id
"""


def _bpe_merges_sql(n_merges: int = 24) -> str:
    rows = " UNION ALL ".join(
        f'SELECT CAST({i-1} AS INT) AS rank, l AS "left", r AS "right", CAST(pair_count AS BIGINT) AS pair_count FROM m{i}'
        for i in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_training_ctes(n_merges)} {rows}"


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: doc count, total/mean/median length.
    Median here is EXACT `percentile` so the DuckDB oracle matches
    bit-for-bit; at 100 TB swap in `approx_percentile` (t-digest,
    map-side combinable) — same query shape, bounded memory."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("mean_chars"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("median_chars"),
        )
    )


_CORPUS_STATS_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 4) AS mean_chars,
       ROUND(quantile_cont(n_chars, 0.5), 4) AS median_chars
FROM documents
GROUP BY source
"""


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters: duplicate-2-gram char fraction and
    top-2-gram char share, via explode -> two map-side-combinable
    aggregations (no within-row O(n^2) HOF scan)."""
    from fundus_spark.operators import repetition_score

    return repetition_score(_read(spark, sf_dir, "documents"), n=2)


_REPETITION_SQL = """
WITH grams AS (
    -- text IS NOT NULL mirrors Spark: explode of a null gram array
    -- emits no row, so null-text docs are absent from the output
    SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM documents WHERE text IS NOT NULL),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS i) t
),
per_gram AS (
    SELECT doc_id, gram, COUNT(*) AS c, LENGTH(gram) AS glen
    FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       CASE WHEN SUM(glen * c) > 0
            THEN ROUND(SUM(glen * (c - 1)) / SUM(glen * c), 4) ELSE 0.0 END AS dup_gram_frac,
       CASE WHEN SUM(glen * c) > 0
            THEN ROUND(MAX(glen * c) / SUM(glen * c), 4) ELSE 0.0 END AS top_gram_frac
FROM per_gram GROUP BY doc_id
"""


def _q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy (bits/char) — low-entropy junk
    detector; bounded lambda-bound within-row array algebra."""
    from fundus_spark.operators import char_entropy

    return char_entropy(_read(spark, sf_dir, "documents"), max_chars=2048)


_CHAR_ENTROPY_SQL = """
WITH base AS (
    SELECT doc_id, substr(trim(text), 1, 2048) AS s
    FROM documents WHERE text IS NOT NULL
),
chars AS (
    SELECT doc_id, substr(s, i, 1) AS ch
    FROM base, LATERAL (SELECT unnest(generate_series(1, len(s))) AS i) t
    WHERE len(s) > 0
),
freq AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
tot AS (SELECT doc_id, SUM(c) AS n FROM freq GROUP BY doc_id),
e AS (
    SELECT freq.doc_id, -SUM((c / n) * log2(c / n)) AS ent
    FROM freq JOIN tot USING (doc_id) GROUP BY freq.doc_id
)
SELECT doc_id, ROUND(ent, 4) AS entropy_bits FROM e
UNION ALL
SELECT doc_id, 0.0 AS entropy_bits FROM base WHERE len(s) = 0
"""


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per doc with a deterministic (score desc,
    term asc) tiebreak; WindowGroupLimit pushes the rank filter down."""
    from fundus_spark.operators import tfidf_topk

    return tfidf_topk(_read(spark, sf_dir, "documents"), k=3)


_TFIDF_SQL = """
WITH terms AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
docfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, term, ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM tf JOIN docfreq USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
    FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""


def _q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained add-one bigram LM quality score (CCNet-style):
    two count aggregations train the model, one equi-join scores every
    doc by mean bigram log-probability."""
    from fundus_spark.operators import bigram_logprob_score

    return bigram_logprob_score(_read(spark, sf_dir, "documents"))


_BIGRAM_LOGPROB_SQL = """
WITH toks AS (
    SELECT doc_id, i AS pos, toks[i] AS w, len(toks) AS n
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) t
),
inst AS (
    SELECT a.doc_id, a.w AS w1, b.w AS w2
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
v AS (SELECT COUNT(*) AS vocab FROM uni),
bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM inst GROUP BY w1, w2)
SELECT inst.doc_id,
       ROUND(AVG(LN((bi.c2 + 1) / (uni.c1 + v.vocab))), 4) AS avg_logprob
FROM inst
JOIN bi USING (w1, w2)
JOIN uni ON uni.w = inst.w1
CROSS JOIN v
GROUP BY inst.doc_id
"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hygiene pass: inject a closed-form email/IP/phone per doc
    (derived from doc_id, so both engines synthesize identical text),
    scrub with the portable patterns, return clean text + counts."""
    from fundus_spark.operators import pii_scrub

    docs = _read(spark, sf_dir, "documents")
    last4 = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example or +"),
            (F.col("doc_id") * 7 + F.lit(1000000000)).cast("string"),
            F.lit(" / (555) 867-"), last4,
            F.lit(" / 555-867-"), last4,
            F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 :: "), F.col("text"),
        ).alias("text"),
    )
    return pii_scrub(injected)


def _pii_scrub_sql() -> str:
    from fundus_spark.operators.pii import EMAIL_PATTERN, IPV4_PATTERN, PHONE_PATTERN

    e, i, p = EMAIL_PATTERN, IPV4_PATTERN, PHONE_PATTERN
    return f"""
WITH injected AS (
    SELECT doc_id,
           'contact user' || CAST(doc_id AS VARCHAR) || '@mail.example or +'
           || CAST(doc_id * 7 + 1000000000 AS VARCHAR)
           || ' / (555) 867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' / 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' at 10.0.'
           || CAST(doc_id % 256 AS VARCHAR) || '.1 :: ' || text AS text
    FROM documents
)
SELECT doc_id,
       regexp_replace(after_ip, '{p}', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(after_email, '{i}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(after_ip, '{p}')) AS BIGINT) AS n_phones
FROM (
    SELECT doc_id, text,
           regexp_replace(text, '{e}', '<EMAIL>', 'g') AS after_email,
           regexp_replace(regexp_replace(text, '{e}', '<EMAIL>', 'g'), '{i}', '<IP>', 'g') AS after_ip
    FROM injected
) staged
"""


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import quality_score

    return quality_score(_read(spark, sf_dir, "documents"))


_EN_LIST_SQL = "('the','a','of','and','to','in','is','it','that','was')"
_DE_LIST_SQL = "('der','die','das','und','ist','ein','zu','den','von','mit')"
_ES_LIST_SQL = "('el','la','de','que','y','en','un','es','se','no')"

_QUALITY_SQL = f"""
WITH base AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\\s+') AS toks,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS punct
    FROM documents
),
scored AS (
    SELECT doc_id, len(toks) AS n_tokens, n_chars, punct,
           len(list_filter(toks, x -> x IN {_EN_LIST_SQL})) AS stop_hits
    FROM base
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(n_chars / n_tokens, 4) AS mean_token_len,
       round(punct / n_chars, 4) AS punct_ratio,
       round(stop_hits / n_tokens, 4) AS stopword_ratio,
       (n_tokens >= 10 AND n_chars / n_tokens <= 12.0 AND stop_hits / n_tokens >= 0.01) AS passes_quality
FROM scored
"""


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import language_id

    return language_id(_read(spark, sf_dir, "documents"))


def _language_id_sql() -> str:
    """DuckDB twin of language_id, generated from the SAME profile
    list the Spark operator compiles — codes, word sets, and the
    earlier-profile tie-break recompute exactly."""
    from fundus_spark.operators.textstats import LANG_PROFILES

    def lst(words):
        return "(" + ",".join(f"'{w}'" for w in words) + ")"

    hit_exprs = ",\n           ".join(
        f"len(list_filter(list_transform(string_split_regex(trim(text), '\\s+'), x -> lower(x)),"
        f" x -> x IN {lst(words)})) AS {code}_hits"
        for code, words in LANG_PROFILES
    )
    all_hits = ", ".join(f"{code}_hits" for code, _ in LANG_PROFILES)
    whens = "\n            ".join(
        f"WHEN {code}_hits = greatest({all_hits}) THEN '{code}'" for code, _ in LANG_PROFILES
    )
    diag = ", ".join(f"CAST({code}_hits AS BIGINT) AS {code}_hits" for code, _ in LANG_PROFILES[:3])
    return f"""
WITH hits AS (
    SELECT doc_id,
           {hit_exprs}
    FROM documents
)
SELECT doc_id,
       CASE WHEN greatest({all_hits}) = 0 THEN 'und'
            {whens}
            ELSE 'und' END AS lang_pred,
       {diag}
FROM hits
"""


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import fingerprint

    return fingerprint(_read(spark, sf_dir, "documents"))


_FINGERPRINT_SQL = """
SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM documents
"""


# ---------------------------------------------------------------------------
# multimodal plumbing (binary columns; deterministic fake decode)
# ---------------------------------------------------------------------------


def _q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import winnowing_fingerprints

    return winnowing_fingerprints(_read(spark, sf_dir, "documents"), k=8, window=4, max_chars=512)


#: the mixture recipe for the domain_mix extra query: upsample src0/src1
#: (rates ~2.1 / ~1.6 at the fixture token counts), downsample src2
_MIX_PROPS = {"src0": 0.5, "src1": 0.4, "src2": 0.1}
_MIX_TOKENS = 6000


def _q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget domain mixture (LLaMA-style): per-domain rates from
    target proportions over the actual domain token counts; whole
    epochs replicate, the fractional epoch keeps a deterministic
    hash-bucket subset per (salt, epoch, id)."""
    from fundus_spark.operators import domain_mix

    docs = _read(spark, sf_dir, "documents")
    return domain_mix(docs, _MIX_PROPS, total_tokens=_MIX_TOKENS).select(
        "doc_id", "source", "epoch"
    )


def _domain_mix_sql() -> str:
    case = " ".join(f"WHEN '{d}' THEN {p}" for d, p in sorted(_MIX_PROPS.items()))
    srcs = ", ".join(f"'{d}'" for d in sorted(_MIX_PROPS))
    return f"""
WITH pool AS (
    SELECT doc_id, source, len(string_split_regex(trim(text), '\\s+')) AS ntok
    FROM documents WHERE source IN ({srcs})
),
tot AS (SELECT source, CAST(SUM(ntok) AS DOUBLE) AS dt FROM pool GROUP BY source),
rated AS (
    SELECT p.doc_id, p.source,
           (CASE p.source {case} END) * {float(_MIX_TOKENS)} / t.dt AS r
    FROM pool p JOIN tot t USING (source)
),
ex AS (
    SELECT doc_id, source, r,
           unnest(generate_series(0, CAST(FLOOR(r) AS BIGINT))) AS epoch
    FROM rated
)
SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
FROM ex
WHERE epoch < FLOOR(r)
   OR (epoch = FLOOR(r)
       AND CAST('0x' || substr(md5('mix' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           < CAST(TRUNC(4294967296.0 * (r - FLOOR(r))) AS BIGINT))
"""


# --- trained quality classifier (round 7) --------------------------------
#: hashed-BoW dimensionality, GD iterations, learning rate (exactly
#: representable so the cross-engine update chain stays bit-identical),
#: feature-hash salt, and the 50% md5 train sample (salt 'qct')
_QC_FEATURES = 128
_QC_ITER = 32
_QC_LR = 0.0625
_QC_SALT = "qcls"
_QC_TRAIN_SALT = "qct"
_QC_TRAIN_THR = 2**31  # hash_bucket < 2^31 of 2^32 -> 50% sample
#: the planted label: does the doc contain the token 'spark'
_QC_LABEL_TOKEN = "spark"


def _qc_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.withColumn(
        "y",
        F.array_contains(
            F.split(F.trim(F.col("text")), r"\s+"), _QC_LABEL_TOKEN
        ).cast("int"),
    )


def _qc_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import quality_classifier_fit
    from fundus_spark.operators.sampling import hash_bucket

    labeled = _qc_labeled(spark, sf_dir)
    train = labeled.where(
        hash_bucket(F.col("doc_id"), _QC_TRAIN_SALT) < F.lit(_QC_TRAIN_THR)
    )
    return quality_classifier_fit(
        train, label_col="y", n_features=_QC_FEATURES, n_iter=_QC_ITER,
        lr=_QC_LR, salt=_QC_SALT,
    )


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained linear quality filter (the GPT-3/LLaMA classifier
    family): fit on a deterministic 50% hash-sample against a planted
    token label, score EVERY doc. Training is engine-exact fixed-point
    full-batch GD (see operators/classifier.py) so the DuckDB oracle
    replays the identical model from an unrolled-CTE loop; scoring is
    a narrow literal-weights projection — no join, no shuffle
    proportional to the corpus."""
    from fundus_spark.operators import quality_classifier_score

    model = _qc_model(spark, sf_dir)
    return quality_classifier_score(
        _qc_labeled(spark, sf_dir), model, salt=_QC_SALT
    )


def _q_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned model table itself — gated so a training divergence
    pins the exact first differing weight (same rationale as
    bpe_merges / kmeans_centroids)."""
    return _qc_model(spark, sf_dir).select("j", "w_q")


def _qc_sql_prefix() -> str:
    """Shared CTE chain: features, train subset, exact integer
    sufficient statistics (Gram = XᵀX, moment = Xᵀy), then the GD
    loop unrolled over the TINY gram relation — one corpus pass, like
    the Spark side. Every CTE is MATERIALIZED — w{t} is referenced
    twice per iteration, so un-materialized inlining would
    re-evaluate the whole chain 2^n_iter times (same lesson as the
    BPE oracle)."""
    bucket = "CAST('0x' || substr(md5({g}), 1, 8) AS BIGINT)"
    iters = []
    for t in range(_QC_ITER):
        iters.append(f"""
a{t} AS MATERIALIZED (
    SELECT g.ja AS j, SUM(g.v * w.w_q) AS gw
    FROM gram g JOIN w{t} w ON w.j = g.jb GROUP BY g.ja
),
w{t + 1} AS MATERIALIZED (
    SELECT w.j,
           CAST(floor((CAST(w.w_q AS DOUBLE) / 10000.0
                       - {_QC_LR} * (CAST(COALESCE(a.gw, 0) - 100000000 * COALESCE(m.v, 0) AS DOUBLE)
                                     / (1000000000000.0 * (SELECT n FROM ntrain)))) * 10000.0 + 0.5) AS BIGINT) AS w_q
    FROM w{t} w LEFT JOIN a{t} a ON a.j = w.j LEFT JOIN mom m ON m.j = w.j
),""")
    tok_bucket = bucket.format(g=f"'{_QC_SALT}' || tok")
    train_bucket = bucket.format(g=f"'{_QC_TRAIN_SALT}' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH lab AS MATERIALIZED (
    SELECT doc_id, text,
           CAST(list_contains(string_split_regex(trim(text), '\\s+'), '{_QC_LABEL_TOKEN}') AS BIGINT) AS y
    FROM documents
),
tok AS MATERIALIZED (
    -- zero-length tokens dropped (empty docs must featurize bias-only)
    SELECT * FROM (
        SELECT doc_id, y, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM lab
    ) WHERE length(tok) > 0
),
af AS MATERIALIZED (
    -- binary presence features: one row per distinct (doc, bucket),
    -- x_q = X_SCALE, plus the bias feature j = n_features
    SELECT DISTINCT doc_id, y, {tok_bucket} % {_QC_FEATURES} AS j, CAST(10000 AS BIGINT) AS x_q
    FROM tok
    UNION ALL
    SELECT doc_id, y, {_QC_FEATURES} AS j, 10000 AS x_q FROM lab
),
tf AS MATERIALIZED (
    SELECT * FROM af WHERE {train_bucket} < {_QC_TRAIN_THR}
),
ntrain AS MATERIALIZED (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
gram AS MATERIALIZED (
    SELECT a.j AS ja, b.j AS jb, SUM(a.x_q * b.x_q) AS v
    FROM tf a JOIN tf b USING (doc_id) GROUP BY a.j, b.j
),
mom AS MATERIALIZED (SELECT j, SUM(y * x_q) AS v FROM tf GROUP BY j),
w0 AS MATERIALIZED (SELECT CAST(r AS BIGINT) AS j, CAST(0 AS BIGINT) AS w_q FROM range(0, {_QC_FEATURES + 1}) t(r)),
{''.join(iters)}
final AS MATERIALIZED (SELECT j, w_q FROM w{_QC_ITER})
"""


def _quality_classifier_sql() -> str:
    return _qc_sql_prefix() + """
SELECT f.doc_id,
       CAST(SUM(w.w_q * f.x_q) AS DOUBLE) / 100000000.0 AS score,
       SUM(w.w_q * f.x_q) * 2 >= 100000000 AS predicted
FROM af f JOIN final w ON w.j = f.j
GROUP BY f.doc_id
"""


def _classifier_weights_sql() -> str:
    return _qc_sql_prefix() + """
SELECT CAST(j AS INTEGER) AS j, w_q FROM final
"""


# --- mojibake repair (round 7) -------------------------------------------
#: multi-script suffix appended before corruption so the fixture
#: exercises 2-, 3- and 4-byte sequences plus CP1252 punctuation
_MOJI_SUFFIX = " café — don’t 🎉"
_MOJI_CP_CHARS = "€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ"
_MOJI_CP_BYTES = "".join(
    chr(b)
    for b in (
        0x80, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x8B,
        0x8C, 0x8E, 0x91, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99,
        0x9A, 0x9B, 0x9C, 0x9E, 0x9F,
    )
)
_MOJI_UTF8_RE = (
    "(?:[\\x{00}-\\x{7f}]"
    "|[\\x{c2}-\\x{df}][\\x{80}-\\x{bf}]"
    "|\\x{e0}[\\x{a0}-\\x{bf}][\\x{80}-\\x{bf}]"
    "|[\\x{e1}-\\x{ec}][\\x{80}-\\x{bf}]{2}"
    "|\\x{ed}[\\x{80}-\\x{9f}][\\x{80}-\\x{bf}]"
    "|[\\x{ee}-\\x{ef}][\\x{80}-\\x{bf}]{2}"
    "|\\x{f0}[\\x{90}-\\x{bf}][\\x{80}-\\x{bf}]{2}"
    "|[\\x{f1}-\\x{f3}][\\x{80}-\\x{bf}]{3}"
    "|\\x{f4}[\\x{80}-\\x{8f}][\\x{80}-\\x{bf}]{3})*"
)


def _q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-core mojibake repair over a deterministically corrupted
    corpus: every doc gains a multi-script suffix, is re-read through
    Latin-1 (make_mojibake — the corruption crawls actually contain),
    then repaired. The oracle rebuilds both the corruption (utf8
    bytes -> chr per byte) and the repair (translate fold + strict
    UTF-8 validator + code-point -> hex -> blob -> utf8 decode) in
    raw SQL, so the whole transform is value-gated end to end."""
    from fundus_spark.operators import fix_mojibake, make_mojibake

    docs = _read(spark, sf_dir, "documents")
    corrupted = docs.withColumn(
        "text", make_mojibake(F.concat(F.col("text"), F.lit(_MOJI_SUFFIX)))
    )
    return fix_mojibake(corrupted)


def _fix_mojibake_sql() -> str:
    return f"""
WITH src AS (
    SELECT doc_id, text || '{_MOJI_SUFFIX}' AS orig FROM documents
),
mo AS (
    SELECT doc_id,
           array_to_string(list_transform(range(1, octet_length(encode(orig)) + 1),
               i -> chr(CAST('0x' || substr(hex(encode(orig)), 2*i - 1, 2) AS INT))), '') AS text
    FROM src
),
fold AS (
    SELECT doc_id, text,
           translate(text, '{_MOJI_CP_CHARS}', '{_MOJI_CP_BYTES}') AS t1
    FROM mo
),
gated AS (
    SELECT doc_id, text, t1,
           regexp_full_match(t1, '{_MOJI_UTF8_RE}')
               AND regexp_matches(t1, '[\\x{{c2}}-\\x{{f4}}]') AS g
    FROM fold
)
SELECT doc_id,
       CASE WHEN g THEN decode(from_hex(array_to_string(
                list_transform(range(1, length(t1) + 1),
                    i -> format('{{:02x}}', unicode(t1[i]))), '')))
            ELSE text END AS fixed_text,
       coalesce(g, false) AS was_fixed
FROM gated
"""


#: sources whose documents play the DSIR "target" corpus; the rest of
#: the documents table is the raw pool being selected from
_DSIR_TARGET_SOURCES = ("src0", "src1")
_DSIR_BUCKETS = 4096
_DSIR_K = 50


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR pretraining-data selection (Xie et al. 2023): hashed-ngram
    importance weights of the raw pool vs a small target corpus,
    Gumbel-top-k resample. Deterministic end-to-end: md5 feature
    hashing + md5-derived Gumbel draws, so DuckDB replays the exact
    selection."""
    from fundus_spark.operators import dsir_select

    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin(*_DSIR_TARGET_SOURCES))
    raw = docs.where(~F.col("source").isin(*_DSIR_TARGET_SOURCES))
    return dsir_select(raw, target, k=_DSIR_K, n_buckets=_DSIR_BUCKETS)


def _dsir_sql(n_buckets: int = _DSIR_BUCKETS, k: int = _DSIR_K, alpha: float = 0.5) -> str:
    srcs = ", ".join(f"'{s}'" for s in _DSIR_TARGET_SOURCES)
    bucket = "CAST('0x' || substr(md5({g}), 1, 8) AS BIGINT) % " + str(n_buckets)
    return f"""
WITH raw AS (SELECT doc_id, text FROM documents WHERE source NOT IN ({srcs})),
tgt AS (SELECT doc_id, text FROM documents WHERE source IN ({srcs})),
rtok AS (
    SELECT doc_id, i AS pos, toks[i] AS w
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM raw),
         LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) t
),
ttok AS (
    SELECT doc_id, i AS pos, toks[i] AS w
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM tgt),
         LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) t
),
rinst AS (
    SELECT doc_id, {bucket.format(g='w')} AS feature FROM rtok
    UNION ALL
    SELECT a.doc_id, {bucket.format(g="a.w || ' ' || b.w")} AS feature
    FROM rtok a JOIN rtok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
tinst AS (
    SELECT doc_id, {bucket.format(g='w')} AS feature FROM ttok
    UNION ALL
    SELECT a.doc_id, {bucket.format(g="a.w || ' ' || b.w")} AS feature
    FROM ttok a JOIN ttok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
rc AS (SELECT feature, COUNT(*) AS cr FROM rinst GROUP BY feature),
tc AS (SELECT feature, COUNT(*) AS ct FROM tinst GROUP BY feature),
nr AS (SELECT COUNT(*) AS n FROM rinst),
nt AS (SELECT COUNT(*) AS n FROM tinst),
ratio AS (
    SELECT rc.feature,
           LN((COALESCE(tc.ct, 0) + {alpha}) / (nt.n + {alpha} * {n_buckets}))
         - LN((rc.cr + {alpha}) / (nr.n + {alpha} * {n_buckets})) AS log_ratio
    FROM rc LEFT JOIN tc USING (feature) CROSS JOIN nr CROSS JOIN nt
),
w AS (
    SELECT rinst.doc_id, ROUND(SUM(ratio.log_ratio), 6) AS log_weight
    FROM rinst JOIN ratio USING (feature)
    GROUP BY rinst.doc_id
)
SELECT doc_id, log_weight,
       ROUND(log_weight + -LN(-LN(
           (CAST('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
           / 4294967296.0)), 6) AS score
FROM w
ORDER BY score DESC, doc_id
LIMIT {k}
"""


def _winnowing_sql(k: int = 8, window: int = 4, max_chars: int = 512) -> str:
    return f"""
WITH base AS (
    SELECT doc_id, substr(trim(regexp_replace(text, '\\s+', ' ', 'g')), 1, {max_chars}) AS t
    FROM documents
),
g AS (SELECT doc_id, t, greatest(length(t) - {k - 1}, 0) AS n FROM base),
hashes AS (
    SELECT doc_id, n,
           list_transform(range(1, greatest(n, 1) + 1),
                          i -> CAST('0x' || substr(md5(substr(t, i::INT, {k})), 1, 8) AS BIGINT)) AS hs
    FROM g
),
minima AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(n - {window - 1}, 1) + 1),
                                        j -> list_min(hs[j::INT : (j + least({window}, n) - 1)::INT]))) AS fps
    FROM hashes
)
SELECT doc_id, fp FROM (SELECT doc_id, unnest(fps) AS fp FROM minima)
WHERE fp IS NOT NULL
"""


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import media_features

    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )
    return media_features(media).select(
        "media_id", "kind", "n_bytes", "content_digest", "format", "width", "height", "decoded"
    )


# decoded is FALSE (and format/width/height NULL) for every row: the
# payloads here are raw UTF-8 document text, which by construction
# never carries a container magic (BM / RIFF / GIF8 / \x89PNG /
# \xff\xd8 — verified over the fixtures); the operator's round-6
# contract is honest NULLs for unrecognized containers, never a
# fabricated fake dimension.
_MEDIA_FEATURES_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(length(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_digest,
       CAST(NULL AS VARCHAR) AS format,
       CAST(NULL AS INTEGER) AS width,
       CAST(NULL AS INTEGER) AS height,
       FALSE AS decoded
FROM documents
"""


def _q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL header decode: synthesize valid BMP/PNG/WAV payloads whose
    metadata is closed-form in doc_id (sources/media_gen.py), run them
    through the media_features operator, and check the parsed
    width/height/duration against the construction formulas."""
    from fundus_spark.operators import media_features
    from fundus_spark.sources.media_gen import documents_as_media

    docs = _read(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return media_features(media).select(
        "media_id", "kind", "format", "width", "height", "duration_ms", "decoded"
    )


_MEDIA_DECODE_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 < 2 THEN 'image'
            WHEN doc_id % 6 = 5 OR doc_id % 24 = 14 THEN 'video'
            ELSE 'audio' END AS kind,
       CASE WHEN doc_id % 6 = 3 THEN 'gif'
            WHEN doc_id % 3 = 0 THEN 'bmp'
            WHEN doc_id % 6 = 4 THEN 'jpeg'
            WHEN doc_id % 3 = 1 THEN 'png'
            WHEN doc_id % 6 = 5 THEN 'avi'
            WHEN doc_id % 12 = 8 THEN 'mp3'
            WHEN doc_id % 24 = 14 THEN 'mp4'
            ELSE 'wav' END AS format,
       -- mp4 (round 6): width/height come from the avcC H.264 SPS via
       -- the from-scratch Exp-Golomb parse — High-monochrome 1x1 crop
       -- units make odd dimensions exactly expressible
       CASE WHEN doc_id % 3 < 2 OR doc_id % 6 = 5 OR doc_id % 24 = 14 THEN CAST(1 + doc_id % 64 AS INTEGER) END AS width,
       CASE WHEN doc_id % 3 < 2 OR doc_id % 6 = 5 OR doc_id % 24 = 14 THEN CAST(1 + doc_id % 48 AS INTEGER) END AS height,
       -- mp3 (round 6): duration from the frame-header walk, exact by
       -- construction — (3 + doc_id%5) frames of 1152 samples @ 32 kHz
       -- (36 ms) for MPEG-1, 576 @ 24 kHz (24 ms) for the MPEG-2 twin;
       -- mp4: mvhd movie duration, (3 + doc_id%5) frames @ 40 ms
       CASE WHEN doc_id % 6 = 5 OR doc_id % 24 = 14 THEN CAST((3 + doc_id % 5) * 40 AS BIGINT)
            WHEN doc_id % 12 = 8 THEN CAST((3 + doc_id % 5) * (CASE WHEN doc_id % 24 = 8 THEN 36 ELSE 24 END) AS BIGINT)
            WHEN doc_id % 3 = 2 THEN CAST(125 + (doc_id % 5) * 50 AS BIGINT) END AS duration_ms,
       TRUE AS decoded
FROM documents
"""


# ---------------------------------------------------------------------------
# PDF extraction (from-scratch content-stream parser; north_rule
# "PDF/layout parse")
# ---------------------------------------------------------------------------


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import media_resize
    from fundus_spark.sources.media_gen import documents_as_media

    media = documents_as_media(_read(spark, sf_dir, "documents"))
    return media_resize(media, max_w=32, max_h=32)


_MEDIA_RESIZE_SQL = """
WITH img AS (
    SELECT doc_id,
           CAST(1 + doc_id % 64 AS INTEGER) AS w,
           CAST(1 + doc_id % 48 AS INTEGER) AS h
    FROM documents WHERE doc_id % 3 < 2
),
geo AS (
    SELECT doc_id, w, h,
           CAST(greatest(1, floor(w * least(32.0 / w, 32.0 / h, 1.0))) AS INTEGER) AS ow,
           CAST(greatest(1, floor(h * least(32.0 / w, 32.0 / h, 1.0))) AS INTEGER) AS oh
    FROM img
),
-- REAL-pixel verification: the operator decodes the payload and
-- nearest-neighbor-samples it; the oracle replays the builders'
-- closed-form pixel value over the SAME floor sampling grid
-- out[oy][ox] = src[oy*h//oh][ox*w//ow]. BMP/PNG/GIF pixels carry
-- (doc_id + 3x + 7y) mod 256; JPEG (doc_id % 6 = 4) carries the
-- BLOCK-constant (doc_id + 3*(x//8) + 7*(y//8)) mod 256 — constant
-- 8x8 blocks round-trip the lossy DCT path bit-exactly, which is
-- what lets a lossy codec sit under an exact-value oracle at all.
px AS (
    SELECT geo.doc_id, geo.w, geo.h, geo.ow, geo.oh,
           CASE WHEN geo.doc_id % 6 = 4
                THEN (geo.doc_id + 3 * (((ox.x * geo.w) // geo.ow) // 8) + 7 * (((oy.y * geo.h) // geo.oh) // 8)) % 256
                ELSE (geo.doc_id + 3 * ((ox.x * geo.w) // geo.ow) + 7 * ((oy.y * geo.h) // geo.oh)) % 256
           END AS v
    FROM geo,
         LATERAL (SELECT unnest(generate_series(0, geo.ow - 1)) AS x) ox,
         LATERAL (SELECT unnest(generate_series(0, geo.oh - 1)) AS y) oy
)
SELECT doc_id AS media_id, 'image' AS kind, w AS width, h AS height,
       ow AS out_width, oh AS out_height,
       CAST(SUM(v) AS BIGINT) AS sum_luma,
       CAST(MIN(doc_id % 256) AS INTEGER) AS corner_luma,
       CAST(MIN(CASE WHEN doc_id % 6 = 4
                     THEN (doc_id + 3 * ((((ow - 1) * w) // ow) // 8) + 7 * ((((oh - 1) * h) // oh) // 8)) % 256
                     ELSE (doc_id + 3 * (((ow - 1) * w) // ow) + 7 * (((oh - 1) * h) // oh)) % 256
                END) AS INTEGER) AS last_luma
FROM px
GROUP BY doc_id, w, h, ow, oh
"""


def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import media_frame_sample
    from fundus_spark.sources.media_gen import documents_as_media

    media = documents_as_media(_read(spark, sf_dir, "documents"))
    return media_frame_sample(media, every_ms=50)


_MEDIA_FRAMES_SQL = """
-- sample_value is REAL decoded content at each schedule point:
-- audio -> the PCM16 sample at index t_ms * 8000/1000 = t_ms * 8,
-- replayed as ((doc_id*31 + i*17) mod 2^16) - 2^15;
-- video -> the summed luma of the uncompressed-DIB frame covering
-- t_ms (frame fi = t_ms // 40), replayed as
-- SUM over (x, y) of (doc_id + 11*fi + 3x + 7y) mod 256
WITH avi AS (
    SELECT doc_id,
           CAST(1 + doc_id % 64 AS INTEGER) AS w,
           CAST(1 + doc_id % 48 AS INTEGER) AS h,
           3 + doc_id % 5 AS nf
    FROM documents WHERE doc_id % 6 = 5
),
avi_pts AS (
    SELECT doc_id, w, h, i, (i * 50) // 40 AS fi
    FROM avi, LATERAL (SELECT unnest(generate_series(0, (4 * nf + 4) // 5 - 1)) AS i) t
),
avi_vals AS (
    SELECT doc_id, i,
           CAST(SUM((doc_id + 11 * fi + 3 * xx.x + 7 * yy.y) % 256) AS BIGINT) AS v
    FROM avi_pts,
         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xx,
         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) yy
    GROUP BY doc_id, i
)
SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * 50 AS BIGINT) AS t_ms,
       v AS sample_value
FROM avi_vals
UNION ALL
SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * 50 AS BIGINT) AS t_ms,
       CAST(((doc_id * 31 + (i * 50 * 8) * 17) % 65536) - 32768 AS BIGINT) AS sample_value
FROM documents, LATERAL (SELECT unnest(generate_series(0, 2 + doc_id % 5)) AS i) t
WHERE doc_id % 3 = 2 AND doc_id % 6 <> 5 AND doc_id % 12 <> 8 AND doc_id % 24 <> 14
UNION ALL
-- mp4 (round 6): like mp3, the 50 ms schedule is REAL (duration from
-- the mvhd walk: nf frames * 40 ms) but the sample VALUE is honestly
-- NULL — H.264 slice decode is codec-library-bound
SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * 50 AS BIGINT) AS t_ms,
       CAST(NULL AS BIGINT) AS sample_value
FROM documents, LATERAL (SELECT unnest(generate_series(0, (40 * (3 + doc_id % 5) + 49) // 50 - 1)) AS i) t
WHERE doc_id % 24 = 14
UNION ALL
-- mp3 (round 6): the 50 ms schedule is REAL (duration comes from the
-- frame-header walk: nf frames * 36 ms MPEG-1 / 24 ms MPEG-2), but the
-- sample VALUE is honestly NULL — Layer III audio decode is
-- codec-library-bound. points = ceil(duration / 50)
SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * 50 AS BIGINT) AS t_ms,
       CAST(NULL AS BIGINT) AS sample_value
FROM (
    SELECT doc_id,
           (3 + doc_id % 5) * (CASE WHEN doc_id % 24 = 8 THEN 36 ELSE 24 END) AS dur
    FROM documents WHERE doc_id % 12 = 8
), LATERAL (SELECT unnest(generate_series(0, (dur + 49) // 50 - 1)) AS i) t
"""


def _q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots gate (reference scraping/html.py:163-167 over stored
    payloads): synthetic per-source robots.txt + URL frontier, both
    closed-form in doc_id/source, evaluated under RFC 9309 semantics
    (kernel/robots.py) — prefix rules, a longest-match allow override,
    a wildcard+anchor *.pdf$ rule, and per-source crawl-delay."""
    from fundus_spark.operators import robots_gate

    docs = _read(spark, sf_dir, "documents")
    path = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("/doc"), F.col("doc_id")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("/private/doc"), F.col("doc_id")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("/private/ok/doc"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/files/doc"), F.col("doc_id"), F.lit(".pdf")))
    )
    urls = docs.select(
        F.col("doc_id").alias("url_id"),
        "source",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example"), path).alias("url"),
    )
    robots = docs.select("source").distinct().select(
        "source",
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok\nDisallow: /*.pdf$\nCrawl-delay: "),
            (F.length("source") % 5 + 1).cast("string"),
            F.lit("\n"),
        ).alias("robots_txt"),
    )
    return robots_gate(urls, robots, user_agent="FundusBot").select(
        "url_id", "source", "url", "allowed", "crawl_delay"
    )


_ROBOTS_GATE_SQL = """
SELECT doc_id AS url_id, source,
       'https://' || source || '.example' ||
       CASE doc_id % 4
            WHEN 0 THEN '/doc' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
            WHEN 2 THEN '/private/ok/doc' || CAST(doc_id AS VARCHAR)
            ELSE '/files/doc' || CAST(doc_id AS VARCHAR) || '.pdf' END AS url,
       CASE doc_id % 4 WHEN 1 THEN false WHEN 3 THEN false ELSE true END AS allowed,
       CAST(length(source) % 5 + 1 AS DOUBLE) AS crawl_delay
FROM documents
"""


def _q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-NEWS-shaped WARC source (reference scraping/html.py:268-317)
    over stored bytes: each source's documents are packed into a real
    multi-member .warc.gz (sources/warc_gen.py) and exploded back into
    response records by the from-scratch reader (kernel/warc.py)."""
    from fundus_spark.operators import warc_extract
    from fundus_spark.sources.warc_gen import documents_as_warcs

    warcs = documents_as_warcs(_read(spark, sf_dir, "documents"))
    return warc_extract(warcs)


_WARC_EXTRACT_SQL = """
SELECT source,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS record_idx,
       'https://' || source || '.example/article/' || CAST(doc_id AS VARCHAR) AS url,
       strftime(DATE '2024-01-01' + INTERVAL (doc_id % 365) DAY, '%Y-%m-%d') || 'T00:00:00Z' AS warc_date,
       text AS html
FROM documents
"""


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the WARC loop (round 5): response records ->
    warc_reshard into fresh multi-member .warc.gz shards (deterministic
    md5 URL bucketing, URL-sorted members) -> read back through the
    same from-scratch reader. The oracle replays the shard assignment
    and per-shard ordering in closed form, so a value mismatch means
    the writer and reader disagree about bytes — the round-trip gate a
    pipeline that re-shards CC-NEWS-scale archives needs."""
    from fundus_spark.operators import warc_extract, warc_reshard
    from fundus_spark.sources.warc_gen import documents_as_warcs

    records = warc_extract(documents_as_warcs(_read(spark, sf_dir, "documents")))
    shards = warc_reshard(records, n_shards=8)
    return warc_extract(
        shards.select(F.col("shard_id").cast("string").alias("source"), "payload")
    ).select(
        F.col("source").cast("int").alias("shard_id"), "record_idx", "url", "warc_date", "html"
    )


_WARC_ROUNDTRIP_SQL = """
WITH rec AS (
    SELECT 'https://' || source || '.example/article/' || CAST(doc_id AS VARCHAR) AS url,
           strftime(DATE '2024-01-01' + INTERVAL (doc_id % 365) DAY, '%Y-%m-%d') || 'T00:00:00Z' AS warc_date,
           text AS html
    FROM documents
),
sharded AS (
    SELECT CAST(CAST(('0x' || substr(md5(url), 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard_id,
           url, warc_date, html
    FROM rec
)
SELECT shard_id,
       -- full (url, date, body) tie-break mirrors warc_reshard's stable
       -- sort: URL alone is not a total order (re-fetches repeat a URL)
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY url, warc_date, html) - 1 AS INTEGER) AS record_idx,
       url, warc_date, html
FROM sharded
"""


def _q_warc_to_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL CC-NEWS pipeline as one Spark plan:
    .warc.gz bytes -> response records -> HTML -> extracted articles
    (crawler.py CCNewsCrawler end-to-end). WARC bodies carry the
    synthetic generic-rule articles, so the chained result shares
    extract_documents' closed-form oracle."""
    from fundus_spark.operators import warc_extract
    from fundus_spark.plans import extract_articles
    from fundus_spark.sources.warc_gen import documents_as_warcs

    warcs = documents_as_warcs(_read(spark, sf_dir, "documents"), wrap_html=True)
    records = warc_extract(warcs)
    transcripts = records.select(
        F.col("source").alias("conv_id"),
        F.col("record_idx").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.col("html").alias("text"),
        F.lit("generic").alias("tool"),
        F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
    )
    extracted = extract_articles(transcripts)
    return extracted.select(
        F.regexp_extract("title", r"^Document (\d+)$", 1).cast("long").alias("doc_id"),
        "title",
        "plaintext",
        F.col("authors")[0].alias("author0"),
        "publishing_date",
        "free_access",
    )


def _q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import pdf_extract_text
    from fundus_spark.sources.pdf_docs import documents_as_pdfs

    docs = _read(spark, sf_dir, "documents")
    pdfs = documents_as_pdfs(docs)
    # n_pdf_bytes depends on zlib output size — lineage only, not
    # oracle-comparable; project it away here.
    return pdf_extract_text(pdfs).select("doc_id", "pdf_text")


_PDF_EXTRACT_SQL = """
SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS pdf_text FROM documents
"""


def _q_language_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language filter over a MIXED-declaration corpus (round-4
    strengthening — the old oracle was trivially all-'en'): each page
    declares one of five languages by doc_id, the extraction stage's
    real html-lang path reads it per document, and the filter keeps
    en/de — so the oracle verifies both the per-doc lang extraction
    and the filter semantics."""
    from fundus_spark.operators import language_filter
    from fundus_spark.plans import extract_articles

    docs = _read(spark, sf_dir, "documents")
    langs = F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("ja"), F.lit("pt"))
    html = F.concat(
        F.lit("<!DOCTYPE html><html lang='"),
        F.element_at(langs, (F.col("doc_id") % 5 + 1).cast("int")),
        F.lit("'><head><title>Document "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><article><p>"),
        F.col("text"),
        F.lit("</p></article></body></html>"),
    )
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        html.alias("text"),
        F.lit("generic").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    extracted = extract_articles(transcripts)
    out = language_filter(extracted, ["en", "de"])
    return out.select(F.col("turn_idx").cast("long").alias("doc_id"), "lang")


_LANGUAGE_FILTER_SQL = """
SELECT doc_id, CASE doc_id % 5 WHEN 0 THEN 'en' ELSE 'de' END AS lang
FROM documents WHERE doc_id % 5 < 2
"""


# ---------------------------------------------------------------------------
# generic boilerplate strip (jusText-style node classifier; north_star
# "tokenize+classify DOM nodes into content/boilerplate")
# ---------------------------------------------------------------------------


def _q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import boilerplate_page, boilerplate_strip

    docs = _read(spark, sf_dir, "documents")
    pages = docs.select("doc_id", boilerplate_page(F.col("doc_id"), F.col("text")).alias("html"))
    # nav, aside (single leaf block), footer -> 3 boilerplate blocks
    return boilerplate_strip(pages).select("doc_id", "main_text", "n_content_blocks", "n_boilerplate_blocks")


_BOILERPLATE_SQL = """
SELECT doc_id,
       trim(regexp_replace(text, '\\s+', ' ', 'g')) AS main_text,
       CAST(1 AS BIGINT) AS n_content_blocks,
       CAST(3 AS BIGINT) AS n_boilerplate_blocks
FROM documents
"""


def _q_c4_page_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic cleaning (Raffel et al. 2020 §2.2) over synthesized
    multi-line pages. Fixture text is single-line and punctuation-free,
    so both engines build the SAME deterministic 5-line page per doc,
    exercising every rule: a long line whose terminal period is dropped
    when doc_id%5==0 (line-keep punctuation rule), a 3-word line (word
    minimum), a quote-terminated line contributing zero sentence
    terminators (doc_id%3==0 -> some docs fail the >=3-sentence
    document rule), a lorem-ipsum plant (doc_id%7==3), and a
    curly-brace code plant (doc_id%11==5, also punct-dropped), and a
    blocklist plant (doc_id%13==7 embeds 'Crapola', mixed-case, in an
    otherwise-kept line — exercises the case-insensitive whole-word
    bad-words rule; 'crap' alone in the %13==9 variant must NOT match,
    pinning the word boundary)."""
    from fundus_spark.operators import c4_page_filter

    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat_ws(
        "\n",
        F.concat(F.col("text"), F.when(did % 5 == 0, F.lit("")).otherwise(F.lit("."))),
        F.lit("too short line."),
        F.when(did % 3 == 0, F.lit('he said this line was truly "quoted"'))
        .otherwise(F.lit("this filler sentence has exactly seven words!")),
        F.when(did % 7 == 3, F.lit("Lorem Ipsum dolor sit amet placeholder text."))
        .otherwise(F.lit("a regular concluding sentence appears right here?")),
        F.when(did % 13 == 7, F.lit("this page mentions Crapola somewhere plainly."))
        .when(did % 13 == 9, F.lit("crapshoot wording appears but not blocked here."))
        .when(did % 11 == 5, F.lit("code block { int x = 1; }"))
        .otherwise(F.lit("final closing words of the page.")),
    )
    pages = docs.select("doc_id", page.alias("page"))
    return c4_page_filter(pages, blocklist=["crapola", "verboten"])


_C4_PAGE_FILTER_SQL = r"""
WITH pages AS (
    SELECT doc_id,
           text || CASE WHEN doc_id % 5 = 0 THEN '' ELSE '.' END || chr(10) ||
           'too short line.' || chr(10) ||
           CASE WHEN doc_id % 3 = 0 THEN 'he said this line was truly "quoted"'
                ELSE 'this filler sentence has exactly seven words!' END || chr(10) ||
           CASE WHEN doc_id % 7 = 3 THEN 'Lorem Ipsum dolor sit amet placeholder text.'
                ELSE 'a regular concluding sentence appears right here?' END || chr(10) ||
           CASE WHEN doc_id % 13 = 7 THEN 'this page mentions Crapola somewhere plainly.'
                WHEN doc_id % 13 = 9 THEN 'crapshoot wording appears but not blocked here.'
                WHEN doc_id % 11 = 5 THEN 'code block { int x = 1; }'
                ELSE 'final closing words of the page.' END AS page
    FROM documents
),
split AS (
    SELECT doc_id, page, string_split(page, chr(10)) AS lines FROM pages
),
kept AS (
    SELECT doc_id, page, lines,
           list_filter(lines, l -> len(string_split_regex(trim(l), '\s+')) >= 5
                               AND regexp_matches(l, '[.!?"]\s*$')) AS kept_lines
    FROM split
),
agg AS (
    SELECT doc_id, page,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept_lines) AS BIGINT) AS n_kept_lines,
           array_to_string(kept_lines, chr(10)) AS kept_text,
           contains(lower(page), 'lorem ipsum') AS has_lorem_ipsum,
           contains(page, '{') AS has_curly_brace,
           regexp_matches(page, '\b(crapola|verboten)\b', 'i') AS has_blocked_word
    FROM kept
)
SELECT doc_id, n_lines, n_kept_lines,
       CAST(len(regexp_extract_all(kept_text, '[.!?]')) AS BIGINT) AS n_sentences,
       has_lorem_ipsum, has_curly_brace, has_blocked_word,
       (len(regexp_extract_all(kept_text, '[.!?]')) >= 3
        AND NOT has_lorem_ipsum AND NOT has_curly_brace
        AND NOT has_blocked_word) AS keep,
       kept_text
FROM agg
"""


_GOPHER_BULLETS = "\n".join(f"• bullet item number {j} here" for j in range(10))


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher rule set (Rae et al. 2021 A1.1) over synthesized
    pages. Fixture text is 10-99 plain words, so the word-count rule
    splits the corpus naturally; each other rule is planted by doc_id
    mod: no extra stopwords (%3==0), 12 hash symbols (%7==2), a
    10-bullet-line prefix (%5==1), an ellipsis-terminated line
    (%11==4), 30 numeric words (%13==6), 60 thirty-char words
    (%17==3)."""
    from fundus_spark.operators import gopher_quality_filter

    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat(
        F.when(did % 5 == 1, F.lit(_GOPHER_BULLETS + "\n")).otherwise(F.lit("")),
        F.col("text"),
        F.when(did % 3 != 0, F.lit(" and that have with")).otherwise(F.lit("")),
        F.when(did % 7 == 2, F.lit(" " + "# " * 12)).otherwise(F.lit("")),
        F.when(did % 13 == 6, F.lit(" " + "12345 " * 30)).otherwise(F.lit("")),
        F.when(did % 17 == 3, F.lit(" " + "pneumonoultramicroscopicsilico " * 60)).otherwise(F.lit("")),
        F.when(did % 11 == 4, F.lit("\nand the story continues...")).otherwise(F.lit("")),
    )
    return gopher_quality_filter(docs.select("doc_id", page.alias("page")))


_GOPHER_QUALITY_SQL = f"""
WITH pages AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 1 THEN '{_GOPHER_BULLETS}' || chr(10) ELSE '' END ||
           text ||
           CASE WHEN doc_id % 3 <> 0 THEN ' and that have with' ELSE '' END ||
           CASE WHEN doc_id % 7 = 2 THEN ' ' || repeat('# ', 12) ELSE '' END ||
           CASE WHEN doc_id % 13 = 6 THEN ' ' || repeat('12345 ', 30) ELSE '' END ||
           CASE WHEN doc_id % 17 = 3 THEN ' ' || repeat('pneumonoultramicroscopicsilico ', 60) ELSE '' END ||
           CASE WHEN doc_id % 11 = 4 THEN chr(10) || 'and the story continues...' ELSE '' END AS page
    FROM documents
),
w AS (
    SELECT doc_id, page,
           string_split_regex(trim(page), '\\s+') AS words,
           string_split(page, chr(10)) AS lines
    FROM pages
),
a AS (
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / len(words) AS mean_wl,
           CAST(len(regexp_extract_all(page, '#|\\.\\.\\.|…')) AS DOUBLE) / len(words) AS sym_ratio,
           CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[•\\-*] '))) AS DOUBLE) / len(lines) AS bullet_frac,
           CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE) / len(lines) AS ellipsis_frac,
           CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(words) AS alpha_frac,
           CAST(list_contains(list_transform(words, x -> lower(x)), 'the') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'be') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'to') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'of') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'and') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'that') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'have') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'with') AS INT) AS stop_hits
    FROM w
)
SELECT doc_id, n_words,
       round(mean_wl, 4) AS mean_word_len,
       round(sym_ratio, 4) AS symbol_word_ratio,
       round(bullet_frac, 4) AS frac_bullet_lines,
       round(ellipsis_frac, 4) AS frac_ellipsis_lines,
       round(alpha_frac, 4) AS frac_alpha_words,
       CAST(stop_hits AS BIGINT) AS n_stopword_hits,
       (n_words >= 50 AND n_words <= 100000
        AND mean_wl >= 3.0 AND mean_wl <= 10.0
        AND sym_ratio <= 0.1
        AND bullet_frac <= 0.9
        AND ellipsis_frac <= 0.3
        AND alpha_frac >= 0.8
        AND stop_hits >= 2) AS keep
FROM a
"""


def _q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 three-sentence-span dedup over synthesized 5-sentence pages:
    sentences 1-3 are templates shared by every doc with the same
    doc_id%7 (so only the class's global first keeps them), sentences
    4-5 embed doc_id (never duplicated); %5==0 docs get a unique
    opener (no dup span at all — left-join null path); %11==3 docs
    append a second copy of the shared triple (intra-document span
    dedup)."""
    from fundus_spark.operators import sentence_span_dedup

    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m7 = (did % 7).cast("string")
    s1 = F.when(did % 5 == 0, F.concat(F.lit("solo opening for document "), did.cast("string"), F.lit("."))) \
         .otherwise(F.concat(F.lit("shared opening template sentence number "), m7, F.lit(".")))
    s2 = F.concat(F.lit("shared middle template sentence number "), m7, F.lit("!"))
    s3 = F.concat(F.lit("shared closing template sentence number "), m7, F.lit("?"))
    s4 = F.concat(F.lit("unique continuation for document "), did.cast("string"), F.lit("."))
    s5 = F.concat(F.lit("tail "), F.substring("text", 1, 40), F.lit(" end "), did.cast("string"), F.lit("."))
    page = F.concat(
        F.concat_ws(" ", s1, s2, s3, s4, s5),
        F.when(did % 11 == 3, F.concat(F.lit(" "), F.concat_ws(" ", s1, s2, s3))).otherwise(F.lit("")),
    )
    return sentence_span_dedup(docs.select("doc_id", page.alias("page")))


_C4_SPAN_DEDUP_SQL = r"""
WITH parts AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN 'solo opening for document ' || doc_id || '.'
                ELSE 'shared opening template sentence number ' || (doc_id % 7) || '.' END AS s1,
           'shared middle template sentence number ' || (doc_id % 7) || '!' AS s2,
           'shared closing template sentence number ' || (doc_id % 7) || '?' AS s3,
           'unique continuation for document ' || doc_id || '.' AS s4,
           'tail ' || substr(text, 1, 40) || ' end ' || doc_id || '.' AS s5
    FROM documents
),
pages AS (
    SELECT doc_id,
           s1 || ' ' || s2 || ' ' || s3 || ' ' || s4 || ' ' || s5 ||
           CASE WHEN doc_id % 11 = 3 THEN ' ' || s1 || ' ' || s2 || ' ' || s3 ELSE '' END AS page
    FROM parts
),
docs AS (
    SELECT doc_id,
           list_transform(regexp_extract_all(page, '[^.!?]*[.!?]'), s -> trim(s)) AS sents
    FROM pages
),
spans AS (
    SELECT doc_id, i - 1 AS pos,
           md5(array_to_string(sents[i::INT : (i + 2)::INT], ' ')) AS span_hash
    FROM docs, unnest(range(1, greatest(len(sents) - 2, 0) + 1)) AS t(i)
),
-- independent formulation of Spark's min(struct(doc_id, pos)) agg:
-- rank occurrences per span content; rn > 1 == non-first occurrence.
-- Exact for the full BIGINT id domain (no fixed-width string key).
ranked AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, pos) AS rn,
           count(*) OVER (PARTITION BY span_hash) AS n_occ
    FROM spans
),
removed AS (
    SELECT doc_id,
           list_distinct(flatten(list([pos + 1, pos + 2, pos + 3]))) AS removed_idx
    FROM ranked
    WHERE n_occ > 1 AND rn > 1
    GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.sents) AS BIGINT) AS n_sentences,
       CAST(coalesce(len(r.removed_idx), 0) AS BIGINT) AS n_removed,
       array_to_string(
           list_filter(d.sents, (x, i) -> NOT coalesce(list_contains(r.removed_idx, i), FALSE)),
           ' ') AS kept_text
FROM docs d LEFT JOIN removed r USING (doc_id)
"""


def _q_dup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fundus_spark.operators import dup_substring_spans

    return dup_substring_spans(
        _read(spark, sf_dir, "documents"), k=8, window=4, max_chars=512
    )


_DUP_SUBSTRING_SQL = r"""
WITH base AS (
    SELECT doc_id, substr(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 512) AS t
    FROM documents
),
g AS (SELECT doc_id, t, greatest(length(t) - 7, 0) AS n FROM base),
hashes AS (
    SELECT doc_id, n,
           list_transform(range(1, greatest(n, 1) + 1),
                          i -> CAST('0x' || substr(md5(substr(t, i::INT, 8)), 1, 8) AS BIGINT)) AS hs
    FROM g
),
sel AS (
    SELECT doc_id,
           list_transform(range(1, greatest(n - 3, 1) + 1),
               j -> {'fp': list_min(hs[j::INT : (j + least(4, n) - 1)::INT]),
                     'pos': list_position(hs[j::INT : (j + least(4, n) - 1)::INT],
                                          list_min(hs[j::INT : (j + least(4, n) - 1)::INT])) + j - 1}) AS sels
    FROM hashes
),
-- DISTINCT here == Spark's per-doc array_distinct over (fp,pos)
-- structs (a given doc never repeats a pair across docs)
fps AS (
    SELECT DISTINCT doc_id, u.fp AS fp, CAST(u.pos AS BIGINT) AS pos
    FROM (SELECT doc_id, unnest(sels) AS u FROM sel)
    WHERE u.fp IS NOT NULL
),
dupfp AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1),
d AS (SELECT doc_id, pos FROM fps JOIN dupfp USING (fp)),
b AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk
    FROM d
),
s AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM b
)
SELECT doc_id,
       min(pos) AS span_start,
       max(pos) + 7 AS span_end,
       max(pos) + 7 - min(pos) + 1 AS span_len,
       count(*) AS n_grams
FROM s GROUP BY doc_id, island
"""


def _q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT (non-winnowed) variant of dup_substring_spans:
    window=1 selects EVERY k-gram position, which is precisely the
    ExactSubstr duplicate-localization semantics of Lee et al. 2021 —
    every duplicated >= k-char substring is found with exact
    boundaries (no k+window-2 winnowing slack). Same operator, same
    relational machinery; winnowing (window>1) is the scale knob that
    trades boundary slack for a ~window× smaller fingerprint
    relation. Gated here so the exact semantics have their own row."""
    from fundus_spark.operators import dup_substring_spans

    return dup_substring_spans(
        _read(spark, sf_dir, "documents"), k=8, window=1, max_chars=512
    )


_EXACT_SUBSTRING_SQL = r"""
WITH base AS (
    SELECT doc_id, substr(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 512) AS t
    FROM documents
),
g AS (SELECT doc_id, t, greatest(length(t) - 7, 0) AS n FROM base),
hashes AS (
    SELECT doc_id, n,
           list_transform(range(1, greatest(n, 1) + 1),
                          i -> CAST('0x' || substr(md5(substr(t, i::INT, 8)), 1, 8) AS BIGINT)) AS hs
    FROM g
),
-- window=1: every k-gram position is selected
fps AS (
    SELECT DISTINCT doc_id, hs[i::INT] AS fp, CAST(i AS BIGINT) AS pos
    FROM hashes, unnest(range(1, n + 1)) AS u(i)
),
dupfp AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1),
d AS (SELECT doc_id, pos FROM fps JOIN dupfp USING (fp)),
b AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk
    FROM d
),
s AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM b
)
SELECT doc_id,
       min(pos) AS span_start,
       max(pos) + 7 AS span_end,
       max(pos) + 7 - min(pos) + 1 AS span_len,
       count(*) AS n_grams
FROM s GROUP BY doc_id, island
"""


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText/RefinedWeb boilerplate-line removal over synthesized
    5-line pages: per-class nav chrome (doc_id%5) and a newsletter
    plant (doc_id%7==2) recur corpus-wide and are dropped from EVERY
    doc; header/body/closing lines embed doc_id (unique, kept); the
    blank line is never counted or removed."""
    from fundus_spark.operators import line_dedup

    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat_ws(
        "\n",
        F.concat(F.lit("doc "), did.cast("string"), F.lit(" header line")),
        F.concat(F.lit("shared navigation chrome number "), (did % 5).cast("string")),
        F.lit(""),
        F.concat(F.lit("body text "), F.substring("text", 1, 30), F.lit(" "), did.cast("string")),
        F.when(did % 7 == 2, F.lit("subscribe to our newsletter today"))
        .otherwise(F.concat(F.lit("closing line for doc "), did.cast("string"))),
    )
    return line_dedup(docs.select("doc_id", page.alias("page")), min_occurrences=2)


_LINE_DEDUP_SQL = r"""
WITH pages AS (
    SELECT doc_id,
           'doc ' || doc_id || ' header line' || chr(10) ||
           'shared navigation chrome number ' || (doc_id % 5) || chr(10) ||
           chr(10) ||
           'body text ' || substr(text, 1, 30) || ' ' || doc_id || chr(10) ||
           CASE WHEN doc_id % 7 = 2 THEN 'subscribe to our newsletter today'
                ELSE 'closing line for doc ' || doc_id END AS page
    FROM documents
),
docs AS (SELECT doc_id, string_split(page, chr(10)) AS lines FROM pages),
exploded AS (
    SELECT doc_id, i AS pos, lines[i] AS line
    FROM docs, unnest(range(1, len(lines) + 1)) AS t(i)
),
freq AS (
    SELECT md5(trim(line)) AS lkey
    FROM exploded
    WHERE length(trim(line)) >= 1
    GROUP BY 1 HAVING count(*) >= 2
),
marked AS (
    SELECT e.doc_id, e.pos, e.line,
           (f.lkey IS NOT NULL AND length(trim(e.line)) >= 1) AS rem
    FROM exploded e LEFT JOIN freq f ON md5(trim(e.line)) = f.lkey
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN rem THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT rem), '') AS kept_text
FROM marked GROUP BY doc_id
"""


def _q_remove_dup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal (Lee et al. 2021, second half): cut
    non-first occurrences of duplicated substrings; the corpus-wide
    first occurrence (min (doc_id, pos) struct) keeps its text."""
    from fundus_spark.operators import remove_dup_substrings

    return remove_dup_substrings(
        _read(spark, sf_dir, "documents"), k=8, window=4, max_chars=512
    )


_REMOVE_DUP_SQL = r"""
WITH base AS (
    SELECT doc_id, substr(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 512) AS t
    FROM documents
),
g AS (SELECT doc_id, t, greatest(length(t) - 7, 0) AS n FROM base),
hashes AS (
    SELECT doc_id, n,
           list_transform(range(1, greatest(n, 1) + 1),
                          i -> CAST('0x' || substr(md5(substr(t, i::INT, 8)), 1, 8) AS BIGINT)) AS hs
    FROM g
),
sel AS (
    SELECT doc_id,
           list_transform(range(1, greatest(n - 3, 1) + 1),
               j -> {'fp': list_min(hs[j::INT : (j + least(4, n) - 1)::INT]),
                     'pos': list_position(hs[j::INT : (j + least(4, n) - 1)::INT],
                                          list_min(hs[j::INT : (j + least(4, n) - 1)::INT])) + j - 1}) AS sels
    FROM hashes
),
fps AS (
    SELECT DISTINCT doc_id, u.fp AS fp, CAST(u.pos AS BIGINT) AS pos
    FROM (SELECT doc_id, unnest(sels) AS u FROM sel)
    WHERE u.fp IS NOT NULL
),
-- independent formulation of Spark's min(struct(doc_id, pos)) agg
ranked AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn,
           count(*) OVER (PARTITION BY fp) AS n_occ
    FROM fps
),
removals AS (SELECT doc_id, pos FROM ranked WHERE n_occ > 1 AND rn > 1),
brks AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk
    FROM removals
),
isl AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM brks
),
spans AS (
    SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
    FROM isl GROUP BY doc_id, island
),
segs AS (
    SELECT doc_id,
           CAST(coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS BIGINT) AS seg_start,
           CAST(s - 1 AS BIGINT) AS seg_end
    FROM spans
),
stats AS (SELECT doc_id, count(*) AS n_spans, max(e) AS last_e FROM spans GROUP BY doc_id),
tails AS (
    SELECT b.doc_id,
           CAST(st.last_e + 1 AS BIGINT) AS seg_start,
           CAST(length(b.t) AS BIGINT) AS seg_end
    FROM base b JOIN stats st USING (doc_id)
),
allsegs AS (
    SELECT * FROM segs WHERE seg_end >= seg_start
    UNION ALL
    SELECT * FROM tails WHERE seg_end >= seg_start
),
kept AS (
    SELECT a.doc_id,
           string_agg(substr(b.t, a.seg_start::INT, (a.seg_end - a.seg_start + 1)::INT),
                      '' ORDER BY a.seg_start) AS kept_text
    FROM allsegs a JOIN base b USING (doc_id)
    GROUP BY a.doc_id
)
SELECT b.doc_id,
       CAST(length(b.t) AS BIGINT) AS n_chars,
       CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans_removed,
       CAST(length(b.t) - length(coalesce(k.kept_text, b.t)) AS BIGINT) AS n_chars_removed,
       coalesce(k.kept_text, b.t) AS kept_text
FROM base b
LEFT JOIN stats st USING (doc_id)
LEFT JOIN kept k USING (doc_id)
"""


# ---------------------------------------------------------------------------
# sketches: Bloom dedup, HyperLogLog, Count-Min (round 7)
# ---------------------------------------------------------------------------

#: Bloom gate parameters. 4096 bits / 5 hashes is sized so the sf0.01
#: driver corpus (300 frozen docs -> ~31% fill, fpp ~0.3%) exercises the
#: clear path, while the sf0.1 bench corpus (3000 frozen docs -> ~97%
#: fill) deliberately SATURATES the filter: most probes flag and the
#: exact confirm does the work, demonstrating the increment's safety
#: contract (result pinned to the plain anti-join) even under a
#: mis-sized filter.
_BLOOM_NBITS = 4096
_BLOOM_K = 5

#: the repo-standard normalized-content key, as DuckDB SQL
_NORM_KEY_SQL = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"


def _q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup (Dolma "BFF" family): build the
    filter from a frozen 60% slice of documents, probe a batch made of
    the novel 40% plus re-keyed true duplicates of frozen content, and
    confirm flagged docs exactly. Output gates the probe bit algebra
    (``possibly_seen`` — false positives included) AND the exact novel
    decision; re-keyed dups must probe true (no false negatives)."""
    from fundus_spark.operators.adaptive import checkpoint
    from fundus_spark.operators.bloom import (
        bloom_build,
        bloom_dedup_increment,
        bloom_probe,
    )

    docs = _read(spark, sf_dir, "documents")
    frozen = docs.where(F.col("doc_id") % 5 < 3)
    batch = docs.where(F.col("doc_id") % 5 >= 3).unionByName(
        docs.where(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1_000_000)
        )
    )
    # build + materialize the (bounded) filter ONCE for both consumers,
    # and probe ONCE, reusing the result inside the increment — the
    # demo previously rebuilt the filter and re-ran the probe pipeline
    # per consumer (round-7 advice)
    bloom = checkpoint(bloom_build(frozen, n_bits=_BLOOM_NBITS, n_hashes=_BLOOM_K))[0]
    probed = checkpoint(bloom_probe(batch, bloom, n_bits=_BLOOM_NBITS, n_hashes=_BLOOM_K))[0]
    novel = bloom_dedup_increment(
        frozen, batch, n_bits=_BLOOM_NBITS, n_hashes=_BLOOM_K, bloom=bloom, probed=probed
    )
    return probed.join(
        novel.withColumn("novel", F.lit(True)), "doc_id", "left"
    ).select(
        "doc_id",
        "possibly_seen",
        F.coalesce(F.col("novel"), F.lit(False)).alias("novel"),
    )


def _bloom_dedup_sql() -> str:
    nb, k = _BLOOM_NBITS, _BLOOM_K
    return f"""
WITH frozen AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 < 3),
batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 >= 3
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
),
fh AS (
    SELECT CAST('0x' || substr(md5({_NORM_KEY_SQL}), 1, 15) AS BIGINT) % {nb} AS h1,
           CAST('0x' || substr(md5({_NORM_KEY_SQL}), 16, 15) AS BIGINT) % {nb} AS h2
    FROM frozen
),
words AS (
    SELECT pos // 32 AS word_idx,
           bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
    FROM (SELECT (h1 + i * h2) % {nb} AS pos
          FROM fh, LATERAL (SELECT unnest(generate_series(0, {k - 1})) AS i) t)
    GROUP BY 1
),
bh AS (
    SELECT doc_id,
           md5({_NORM_KEY_SQL}) AS fp,
           CAST('0x' || substr(md5({_NORM_KEY_SQL}), 1, 15) AS BIGINT) % {nb} AS h1,
           CAST('0x' || substr(md5({_NORM_KEY_SQL}), 16, 15) AS BIGINT) % {nb} AS h2
    FROM batch
),
probe AS (
    SELECT p.doc_id, p.fp,
           min(CASE WHEN ((coalesce(w.word, 0) >> CAST(p.pos % 32 AS INT)) & 1) = 1
                    THEN 1 ELSE 0 END) AS all_set
    FROM (SELECT doc_id, fp, (h1 + i * h2) % {nb} AS pos
          FROM bh, LATERAL (SELECT unnest(generate_series(0, {k - 1})) AS i) t) p
    LEFT JOIN words w ON w.word_idx = p.pos // 32
    GROUP BY 1, 2
),
ffp AS (SELECT DISTINCT md5({_NORM_KEY_SQL}) AS fp FROM frozen)
SELECT pr.doc_id,
       pr.all_set = 1 AS possibly_seen,
       (pr.all_set = 0) OR (f.fp IS NULL) AS novel
FROM probe pr LEFT JOIN ffp f ON pr.fp = f.fp
"""


def _q_bloom_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom filter RELATION itself (word_idx, word) over the full
    documents table — value-gating the build's bit_or words directly so
    a position/packing bug can't hide behind a compensating probe."""
    from fundus_spark.operators.bloom import bloom_build

    return bloom_build(
        _read(spark, sf_dir, "documents"), n_bits=_BLOOM_NBITS, n_hashes=_BLOOM_K
    )


def _q_bloom_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom merge law, driver-gated (the hll_merge_shards twin):
    filters built independently on two disjoint doc_id-parity shards,
    bloom_merge'd (one more bit_or), must equal the oracle's
    single-pass whole-corpus filter word-for-word — per-shard/per-day
    filters merge into the corpus filter without re-reading raw data."""
    from fundus_spark.operators.bloom import bloom_build, bloom_merge

    docs = _read(spark, sf_dir, "documents")
    return bloom_merge(
        bloom_build(docs.where(F.col("doc_id") % 2 == 0), n_bits=_BLOOM_NBITS, n_hashes=_BLOOM_K),
        bloom_build(docs.where(F.col("doc_id") % 2 == 1), n_bits=_BLOOM_NBITS, n_hashes=_BLOOM_K),
    )


def _bloom_words_sql() -> str:
    nb, k = _BLOOM_NBITS, _BLOOM_K
    return f"""
WITH h AS (
    SELECT CAST('0x' || substr(md5({_NORM_KEY_SQL}), 1, 15) AS BIGINT) % {nb} AS h1,
           CAST('0x' || substr(md5({_NORM_KEY_SQL}), 16, 15) AS BIGINT) % {nb} AS h2
    FROM documents
)
SELECT pos // 32 AS word_idx,
       bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
FROM (SELECT (h1 + i * h2) % {nb} AS pos
      FROM h, LATERAL (SELECT unnest(generate_series(0, {k - 1})) AS i) t)
GROUP BY 1
"""


def _q_hll_ngram_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct 3-gram cardinality per source (p=10), with
    the exact count alongside so estimator accuracy is value-gated."""
    from fundus_spark.operators.sketches import hll_ngram_distinct

    return hll_ngram_distinct(
        _read(spark, sf_dir, "documents"), text_col="text", group_col="source",
        n=3, p=10,
    )


def _hll_ngram_sql(n: int = 3, p: int = 10) -> str:
    from fundus_spark.operators.sketches import HLL_SCALE, hll_alpha

    m = 1 << p
    c_num = repr(hll_alpha(p) * m * m * float(1 << HLL_SCALE))
    return f"""
WITH grams AS (
    SELECT source AS grp,
           array_to_string(toks[i:i+{n - 1}], ' ') AS item
    FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS toks
          FROM documents),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - {n - 1}, 1))) AS i) t
), hashed AS (
    SELECT grp, item,
           CAST('0x' || substr(md5(item), 1, 15) AS BIGINT) % {m} AS idx,
           CAST('0x' || substr(md5(item), 16, 15) AS BIGINT) AS h2
    FROM grams
), regs AS (
    SELECT grp, idx,
           MAX(CASE WHEN h2 = 0 THEN {HLL_SCALE}
                    ELSE {HLL_SCALE} - length(bin(h2)) END) AS rho
    FROM hashed GROUP BY grp, idx
), agg AS (
    SELECT grp, COUNT(*) AS n_registers,
           SUM(CAST(1 AS BIGINT) << CAST({HLL_SCALE} - rho AS INT)) AS s_present
    FROM regs GROUP BY grp
), est0 AS (
    SELECT grp, n_registers, {m} - n_registers AS v_zero,
           {c_num} / CAST(s_present + ({m} - n_registers) * CAST(1 AS HUGEINT)
                          * (CAST(1 AS BIGINT) << {HLL_SCALE}) AS DOUBLE) AS e_raw
    FROM agg
), ex AS (
    SELECT grp, COUNT(DISTINCT item) AS exact_distinct FROM grams GROUP BY grp
)
SELECT ex.grp AS source, exact_distinct,
       CAST(n_registers AS BIGINT) AS n_registers,
       CAST(v_zero AS BIGINT) AS v_zero,
       ROUND(CASE WHEN e_raw <= 2.5 * {m} AND v_zero > 0
                  THEN {m} * LN(CAST({m} AS DOUBLE) / v_zero)
                  ELSE e_raw END, 4) AS est
FROM est0 JOIN ex USING (grp)
"""


def _q_hll_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL merge law, driver-gated: build INDEPENDENT register
    sketches on two disjoint doc shards (doc_id parity), hll_merge
    them, and estimate — the oracle replays the SINGLE-PASS whole-corpus
    sketch, so the row is green iff union-of-shard-sketches ≡
    sketch-of-union register-for-register (the property that makes
    per-shard/per-day sketches mergeable without re-reading raw data
    at 100 TB). Same output contract as hll_ngram_distinct."""
    from fundus_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    n, p = 3, 10
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    grams = docs.select(
        "doc_id",
        F.col("source").alias("grp"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ).alias("item"),
    )
    shard_a = grams.where(F.col("doc_id") % 2 == 0)
    shard_b = grams.where(F.col("doc_id") % 2 == 1)
    regs = hll_merge(
        hll_registers(shard_a, "item", ["grp"], p),
        hll_registers(shard_b, "item", ["grp"], p),
    )
    ests = hll_estimate(regs, ["grp"], p)
    exact = grams.groupBy("grp").agg(F.count_distinct("item").alias("exact_distinct"))
    return exact.join(ests, "grp").select(
        F.col("grp").alias("source"), "exact_distinct", "n_registers", "v_zero", "est"
    )


def _q_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter tokens (d=4, w=512) with the exact count
    alongside — the one-sided error (est >= exact, never under) is in
    the gated values."""
    from fundus_spark.operators.sketches import countmin_heavy_hitters

    return countmin_heavy_hitters(
        _read(spark, sf_dir, "documents"), text_col="text", d=4, w=512, min_est=100
    )


def _countmin_sql(d: int = 4, w: int = 512, min_est: int = 100) -> str:
    def positions(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT item, {r} AS row, CAST('0x' || substr(md5('{r}:' || item), 1, 15) AS BIGINT) % {w} AS col FROM {src}"
            for r in range(d)
        )

    return f"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS item FROM documents
), toks2 AS (SELECT item FROM toks WHERE item <> ''),
sketch AS (
    SELECT row, col, COUNT(*) AS cnt
    FROM ({positions("toks2")}) GROUP BY row, col
),
exact AS (SELECT item, COUNT(*) AS exact FROM toks2 GROUP BY item),
est AS (
    SELECT item, MIN(coalesce(cnt, 0)) AS est
    FROM ({positions("exact")}) qpos
    LEFT JOIN sketch USING (row, col) GROUP BY item
)
SELECT item, est, exact FROM est JOIN exact USING (item) WHERE est >= {min_est}
"""


# ---------------------------------------------------------------------------
# URL canonicalization + canonical-URL dedup (round 7)
# ---------------------------------------------------------------------------


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL first-wins dedup over synthesized messy URLs.

    Each document contributes TWO raw variants of one logical URL —
    upper-cased scheme/host + userinfo + default port + tracking params
    + fragment on one side; www. prefix / trailing slashes / different
    param order + a click id on the other — so every normalization rule
    must fire for the pair to collapse (n_variants = 2, kept_id = the
    smaller id). Every 7th doc contributes non-URL text instead, which
    must pass through untouched (n_variants = 1 each). The oracle
    derives the expected canonical forms in CLOSED FORM (independent of
    the regex pipeline), so Spark's normalization is gated against what
    the rules are SUPPOSED to produce, not a replay of itself."""
    from fundus_spark.operators.urlnorm import url_dedup

    docs = _read(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    path = F.concat(F.lit("/Articles/Item-"), F.col("doc_id"))
    v = F.col("v")
    raw = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("doc "), F.col("doc_id"), F.lit(" variant "), v),
        )
        .when(
            F.col("doc_id") % 2 == 0,
            F.when(
                v == 0,
                F.concat(
                    F.lit("HTTP://U:P@WWW."),
                    F.upper(host),
                    F.lit(":80"),
                    path,
                    F.lit("?utm_source=feed&b=2&a=1#frag"),
                ),
            ).otherwise(
                F.concat(
                    F.lit("http://"), host, path, F.lit("///?a=1&b=2&gclid=CLICK")
                )
            ),
        )
        .otherwise(
            F.when(
                v == 0,
                F.concat(
                    F.lit("HTTPS://"),
                    F.upper(host),
                    F.lit(":443"),
                    path,
                    F.lit("?z=9&utm_campaign=x#sec"),
                ),
            ).otherwise(
                F.concat(F.lit("https://www."), host, path, F.lit("/?z=9"))
            )
        )
    )
    rows = docs.select(
        "doc_id",
        "source",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("v"),
    ).select((F.col("doc_id") * 2 + v).alias("rid"), raw.alias("url"))
    return url_dedup(rows, "url", "rid").select(
        "canonical_url",
        F.col("kept_id").cast("long").alias("kept_id"),
        "n_variants",
    )


#: closed-form expected canonicals — an independent derivation of what
#: the normalization rules must produce for the synthesized variants.
_URL_DEDUP_SQL = """
WITH base AS (
    SELECT doc_id,
           source || '.example.com' AS host,
           '/Articles/Item-' || doc_id AS path
    FROM documents
),
expected AS (
    SELECT CASE WHEN doc_id % 2 = 0
                THEN 'http://' || host || path || '?a=1&b=2'
                ELSE 'https://' || host || path || '?z=9' END AS canonical_url,
           doc_id * 2 AS kept_id,
           2 AS n_variants
    FROM base WHERE doc_id % 7 <> 0
    UNION ALL
    SELECT 'doc ' || doc_id || ' variant ' || v AS canonical_url,
           doc_id * 2 + v AS kept_id,
           1 AS n_variants
    FROM base, (SELECT unnest([0, 1]) AS v) t WHERE doc_id % 7 = 0
)
SELECT canonical_url, kept_id, CAST(n_variants AS BIGINT) AS n_variants
FROM expected
"""


# ---------------------------------------------------------------------------
# host blocklist filter + CCNet perplexity buckets (round 7)
# ---------------------------------------------------------------------------

#: literal blocklist for the driver row — includes a nested pair
#: (spam-hub.net AND track.spam-hub.net) so longest-match-wins is gated
_HOST_BLOCKLIST = ["ads-net.com", "spam-hub.net", "track.spam-hub.net"]


def _q_host_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist filter (RefinedWeb stage 1) over
    synthesized URLs: five host families per ``doc_id % 5`` exercise
    subdomain suffix match, exact match, the label boundary
    (``not-ads-net.com`` must stay clean), a clean family, and a messy
    uppercase/userinfo/port host matching TWO nested blocklist entries
    (the longer must win). The literal-blocklist zero-shuffle path is
    gated here; the relation-join path is pinned equivalent in pytest
    (`tests/test_hostfilter.py`). Oracle = CLOSED-FORM expected
    decisions, independent of the suffix algebra."""
    from fundus_spark.operators.urlnorm import host_col, host_filter

    docs = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    did = F.col("doc_id").cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("https://sub.ads-net.com/p/"), did))
        .when(m == 1, F.concat(F.lit("HTTPS://u:p@ADS-net.com:443/p/"), did))
        .when(m == 2, F.concat(F.lit("https://not-ads-net.com/p/"), did))
        .when(
            m == 3,
            F.concat(F.lit("https://news."), F.col("source"), F.lit(".org/p/"), did),
        )
        .otherwise(
            F.concat(F.lit("http://DEEP.Track.SPAM-hub.net:80/p/"), did)
        )
    )
    rows = docs.select("doc_id", "source", url.alias("url"))
    out = host_filter(rows, _HOST_BLOCKLIST, mode="annotate")
    return out.select(
        "doc_id",
        host_col(F.col("url")).alias("host"),
        "matched_domain",
        F.col("matched_domain").isNull().alias("kept"),
    )


_HOST_FILTER_SQL = """
SELECT doc_id,
       CASE doc_id % 5
            WHEN 0 THEN 'sub.ads-net.com'
            WHEN 1 THEN 'ads-net.com'
            WHEN 2 THEN 'not-ads-net.com'
            WHEN 3 THEN 'news.' || source || '.org'
            ELSE 'deep.track.spam-hub.net' END AS host,
       CASE doc_id % 5
            WHEN 0 THEN 'ads-net.com'
            WHEN 1 THEN 'ads-net.com'
            WHEN 4 THEN 'track.spam-hub.net'
            ELSE NULL END AS matched_domain,
       doc_id % 5 IN (2, 3) AS kept
FROM documents
"""


def _q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020): train the
    add-one bigram LM on a CLEAN target slice (``doc_id % 4 == 0``),
    score every document under it (unseen bigrams/unigrams take the
    smoothed floor via left joins), and ntile the corpus into
    head/middle/tail. The exact-ntile regime is gated here; the
    sampled-cutoff scale regime is pinned against it in pytest."""
    from fundus_spark.operators.textstats import ccnet_perplexity_buckets

    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 4 == 0)
    return ccnet_perplexity_buckets(docs, target)


_CCNET_BUCKETS_SQL = """
WITH toks AS (
    SELECT doc_id, i AS pos, toks[i] AS w
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) t
),
t_toks AS (SELECT * FROM toks WHERE doc_id % 4 = 0),
uni AS (SELECT w AS w1, COUNT(*) AS c1 FROM t_toks GROUP BY w),
v AS (SELECT COUNT(*) AS vocab FROM uni),
inst AS (
    SELECT a.doc_id, a.w AS w1, b.w AS w2
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
t_inst AS (
    SELECT a.doc_id, a.w AS w1, b.w AS w2
    FROM t_toks a JOIN t_toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM t_inst GROUP BY w1, w2),
scored AS (
    SELECT inst.doc_id,
           ROUND(AVG(LN((COALESCE(bi.c2, 0) + 1) / (COALESCE(uni.c1, 0) + v.vocab))), 4)
               AS avg_logprob
    FROM inst
    LEFT JOIN bi USING (w1, w2)
    LEFT JOIN uni ON uni.w1 = inst.w1
    CROSS JOIN v
    GROUP BY inst.doc_id
),
bucketed AS (
    SELECT doc_id, avg_logprob,
           CAST(ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS BIGINT) AS bucket
    FROM scored
)
SELECT doc_id, avg_logprob, bucket,
       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
FROM bucketed
"""


def _q_ccnet_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persistable CCNet cutoff artifact (tier, lo) — the
    model-table twin of ccnet_buckets (same rationale as bpe_merges /
    classifier_weights / bloom_words: gate the ARTIFACT so a boundary
    divergence pins the exact differing tier, not a downstream
    symptom). sample_mod=2 exercises the sample-before-score path the
    append contract relies on (only the deterministic md5 sample is
    ever scored)."""
    from fundus_spark.operators.textstats import ccnet_cutoffs

    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 4 == 0)
    return ccnet_cutoffs(docs, target, sample_mod=2).select(
        F.col("tier").cast("long").alias("tier"), "lo"
    )


_CCNET_CUTOFFS_SQL = """
WITH toks AS (
    SELECT doc_id, i AS pos, toks[i] AS w
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) t
),
t_toks AS (SELECT * FROM toks WHERE doc_id % 4 = 0),
uni AS (SELECT w AS w1, COUNT(*) AS c1 FROM t_toks GROUP BY w),
v AS (SELECT COUNT(*) AS vocab FROM uni),
-- sample BEFORE scoring: hash_bucket('ccnet', id) % 2 = 0 (the repo md5 idiom)
s_toks AS (
    SELECT * FROM toks
    WHERE CAST('0x' || substr(md5('ccnet' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
),
inst AS (
    SELECT a.doc_id, a.w AS w1, b.w AS w2
    FROM s_toks a JOIN s_toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
t_inst AS (
    SELECT a.doc_id, a.w AS w1, b.w AS w2
    FROM t_toks a JOIN t_toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM t_inst GROUP BY w1, w2),
scored AS (
    SELECT inst.doc_id,
           ROUND(AVG(LN((COALESCE(bi.c2, 0) + 1) / (COALESCE(uni.c1, 0) + v.vocab))), 4)
               AS avg_logprob
    FROM inst
    LEFT JOIN bi USING (w1, w2)
    LEFT JOIN uni ON uni.w1 = inst.w1
    CROSS JOIN v
    GROUP BY inst.doc_id
),
tiered AS (
    SELECT avg_logprob,
           ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS tier
    FROM scored
)
SELECT CAST(tier AS BIGINT) AS tier, MIN(avg_logprob) AS lo
FROM tiered WHERE tier < 3 GROUP BY tier
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The canonical registry — EXACTLY 50 entries, because the driver's
    CORRECTNESS gate records rows for the first 50 dict entries only.
    Near-duplicate twins and subsumed sub-stages live in
    ``extra_queries()`` (still oracle-gated by the local driver mimic,
    ``tests/test_operators_oracle.py``), so every canonical component
    gets a hard driver row every round."""
    return {
        "extract_documents": _q_extract_documents,
        "extract_rich": _q_extract_rich,
        "extract_topics": _q_extract_topics,
        "assemble_conversations": _q_assemble_conversations,
        "grouped_topk": _q_grouped_topk,
        "round_robin_merge": _q_round_robin_merge,
        "first_wins_dedup": _q_first_wins_dedup,
        "regex_filter": _q_regex_filter,
        "requires_filter": _q_requires,
        "bloom_dedup": _q_bloom_dedup,
        "hll_ngram_distinct": _q_hll_ngram_distinct,
        "event_sessions": _q_event_sessions,
        "exact_dedup": _q_exact_dedup,
        "gopher_quality": _q_gopher_quality,
        "lsh_jaccard_verified": _q_lsh_jaccard_verified,
        "simhash_neardup": _q_simhash_neardup,
        "pack_by_budget": _q_pack_by_budget,
        "split_assign": _q_split_assign,
        "dedup_survivors": _q_dedup_survivors,
        "incremental_dedup": _q_incremental_dedup,
        "contamination": _q_contamination,
        "curate_corpus": _q_curate,
        "semantic_dedup": _q_semantic_dedup,
        "crawl_to_corpus": _q_crawl_to_corpus,
        "c4_span_dedup": _q_c4_span_dedup,
        "cosine_neardup": _q_cosine_neardup,
        "host_filter": _q_host_filter,
        "ivf_ann": _q_ivf_ann,
        "bpe_token_count": _q_bpe_token_count,
        "countmin_heavy": _q_countmin_heavy,
        "repetition_score": _q_repetition,
        "pii_scrub": _q_pii_scrub,
        "bigram_logprob": _q_bigram_logprob,
        "tfidf_topk": _q_tfidf_topk,
        "char_entropy": _q_char_entropy,
        "dup_substring_spans": _q_dup_substring_spans,
        "dsir_select": _q_dsir_select,
        "domain_mix": _q_domain_mix,
        "quality_classifier": _q_quality_classifier,
        "media_decode": _q_media_decode,
        "ccnet_buckets": _q_ccnet_buckets,
        "media_frame_sample": _q_media_frames,
        "robots_gate": _q_robots_gate,
        "c4_page_filter": _q_c4_page_filter,
        "warc_to_articles": _q_warc_to_articles,
        "warc_roundtrip": _q_warc_roundtrip,
        "quantized_ann": _q_quantized_ann,
        "pdf_extract": _q_pdf_extract,
        "boilerplate_strip": _q_boilerplate_strip,
        "language_filter": _q_language_filter,
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Twin / subsumed queries folded out of the driver's 50-entry
    CORRECTNESS window (each is a near-duplicate of a canonical entry,
    noted below). All remain oracle-gated by the local driver mimic and
    callable by the bench harness:

    * token_count             — whitespace + regex-approximate BPE
                                counts; superseded as a driver row by
                                bpe_token_count (REAL learned merges,
                                round 7) — kept mimic-gated as the
                                cheap pre-tokenizer surface
    * bpe_merges              — the learned BPE model table itself
                                (round 7): same unrolled-training
                                oracle as bpe_token_count, gated so a
                                training divergence pins the exact
                                first differing merge
    * curate_corpus_xxhash    — hash-mode twin of curate_corpus (same
                                chain, XXH64 shingles vs md5; the
                                xxhash banding math stays gated here
                                and in minhash_xxhash); ceded its slot
                                to semantic_dedup in round 7
    * kmeans_centroids        — distributed Lloyd k-means FIT (round
                                7): fixed-point integer centroid sums
                                make the float model bit-exact vs the
                                unrolled-iteration oracle; backs
                                semantic_dedup's clustering stage
    * remove_dup_substrings   — ExactSubstr REMOVAL (round 7): the
                                keep-first cut on top of
                                dup_substring_spans' localization
                                (canonically gated); same winnowing
                                machinery plus a between-spans
                                segment rebuild
    * line_dedup              — MassiveText/RefinedWeb boilerplate-
                                line removal (round 7): corpus-
                                frequency counted on md5 line keys,
                                guarded broadcast join-back, every
                                occurrence dropped (template chrome
                                keeps no copy)
    * extract_documents_keyed — extract_documents + id-recovery join
    * events_json             — events_daily over JSON-extracted props
    * minhash_signatures      — md5-portability twin of minhash_xxhash
    * lsh_candidates          — phase 1 of lsh_jaccard_verified
    * simhash                 — signature stage of simhash_neardup
    * stratified_sample       — same md5-bucket decision as split_assign
    * dedup_clusters          — component stage of dedup_survivors
    * fingerprint             — md5 doc hash (exact_dedup's fp stage)
    * media_features          — digest plumbing under media_decode
    * corpus_stats            — profile stats (exact-percentile twin);
                                ceded its canonical slot to
                                incremental_dedup in round 4
    * ngram_jaccard           — standalone shingle-self-join Jaccard;
                                subsumed by lsh_jaccard_verified (the
                                LSH-banded production path runs the
                                same verify math over candidates) and
                                by curate_corpus; ceded its canonical
                                slot to warc_roundtrip in round 6
    * events_daily            — plain groupBy day/type rollup; subsumed
                                by event_sessions (sessionization over
                                the same table is the strictly harder
                                shape) and events_json; ceded its slot
                                to quantized_ann in round 6
    * warc_extract            — raw record listing; subsumed by
                                warc_to_articles (same reader + the
                                extraction stage on top) and
                                warc_roundtrip (same reader over
                                resharded output); ceded its slot to
                                c4_page_filter in round 6
    * minhash_xxhash          — signature stage of the xxhash64
                                pipeline; subsumed by
                                curate_corpus_xxhash (same XXH64
                                banding driven end-to-end) with the
                                md5 twin minhash_signatures also
                                gated; ceded its slot to
                                gopher_quality in round 6
    * cosine_topk             — the guarded brute-force ANN baseline;
                                exact cosine math stays gated inside
                                cosine_neardup's verify stage and the
                                lsh/ivf/quantized ANN rows; ceded its
                                slot to c4_span_dedup in round 6
    * language_id             — per-doc label surface of the same
                                estimator language_filter gates as a
                                canonical row; ceded its slot to
                                dup_substring_spans in round 6
    * winnowing               — plain winnowing fingerprints; subsumed
                                by dup_substring_spans, which drives
                                the same selection positionally
                                (emit_positions) plus count-join span
                                localization on top; ceded its slot to
                                dsir_select in round 6
    * multisignal_clusters    — union-of-evidence clustering; its two
                                edge sources and the component pass are
                                each canonically gated on their own
                                (lsh_jaccard_verified, cosine_neardup,
                                dedup_survivors) — the union is plain
                                composition; ceded its slot to
                                domain_mix in round 7 (whose epoch
                                replication / fractional-keep logic had
                                no driver row of its own)
    * shipping_priority       — TPC-H Q3 demo (dim-filter -> two joins
                                -> agg -> top-10): the join machinery
                                is canonically gated by
                                revenue_by_nation and the agg+top-k by
                                grouped_topk / pricing_summary — all
                                built-in Catalyst operators with no
                                custom logic of our own; ceded its
                                slot to quality_classifier in round 7
                                (a genuinely new trained operator)
    * classifier_weights      — the learned linear-classifier model
                                table (round 7): same unrolled-GD
                                oracle as quality_classifier, gated so
                                a training divergence pins the exact
                                first differing weight (same rationale
                                as bpe_merges / kmeans_centroids)
    * fix_mojibake            — ftfy-core Latin-1/CP1252-viewed-UTF-8
                                repair (round 7) over a
                                deterministically corrupted corpus;
                                corruption AND repair both rebuilt in
                                raw SQL, value-gated end to end
    * exact_substring_spans   — dup_substring_spans at window=1
                                (round 7): every k-gram position
                                selected = the EXACT ExactSubstr
                                localization of Lee et al. 2021, no
                                winnowing slack; gates the operator's
                                exact regime next to the canonical
                                winnowed row
    * url_dedup               — URL canonicalization + canonical-key
                                first-wins dedup (round 7): synthesized
                                messy variant pairs must collapse via
                                every normalization rule; the oracle is
                                a CLOSED-FORM expected-canonical
                                derivation, not a regex replay. Extra
                                (not canonical) because the dedup agg
                                shape is exact_dedup's min/count and
                                the projection is zero-shuffle string
                                algebra already canonically gated by
                                pii_scrub/c4_page_filter
    * bloom_words             — the Bloom filter RELATION itself
                                (round 7): value-gates bloom_build's
                                bit_or words over the full table so a
                                position/packing bug can't hide behind
                                a compensating probe in bloom_dedup
                                (the canonical row)
    * pricing_summary         — TPC-H Q1 demo: one built-in groupBy
                                agg of arithmetic expressions, no
                                custom logic of our own (same rationale
                                as shipping_priority); agg machinery is
                                canonically gated by grouped_topk /
                                event_sessions and every dedup agg;
                                ceded its slot to bloom_dedup in
                                round 7 (genuinely new bit algebra +
                                probe/confirm safety contract)
    * revenue_by_nation       — TPC-H Q5 demo: built-in Catalyst
                                multi-table joins + agg, no custom
                                logic (join machinery is canonically
                                exercised inside lsh_jaccard_verified,
                                curate_corpus, contamination,
                                dedup_survivors); ceded its slot to
                                hll_ngram_distinct in round 7
    * quality_score           — heuristic length/punct/stopword
                                ratios, a strict subset of the rule
                                families the canonical gopher_quality
                                and c4_page_filter rows gate (same
                                zero-shuffle projection shape); ceded
                                its slot to countmin_heavy in round 7
    * lsh_ann                 — banded-LSH ANN: the banding machinery
                                is canonically gated by
                                lsh_jaccard_verified (same band-join
                                shape) and the cosine verify by
                                cosine_neardup / ivf_ann /
                                quantized_ann; ceded its slot to
                                host_filter in round 7 (genuinely new
                                suffix-match algebra + two-regime join)
    * ccnet_cutoffs           — the persistable CCNet tier-boundary
                                artifact (round 7): sample-before-score
                                path + ntile boundaries value-gated so
                                a divergence pins the exact differing
                                tier (the bpe_merges /
                                classifier_weights model-table pattern);
                                the canonical ccnet_buckets row gates
                                the full-corpus tiering
    * hll_merge_shards        — the HLL merge LAW driver-gated (round
                                7): two disjoint doc shards sketched
                                independently, hll_merge'd, estimated —
                                green iff ≡ the oracle's single-pass
                                whole-corpus sketch (what makes
                                per-shard/per-day sketches mergeable
                                at 100 TB without re-reading raw data)
    * bloom_merge_shards      — the Bloom merge law driver-gated
                                (hll_merge_shards twin): two disjoint
                                shards' filters bit_or-merged must
                                equal the single-pass whole-corpus
                                filter word-for-word
    * media_resize            — nearest-neighbor resize over the same
                                from-scratch decode kernel media_decode
                                gates canonically; the index arithmetic
                                stays value-gated here and in the
                                kernel units; ceded its slot to
                                ccnet_buckets in round 7 (a genuinely
                                new target-trained scoring + tiering
                                operator)
    """
    return {
        "lsh_ann": _q_lsh_ann,
        "media_resize": _q_media_resize,
        "ccnet_cutoffs": _q_ccnet_cutoffs,
        "hll_merge_shards": _q_hll_merge_shards,
        "bloom_merge_shards": _q_bloom_merge_shards,
        "token_count": _q_token_count,
        "bpe_merges": _q_bpe_merges,
        "bloom_words": _q_bloom_words,
        "url_dedup": _q_url_dedup,
        "pricing_summary": _q_pricing_summary,
        "revenue_by_nation": _q_revenue_by_nation,
        "quality_score": _q_quality,
        "shipping_priority": _q_shipping_priority,
        "classifier_weights": _q_classifier_weights,
        "fix_mojibake": _q_fix_mojibake,
        "exact_substring_spans": _q_exact_substring_spans,
        "curate_corpus_xxhash": _q_curate_xxhash,
        "kmeans_centroids": _q_kmeans_centroids,
        "remove_dup_substrings": _q_remove_dup_substrings,
        "line_dedup": _q_line_dedup,
        "winnowing": _q_winnowing,
        "multisignal_clusters": _q_multisignal_clusters,
        "warc_extract": _q_warc_extract,
        "minhash_xxhash": _q_minhash_xxhash,
        "cosine_topk": _q_cosine_topk,
        "language_id": _q_language_id,
        "extract_documents_keyed": _q_extract_documents_keyed,
        "events_json": _q_events_json,
        "ngram_jaccard": _q_ngram_jaccard,
        "events_daily": _q_events_daily,
        "minhash_signatures": _q_minhash,
        "lsh_candidates": _q_lsh_candidates,
        "simhash": _q_simhash,
        "stratified_sample": _q_stratified_sample,
        "dedup_clusters": _q_dedup_clusters,
        "fingerprint": _q_fingerprint,
        "media_features": _q_media_features,
        "corpus_stats": _q_corpus_stats,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_documents": _EXTRACT_DOCUMENTS_SQL,
        "extract_rich": _RICH_SQL,
        "extract_topics": _EXTRACT_TOPICS_SQL,
        "assemble_conversations": _ASSEMBLE_SQL,
        "grouped_topk": _GROUPED_TOPK_SQL,
        "round_robin_merge": _ROUND_ROBIN_SQL,
        "first_wins_dedup": _FIRST_WINS_SQL,
        "regex_filter": _REGEX_FILTER_SQL,
        "requires_filter": _REQUIRES_SQL,
        "bloom_dedup": _bloom_dedup_sql(),
        "hll_ngram_distinct": _hll_ngram_sql(),
        "event_sessions": _EVENT_SESSIONS_SQL,
        "exact_dedup": _EXACT_DEDUP_SQL,
        "gopher_quality": _GOPHER_QUALITY_SQL,
        "lsh_jaccard_verified": _lsh_jaccard_verified_sql(),
        "simhash_neardup": _simhash_neardup_sql(),
        "pack_by_budget": _PACK_SQL,
        "split_assign": _split_assign_sql(),
        "dedup_survivors": _dedup_survivors_sql(),
        "incremental_dedup": _incremental_dedup_sql(),
        "contamination": _CONTAMINATION_SQL,
        "curate_corpus": _curate_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "crawl_to_corpus": _curate_sql(docs_rel=_EXTRACTED_DOCS_REL),
        "c4_span_dedup": _C4_SPAN_DEDUP_SQL,
        "cosine_neardup": _cosine_neardup_sql(),
        "host_filter": _HOST_FILTER_SQL,
        "ivf_ann": _ivf_ann_sql(),
        "bpe_token_count": _bpe_token_count_sql(),
        "countmin_heavy": _countmin_sql(),
        "repetition_score": _REPETITION_SQL,
        "pii_scrub": _pii_scrub_sql(),
        "bigram_logprob": _BIGRAM_LOGPROB_SQL,
        "tfidf_topk": _TFIDF_SQL,
        "char_entropy": _CHAR_ENTROPY_SQL,
        "dup_substring_spans": _DUP_SUBSTRING_SQL,
        "dsir_select": _dsir_sql(),
        "domain_mix": _domain_mix_sql(),
        "quality_classifier": _quality_classifier_sql(),
        "media_decode": _MEDIA_DECODE_SQL,
        "ccnet_buckets": _CCNET_BUCKETS_SQL,
        "media_frame_sample": _MEDIA_FRAMES_SQL,
        "robots_gate": _ROBOTS_GATE_SQL,
        "c4_page_filter": _C4_PAGE_FILTER_SQL,
        "warc_to_articles": _EXTRACT_DOCUMENTS_SQL,
        "warc_roundtrip": _WARC_ROUNDTRIP_SQL,
        "quantized_ann": _QUANTIZED_ANN_SQL,
        "pdf_extract": _PDF_EXTRACT_SQL,
        "boilerplate_strip": _BOILERPLATE_SQL,
        "language_filter": _LANGUAGE_FILTER_SQL,
    }


def extra_oracle_sql() -> dict[str, str]:
    """Oracles for ``extra_queries()`` — consumed by the local mimic."""
    return {
        "lsh_ann": _lsh_ann_sql(),
        "media_resize": _MEDIA_RESIZE_SQL,
        "ccnet_cutoffs": _CCNET_CUTOFFS_SQL,
        "hll_merge_shards": _hll_ngram_sql(),
        "bloom_merge_shards": _bloom_words_sql(),
        "token_count": _TOKEN_COUNT_SQL,
        "bpe_merges": _bpe_merges_sql(),
        "bloom_words": _bloom_words_sql(),
        "url_dedup": _URL_DEDUP_SQL,
        "pricing_summary": _PRICING_SUMMARY_SQL,
        "revenue_by_nation": _REVENUE_BY_NATION_SQL,
        "quality_score": _QUALITY_SQL,
        "shipping_priority": _SHIPPING_PRIORITY_SQL,
        "classifier_weights": _classifier_weights_sql(),
        "fix_mojibake": _fix_mojibake_sql(),
        "exact_substring_spans": _EXACT_SUBSTRING_SQL,
        "curate_corpus_xxhash": _curate_sql(hash_mode="xxhash64"),
        "kmeans_centroids": _kmeans_sql(),
        "remove_dup_substrings": _REMOVE_DUP_SQL,
        "line_dedup": _LINE_DEDUP_SQL,
        "winnowing": _winnowing_sql(),
        "multisignal_clusters": _multisignal_clusters_sql(),
        "extract_documents_keyed": _EXTRACT_DOCUMENTS_SQL,
        "events_json": _EVENTS_JSON_SQL,
        "minhash_signatures": _minhash_oracle_sql(),
        "lsh_candidates": _lsh_candidates_sql(),
        "simhash": _simhash_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "fingerprint": _FINGERPRINT_SQL,
        "media_features": _MEDIA_FEATURES_SQL,
        "corpus_stats": _CORPUS_STATS_SQL,
        "ngram_jaccard": _ngram_jaccard_sql(),
        "events_daily": _EVENTS_DAILY_SQL,
        "warc_extract": _WARC_EXTRACT_SQL,
        "minhash_xxhash": _minhash_xxhash_sql(),
        "cosine_topk": _COSINE_TOPK_SQL,
        "language_id": _language_id_sql(),
    }
