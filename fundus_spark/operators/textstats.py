"""Text-analysis operators for training-data pipelines over the
``documents`` table — all pure ``pyspark.sql.functions`` column
algebra (JVM-side, whole-stage-codegen friendly; no Python UDFs).

Each operator has an exact ANSI-SQL oracle (see ``__spark_entry__``):
token counting, quality scoring (length/punct/stopword ratios),
n-gram-free language ID (stopword-hit heuristic), and deterministic
document fingerprinting (md5 of whitespace-normalized text).
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel.langdata import STOPWORDS as _LANG_STOPWORDS
from .dedup import normalized_text, text_fingerprint
from .relational import grouped_topk

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "was"]

# full Latin-script profile set (shared with the kernel's per-article
# heuristic and the DuckDB oracle): ordered, ties break earlier-first
LANG_PROFILES = [(code, sorted(words)) for code, words in _LANG_STOPWORDS]


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


# GPT-2-flavored pre-tokenization pattern, restricted to constructs
# whose semantics are identical in Java and RE2-style engines (ASCII
# classes, no lookarounds): contractions, space-prefixed letter runs,
# digit runs, punctuation runs, residual whitespace. Counting matches
# approximates BPE token counts ~1.2-1.5x better than whitespace splits
# on prose and is exactly reproducible by the SQL oracle.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+|\s+"


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select(
        "doc_id",
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        # idx=0 = whole match (Spark defaults to group 1; DuckDB to 0)
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length(text_col).cast("long").alias("n_chars_actual"),
    )


def _hits(toks: Column, words) -> Column:
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(lit_words, x)))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword heuristics (the classic pre-training
    quality gates, cf. Gopher/C4 rules)."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    punct = F.length(F.regexp_replace(text_col, r"[^.!?,;]", ""))
    stop_hits = _hits(toks, EN_STOPWORDS)
    return df.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(n_chars / n_tokens, 4).alias("mean_token_len"),
        F.round(punct / n_chars, 4).alias("punct_ratio"),
        F.round(stop_hits / n_tokens, 4).alias("stopword_ratio"),
        (
            (n_tokens >= F.lit(10))
            & (n_chars / n_tokens <= F.lit(12.0))
            & (stop_hits / n_tokens >= F.lit(0.01))
        ).alias("passes_quality"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic over the full Latin-script
    profile set — deterministic (ties break toward the earlier
    profile), SQL-portable, pure column algebra (one pass over the
    token array per profile, no shuffle).

    The 55-profile expression tree is built as SQL strings parsed once
    per column instead of thousands of py4j ``Column`` calls — the
    old construction cost ~2 s of driver time PER QUERY BUILD at any
    data size; the parsed expressions are semantically identical
    (same ``size(filter(...))`` hits, same greatest/tie-break)."""

    def _sql_quote(w: str) -> str:
        return "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'"

    # one two-stage select, mirroring the oracle's hits-CTE shape: the
    # hit counts are computed once as named columns, then the argmax /
    # tie-break reads the plain column refs
    low = f"transform(split(trim({text_col}), '\\\\s+'), x -> lower(x))"
    hit_exprs = [
        (
            code,
            f"size(filter({low}, x -> array_contains(array("
            + ",".join(_sql_quote(w) for w in words)
            + "), x)))",
        )
        for code, words in LANG_PROFILES
    ]
    hits = df.select(
        "doc_id",
        *[F.expr(e).alias(f"_h_{code}") for code, e in hit_exprs],
    )
    all_hits = ", ".join(f"_h_{code}" for code, _ in LANG_PROFILES)
    whens = " ".join(
        f"WHEN _h_{code} = greatest({all_hits}) THEN '{code}'"
        for code, _ in LANG_PROFILES
    )
    pred = F.expr(
        f"CASE WHEN greatest({all_hits}) = 0 THEN 'und' {whens} ELSE 'und' END"
    )
    out_cols = ["doc_id", pred.alias("lang_pred")]
    for code, _ in LANG_PROFILES[:3]:  # keep the original diagnostic columns
        out_cols.append(F.col(f"_h_{code}").cast("long").alias(f"{code}_hits"))
    return hits.select(*out_cols)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic content fingerprint: md5 of the
    whitespace-normalized text (portable across engines)."""
    return df.select("doc_id", text_fingerprint(text_col).alias("fp"))


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    max_chars: int = 2048,
    text_col: str = "text",
    emit_positions: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every character k-gram, slide a window of
    ``window`` consecutive hashes, keep each window's MINIMUM — the
    guaranteed-coverage rolling-hash selection that detects shared
    substrings of length >= k + window - 1 between documents.

    Entirely JVM column algebra: the k-gram hash array, the windowed
    minima, and the dedup are `transform`/`slice`/`array_min`/
    `array_distinct` over one row — no explode until the final
    fingerprint output, no Python. ``max_chars`` bounds per-row array
    size (at 100 TB you fingerprint a documented prefix, not unbounded
    payloads). Hashes are md5-derived (first 8 hex chars as int64) so
    the DuckDB oracle recomputes them exactly; swap xxhash64 for
    production like minhash's hash_mode.

    ``emit_positions=True`` additionally records WHERE each selected
    k-gram starts (1-based char offset in the normalized+clipped text;
    ties inside a window break to the FIRST occurrence of the minimum,
    the rule ``list_position`` replays exactly in the oracle) — the
    input ``dup_substring_spans`` needs to localize duplicated
    substrings, not just flag documents sharing one.

    Plan shape (round 6): the k-gram relation is EXPLODED to one row
    per gram start and hashed there, because higher-order-function
    lambdas are interpreted expression trees (CodegenFallback) — an
    md5 inside ``transform`` costs ~4x an md5 inside a whole-stage-
    codegen'd projection (measured 16.6s -> 3.9s at sf0.1). The window
    minimum is one ``min(struct(fp, pos))`` over a 4-row sliding frame
    partitioned by doc (struct min = (value, first-occurrence) — the
    winnowing tie-break for free), and consecutive duplicate
    selections collapse with a ``lag`` filter over the SAME window
    partitioning — no extra exchange: winnowing theory guarantees a
    selection's occurrences are one contiguous run (a window between
    two windows selecting (fp, pos) contains pos, its min can't be
    smaller, and an equal-valued earlier position would have won the
    first window's tie-break too). ``max_chars`` bounds the per-doc
    row count, so the doc-partitioned window never sees a skewed key.
    """
    from pyspark.sql.window import Window

    from .adaptive import adaptive_repartition

    clipped = F.substring(normalized_text(text_col), 1, max_chars)
    ng = F.length("_wt") - F.lit(k - 1)
    # the per-character hash projection below is the compute-bound part;
    # lift a small under-partitioned input to full parallelism first
    base = adaptive_repartition(
        df.select("doc_id", clipped.alias("_wt")).where(F.length("_wt") >= k),
        cols=("doc_id",),
    )
    grams = base.select(
        "doc_id",
        "_wt",
        (ng - F.lit(window - 1)).alias("_nw"),
        F.explode(F.sequence(F.lit(1), ng)).alias("_pos"),
    )
    hashed = grams.select(
        "doc_id",
        "_nw",
        "_pos",
        F.conv(F.substring(F.md5(F.col("_wt").substr(F.col("_pos"), F.lit(k))), 1, 8), 16, 10)
        .cast("long")
        .alias("_fp"),
    )
    by_pos = Window.partitionBy("doc_id").orderBy("_pos")
    selected = (
        hashed.withColumn(
            "_sel", F.min(F.struct(F.col("_fp"), F.col("_pos"))).over(by_pos.rowsBetween(0, window - 1))
        )
        # windows start at 1..n_windows (>= 1: a doc shorter than
        # k+window-1 gets one partial window, same as the HOF version)
        .where(F.col("_pos") <= F.greatest(F.col("_nw"), F.lit(1)))
        .withColumn("_prev", F.lag("_sel").over(by_pos))
        .where(F.col("_prev").isNull() | (F.col("_prev") != F.col("_sel")))
    )
    if emit_positions:
        return selected.select(
            "doc_id", F.col("_sel._fp").alias("fp"), F.col("_sel._pos").alias("pos")
        )
    # the same fp can be selected at several positions within a doc;
    # the fingerprint SET semantics of the positionless variant need
    # one per-doc dedup on the value alone
    return selected.select("doc_id", F.col("_sel._fp").alias("fp")).dropDuplicates(
        ["doc_id", "fp"]
    )


def repetition_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """Gopher/MassiveText repetition-quality signals per document over
    word ``n``-grams (Rae et al. 2021 §A1.1 "repetition" filters):

    * ``dup_gram_frac`` — fraction of n-gram characters contributed by
      repeat occurrences: ``sum(len(g) * (count(g) - 1)) / sum(len(g)
      * count(g))`` over the doc's grams. High values flag looping /
      boilerplate-stuffed text.
    * ``top_gram_frac`` — character share of the single most frequent
      n-gram: ``max(len(g) * count(g)) / sum(len(g) * count(g))``.

    Scale shape: explode -> groupBy(doc, gram) -> groupBy(doc), both
    map-side combinable; no within-row O(n²) higher-order-function
    scan, so a pathological 1 MB document costs O(grams) not
    O(grams²). Ties in ``top_gram_frac`` need no tiebreak — only the
    maximal char mass is reported, not the gram.
    """
    from .adaptive import adaptive_repartition
    from .dedup import word_shingles

    # word_shingles binds the token array (one-element-array wrapper)
    # so Catalyst cannot inline the split per gram — O(tokens^2)
    # otherwise (one 40k-token doc took 196s; bound, <2s)
    grams = word_shingles(F.col(text_col), n)
    exploded = adaptive_repartition(df, cols=(id_col,)).select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram")
    )
    per_gram = exploded.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("c"), F.length(F.col("gram")).alias("glen")
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum(F.col("glen") * F.col("c")).alias("_total"),
            F.sum(F.col("glen") * (F.col("c") - 1)).alias("_dup"),
            F.max(F.col("glen") * F.col("c")).alias("_top"),
        )
        .select(
            "doc_id",
            # _total = 0 iff the doc has no gram characters (empty or
            # all-whitespace text): no repetition by definition, and an
            # unguarded division crashes under ANSI mode
            F.when(F.col("_total") > 0, F.round(F.col("_dup") / F.col("_total"), 4))
            .otherwise(F.lit(0.0))
            .alias("dup_gram_frac"),
            F.when(F.col("_total") > 0, F.round(F.col("_top") / F.col("_total"), 4))
            .otherwise(F.lit(0.0))
            .alias("top_gram_frac"),
        )
    )


def bigram_logprob_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """CCNet/KenLM-style statistical quality score, self-trained: fit an
    add-one-smoothed bigram language model on the corpus itself, then
    score every document by its mean bigram log-probability
    ``avg(ln((C(w1,w2)+1) / (C(w1)+V)))`` — unusually improbable word
    sequences (garbled text, spam keyword stuffing) score low. Docs
    with fewer than 2 tokens are dropped (no bigrams to score).

    Everything is column algebra — the "training" is two
    map-side-combinable count aggregations over the exploded bigram
    relation, the "inference" one equi-join of bigram instances to
    their counts. At fixture scale the model relations are broadcast-
    size; at 100 TB they shuffle-join on the bigram key (hot-word skew
    lands on stopword bigrams — AQE skew-join handles it) and the
    model can be persisted once and reused across scoring runs.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # bind the token array: referencing the split expression inside the
    # per-position lambda would re-evaluate it per bigram (O(tokens^2))
    bigrams = F.transform(
        F.array(toks),
        lambda ts: F.when(
            F.size(ts) < 2, F.array().cast("array<struct<w1:string,w2:string>>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 1),
                lambda i: F.struct(F.element_at(ts, i).alias("w1"), F.element_at(ts, i + 1).alias("w2")),
            )
        ),
    )[0]
    inst = df.select(F.col(id_col).alias("doc_id"), F.explode(bigrams).alias("bg")).select(
        "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # vocab size as a lazy scalar-aggregate cross join (the SQL
    # oracle's `v` CTE shape), NOT an eager .count(): no extra corpus
    # scan at operator-construction time, and the plan stays a single
    # lazy DAG (usable under readStream)
    vocab = uni.agg(F.count(F.lit(1)).alias("vocab"))
    bi = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        inst.join(bi, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log((F.col("c2") + 1) / (F.col("c1") + F.col("vocab")))), 4
            ).alias("avg_logprob")
        )
    )
    return scored


def _ccnet_scored(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    gcols: list,
) -> DataFrame:
    """Per-doc mean bigram log-probability of ``raw`` under the add-one
    bigram LM trained on ``target`` — the shared scoring core of
    :func:`ccnet_perplexity_buckets` / :func:`ccnet_cutoffs`. Scores
    depend only on (doc, target), never on other raw docs."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    bigrams = F.transform(
        F.array(toks),
        lambda ts: F.when(
            F.size(ts) < 2, F.array().cast("array<struct<w1:string,w2:string>>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 1),
                lambda i: F.struct(
                    F.element_at(ts, i).alias("w1"),
                    F.element_at(ts, i + 1).alias("w2"),
                ),
            )
        ),
    )[0]
    # -- model, from TARGET only ------------------------------------
    t_uni = (
        target.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    t_bi = (
        target.select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    vocab = t_uni.agg(F.count(F.lit(1)).alias("vocab"))
    # -- score RAW under the target model ---------------------------
    inst = raw.select(
        F.col(id_col).alias("doc_id"), *gcols, F.explode(bigrams).alias("bg")
    ).select("doc_id", *gcols, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    return (
        inst.join(t_bi, ["w1", "w2"], "left")
        .join(t_uni, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", *gcols)
        .agg(
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("vocab"))
                    )
                ),
                4,
            ).alias("avg_logprob")
        )
    )


def ccnet_perplexity_buckets(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_buckets: int = 3,
    group_col: str | None = None,
    cutoff_sample_mod: int | None = None,
    cutoffs: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, §4.4):
    score every raw document under a language model trained on a CLEAN
    target corpus (CCNet uses Wikipedia + KenLM 5-gram; here the repo's
    add-one-smoothed bigram LM — same estimator family as
    :func:`bigram_logprob_score`, but trained on ``target``, not on the
    corpus being scored), then split the corpus into ``n_buckets``
    equal-frequency tiers — CCNet's head/middle/tail — so downstream
    training mixes can sample by tier instead of hard-filtering.

    Output: one row per raw doc with ≥ 2 tokens —
    ``(doc_id[, group], avg_logprob, bucket, tier)``; bucket 1 is the
    BEST tier (highest mean bigram log-probability = lowest
    perplexity), ``tier`` is head/middle/tail when ``n_buckets=3``,
    else ``b<k>``. Bigrams unseen in target get the smoothed floor
    ``ln(1/(c1+V))`` (and ``c1=0`` for unseen unigrams), so
    out-of-domain text scores low instead of crashing — the exact
    add-one algebra, replayed verbatim by the DuckDB oracle.

    Scale shape: training is two map-side-combinable count aggs over
    the TARGET (bounded by target vocab, not corpus size); scoring is
    two equi-joins on the bigram/unigram key (AQE broadcasts the model
    relations when they fit, falls back to shuffle joins with skew
    handling when they don't — stopword bigrams are the hot keys).
    Bucketing, two regimes:

    * exact (default): ``ntile(n_buckets)`` over the per-group total
      order ``(avg_logprob DESC, doc_id)`` — scores are rounded to 4
      places first so the order (and every tie-break) is engine-exact.
      One window = one sort per group; this is also precisely what
      CCNet's paper pipeline does per language.
    * sampled (``cutoff_sample_mod=m``): at 100 TB a total sort per
      group is the wrong plan, and CCNet itself computes cutoffs from
      a sample. Docs whose ``md5(doc_id) % m == 0`` (the repo's
      deterministic split_assign decision) form the sample; cutoffs =
      the sample's per-tier minimum score, broadcast back (≤
      groups×(n_buckets-1) rows), and every doc buckets by comparing
      against them — ``1 + Σ(score < cutoff)``. No global sort, no
      window over the corpus; tier populations are approximate exactly
      as in the paper.
    * frozen (``cutoffs=`` a persisted :func:`ccnet_cutoffs` relation):
      the append-path regime — tiering becomes a PURE per-row decision
      given (target model, cutoffs), so batch docs tier identically
      whether curated today or replayed next year; the frozen-state
      philosophy of ``plans/frozen_store`` applied to quality tiers.
    """
    from pyspark.sql import Window

    gcols = [group_col] if group_col else []
    scored = _ccnet_scored(raw, target, text_col, id_col, gcols)
    if cutoffs is not None:
        bucketed = _ccnet_bucket_by_cutoffs(scored, cutoffs, gcols)
    elif cutoff_sample_mod is None:
        part = [F.col(c) for c in gcols] if gcols else [F.lit(1)]
        w = Window.partitionBy(*part).orderBy(
            F.desc("avg_logprob"), F.asc("doc_id")
        )
        bucketed = scored.withColumn("bucket", F.ntile(n_buckets).over(w).cast("long"))
    else:
        cut = _ccnet_cutoffs_from_scored(
            scored, gcols, n_buckets=n_buckets, sample_mod=cutoff_sample_mod
        )
        bucketed = _ccnet_bucket_by_cutoffs(scored, cut, gcols)
    tier = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        if n_buckets == 3
        else F.concat(F.lit("b"), F.col("bucket"))
    )
    return bucketed.select("doc_id", *gcols, "avg_logprob", "bucket", tier.alias("tier"))


def _ccnet_cutoffs_from_scored(
    scored: DataFrame,
    gcols: list,
    *,
    n_buckets: int,
    sample_mod: int | None,
) -> DataFrame:
    """Tier cutoffs ``(group…, tier, lo)`` from a scored relation:
    tier ``t``'s ``lo`` is the minimum score a doc may have and still
    land in tier ``t`` (tiers 1..n_buckets-1; everything below the last
    ``lo`` is the bottom tier). ``sample_mod`` draws the deterministic
    md5 sample (the repo-standard split_assign decision) before the
    per-group ntile — with it, the sort is over the sample only."""
    from pyspark.sql import Window

    from fundus_spark.operators.sampling import hash_bucket

    sample = scored
    if sample_mod is not None:
        sample = scored.where(
            hash_bucket(F.col("doc_id"), salt="ccnet") % sample_mod == 0
        )
    part = [F.col(c) for c in gcols] if gcols else [F.lit(1)]
    sw = Window.partitionBy(*part).orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
    return (
        sample.withColumn("tier", F.ntile(n_buckets).over(sw))
        .where(F.col("tier") < n_buckets)
        .groupBy(*gcols, "tier")
        .agg(F.min("avg_logprob").alias("lo"))
    )


def _ccnet_bucket_by_cutoffs(
    scored: DataFrame, cutoffs: DataFrame, gcols: list
) -> DataFrame:
    """Bucket every scored doc by frozen cutoffs: ``1 + Σ(score < lo)``.
    LEFT join so empty cutoffs (tiny group, large sample mod) yield
    bucket=1 everywhere, never drop the corpus."""
    join_keys = gcols if gcols else ["_g"]
    lhs = scored if gcols else scored.withColumn("_g", F.lit(1))
    rhs = cutoffs if gcols else cutoffs.withColumn("_g", F.lit(1))
    joined = lhs.join(F.broadcast(rhs), join_keys, "left").drop("_g")
    return joined.groupBy("doc_id", *gcols, "avg_logprob").agg(
        (1 + F.sum(F.when(F.col("avg_logprob") < F.col("lo"), 1).otherwise(0)))
        .cast("long")
        .alias("bucket")
    )


def ccnet_cutoffs(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_buckets: int = 3,
    group_col: str | None = None,
    sample_mod: int | None = None,
) -> DataFrame:
    """The persistable CCNet cutoff artifact ``(group…, tier, lo)`` —
    the freeze-contract companion to :func:`ccnet_perplexity_buckets`:
    compute tier boundaries ONCE over a reference corpus (optionally
    from a deterministic md5 sample — with ``sample_mod`` only the
    sample is ever scored, so the artifact costs O(corpus/mod) LM
    joins and no corpus-wide sort), persist them next to the target
    model, and tier every future batch per-row by passing
    ``cutoffs=`` — the same frozen-state philosophy as
    ``plans/frozen_store``: append-time decisions never shift because
    the corpus grew."""
    gcols = [group_col] if group_col else []
    base = corpus
    if sample_mod is not None:
        from fundus_spark.operators.sampling import hash_bucket

        # sample BEFORE scoring: per-doc scores depend only on the
        # target model, so filtering first is exactly equivalent and
        # skips the LM joins for every unsampled doc
        base = corpus.where(
            hash_bucket(F.col(id_col), salt="ccnet") % sample_mod == 0
        )
    scored = _ccnet_scored(base, target, text_col, id_col, gcols)
    return _ccnet_cutoffs_from_scored(scored, gcols, n_buckets=n_buckets, sample_mod=None)


def tfidf_topk(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-``k`` keywords per document by tf-idf (term frequency x
    ``ln(N / doc_frequency)``), the classic topic-tagging signal.
    Ordering is fully deterministic: score is rounded before ranking
    and ties break on the term string, so the DuckDB oracle replays
    the exact same window.

    Scale shape: explode -> per-doc term counts (map-side combinable)
    -> doc-frequency agg over distinct (doc, term) -> join -> per-doc
    window top-k (WindowGroupLimit pushes the rank filter below the
    sort at 100 TB). N is one count on the input relation.
    """
    # corpus size as a lazy scalar aggregate (no eager .count() job,
    # no extra scan; see bigram_logprob_score note)
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(docfreq, "term").crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6).alias("tfidf"),
    )
    return grouped_topk(scored, ["doc_id"], "tfidf", k, tiebreak_col="term").select(
        "doc_id", "term", "tfidf", F.col("rank").cast("long").alias("rank")
    )


#: a line "ends a sentence" when its last non-space char is terminal
#: punctuation — the C4 line-keep rule (Raffel et al. 2020, §2.2).
#: ASCII-only so Java (Spark) and RE2 (DuckDB oracle) agree exactly.
C4_TERMINAL_RE = r'[.!?"]\s*$'


def c4_page_filter(
    df: DataFrame,
    text_col: str = "page",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    blocklist: Optional[Sequence[str]] = None,
) -> DataFrame:
    """The classic C4 heuristic cleaning pass (Raffel et al. 2020 §2.2,
    also the FineWeb baseline filters), as pure JVM column algebra —
    line-level and document-level rules in one zero-shuffle projection:

    * keep only lines with >= ``min_words_per_line`` words AND terminal
      punctuation (``C4_TERMINAL_RE``);
    * drop documents whose KEPT text has < ``min_sentences`` sentence
      terminators, or that contain "lorem ipsum" (case-insensitive) or
      a curly brace anywhere (code/boilerplate tells).

    Emits the per-rule evidence columns (not just the verdict) so a
    pipeline can tune thresholds without re-running: n_lines,
    n_kept_lines, n_sentences, has_lorem_ipsum, has_curly_brace,
    has_blocked_word, keep, kept_text.

    ``blocklist`` is C4's bad-words page rule (the original used an
    externally maintained 400+-entry list — supply your own): a page
    containing ANY listed word (case-insensitive, whole-word) is
    dropped. Compiled into ONE regex alternation evaluated JVM-side —
    a few hundred literal words is a small machine, not a join, and
    the words are regex-escaped so list entries are literals. With no
    list, ``has_blocked_word`` is constant false and the rule is
    inert. At 100 TB this is a narrow map: no shuffle, no UDF,
    whole-stage codegen end-to-end."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda l: (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line)
        & l.rlike(C4_TERMINAL_RE),
    )
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.size(F.regexp_extract_all(kept_text, F.lit(r"[.!?]"), F.lit(0)))
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    if blocklist:
        # one alternation, escaped literals, word-bounded, (?i) —
        # RE2-portable (no backrefs/lookaround) like the PII patterns
        pat = r"(?i)\b(?:" + "|".join(re.escape(w) for w in blocklist) + r")\b"
        has_blocked = F.col(text_col).rlike(pat)
    else:
        has_blocked = F.lit(False)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sentences.cast("long").alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_curly_brace"),
        has_blocked.alias("has_blocked_word"),
        (
            (n_sentences >= min_sentences) & ~has_lorem & ~has_brace & ~has_blocked
        ).alias("keep"),
        kept_text.alias("kept_text"),
    )


#: the Gopher "required stop words" list (Rae et al. 2021 §A1.1): a
#: document must contain at least 2 of these to survive.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "page",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The full Gopher/MassiveText document-quality rule set (Rae et
    al. 2021 §A1.1, the non-repetition half — ``repetition_score``
    covers the dup-n-gram half), as one zero-shuffle JVM projection:

    * word count in ``[min_words, max_words]``;
    * mean word length in ``[min_mean_word_len, max_mean_word_len]``;
    * symbol-to-word ratio (``#`` or ellipsis) <= ``max_symbol_word_ratio``;
    * <= ``max_bullet_line_frac`` of lines starting with a bullet;
    * <= ``max_ellipsis_line_frac`` of lines ending with an ellipsis;
    * >= ``min_alpha_word_frac`` of words containing a letter;
    * >= ``min_stopword_hits`` distinct ``GOPHER_STOPWORDS`` present.

    Emits per-rule evidence columns (counts and ratios, rounded to 4
    for display; the ``keep`` verdict uses the unrounded values) so
    thresholds tune without re-running. ASCII-only regexes plus the
    literal bullet/ellipsis code points, so Java (Spark) and RE2
    (DuckDB oracle) agree exactly. At 100 TB this is a narrow map: no
    shuffle, no UDF, whole-stage codegen end-to-end."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(words)
    sum_word_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = sum_word_len / n_words
    n_symbols = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"#|\.\.\.|…"), F.lit(0)))
    symbol_ratio = n_symbols / n_words
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    bullet_frac = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[•\-*] "))) / n_lines
    ellipsis_frac = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))) / n_lines
    alpha_frac = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words
    low_words = F.transform(words, lambda w: F.lower(w))
    stop_hits = sum(
        F.array_contains(low_words, w).cast("int") for w in GOPHER_STOPWORDS
    )
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_word_ratio)
        & (bullet_frac <= max_bullet_line_frac)
        & (ellipsis_frac <= max_ellipsis_line_frac)
        & (alpha_frac >= min_alpha_word_frac)
        & (stop_hits >= min_stopword_hits)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_word_ratio"),
        F.round(bullet_frac, 4).alias("frac_bullet_lines"),
        F.round(ellipsis_frac, 4).alias("frac_ellipsis_lines"),
        F.round(alpha_frac, 4).alias("frac_alpha_words"),
        stop_hits.cast("long").alias("n_stopword_hits"),
        keep.alias("keep"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_chars: int = 2048
) -> DataFrame:
    """Shannon entropy (bits/char) of the character distribution over
    the first ``max_chars`` characters — the classic low-entropy junk
    detector (repetitive filler, padding, encoded blobs score low;
    natural text sits ~4 bits/char). Pure within-row array algebra:
    O(distinct_chars x len) per doc via lambda-BOUND arrays (binding
    the char array once keeps Catalyst from inlining it per element —
    the winnowing lesson), bounded by ``max_chars``. Zero shuffles.
    Docs with empty/null text yield entropy 0.0 / no row respectively
    (split of null emits nothing through explode-free select: null in,
    null out -> filtered)."""
    raw = F.split(F.substring(F.trim(F.col(text_col)), 1, max_chars), "")
    # defensively drop empty split artifacts, then BIND the char array
    # to a lambda variable via the one-element-array wrapper (the
    # winnowing lesson above): referencing the split EXPRESSION inside
    # the nested per-distinct-char filter would let Catalyst inline and
    # recompute the split once per (distinct char x char) — O(n^2)
    ent = F.transform(
        F.array(F.filter(raw, lambda c: c != F.lit(""))),
        lambda cs: F.when(F.size(cs) > 0, F.aggregate(
            F.transform(
                F.array_distinct(cs),
                lambda c: F.size(F.filter(cs, lambda x: x == c)) / F.size(cs),
            ),
            F.lit(0.0),
            lambda acc, p: acc - p * F.log2(p),
        )).otherwise(F.lit(0.0)),
    )[0]
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), F.round(ent, 4).alias("entropy_bits"))
    )
