"""Unit tests for the UT1-style host blocklist filter
(`operators/urlnorm.py::host_filter`) and the CCNet perplexity
bucketing operator (`operators/textstats.py::ccnet_perplexity_buckets`)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from fundus_spark.operators.textstats import ccnet_perplexity_buckets
from fundus_spark.operators.urlnorm import host_col, host_filter, host_suffixes_col

URLS = [
    (1, "https://x.bad.com/a"),          # subdomain of blocked bad.com
    (2, "https://bad.com/a"),            # exact blocked domain
    (3, "https://notbad.com/a"),         # label boundary: NOT blocked
    (4, "https://www.good.org/a"),       # clean
    (5, "HTTP://u:p@Deep.Sub.BAD.com:8080/x?q=1#f"),  # messy, still bad.com
    (6, "https://spam.net:443/z"),       # second entry
    (7, "https://bad.com.evil.io/a"),    # bad.com as a PREFIX, not suffix
    (8, "not a url"),                    # schemeless: empty host, clean
    (9, "https://bad.com./a"),           # FQDN root dot folded: still bad.com
]
BLOCK = ["bad.com", "spam.net", "deep.sub.bad.com"]


@pytest.fixture(scope="module")
def urls_df(spark):
    return spark.createDataFrame(URLS, ["doc_id", "url"])


def test_host_and_suffixes(spark):
    df = spark.range(1).select(
        host_col(F.lit("HTTP://u@Deep.Sub.BAD.com:8080/x")).alias("h")
    )
    assert df.collect()[0]["h"] == "deep.sub.bad.com"
    sfx = spark.range(1).select(
        host_suffixes_col(F.lit("a.b.com")).alias("s"),
        host_suffixes_col(F.lit("")).alias("empty"),
    ).collect()[0]
    assert sfx["s"] == ["a.b.com", "b.com", "com"]
    assert sfx["empty"] == []


def test_literal_blocklist_annotate(urls_df):
    out = {
        r["doc_id"]: r["matched_domain"]
        for r in host_filter(urls_df, BLOCK, mode="annotate").collect()
    }
    # longest (most specific) entry wins for doc 5
    assert out == {
        1: "bad.com",
        2: "bad.com",
        3: None,
        4: None,
        5: "deep.sub.bad.com",
        6: "spam.net",
        7: None,
        8: None,
        9: "bad.com",
    }


def test_block_and_allow_modes(urls_df):
    kept = sorted(r["doc_id"] for r in host_filter(urls_df, BLOCK).collect())
    assert kept == [3, 4, 7, 8]
    allowed = sorted(
        r["doc_id"] for r in host_filter(urls_df, BLOCK, mode="allow").collect()
    )
    assert allowed == [1, 2, 5, 6, 9]
    with pytest.raises(ValueError):
        host_filter(urls_df, BLOCK, mode="bogus")


def test_blocklist_entry_edge_dots_normalized(spark, urls_df):
    """UT1-style entries written as '.bad.com.' must match like
    'bad.com' — in both the literal and the relation regime."""
    dotted = [".bad.com.", "spam.net", ".deep.sub.bad.com"]
    want = {
        (r["doc_id"], r["matched_domain"])
        for r in host_filter(urls_df, BLOCK, mode="annotate").collect()
    }
    lit = {
        (r["doc_id"], r["matched_domain"])
        for r in host_filter(urls_df, dotted, mode="annotate").collect()
    }
    blk = spark.createDataFrame([(d,) for d in dotted], ["domain"])
    rel = {
        (r["doc_id"], r["matched_domain"])
        for r in host_filter(urls_df, blk, mode="annotate").collect()
    }
    assert lit == want
    assert rel == want


def test_dataframe_blocklist_matches_literal(spark, urls_df):
    blk = spark.createDataFrame([(d,) for d in BLOCK], ["domain"])
    lit = {
        (r["doc_id"], r["matched_domain"])
        for r in host_filter(urls_df, BLOCK, mode="annotate").collect()
    }
    rel = {
        (r["doc_id"], r["matched_domain"])
        for r in host_filter(urls_df, blk, mode="annotate").collect()
    }
    assert lit == rel
    # shuffle-join fallback (guard forced to 0) gives the same answer
    rel0 = {
        (r["doc_id"], r["matched_domain"])
        for r in host_filter(
            urls_df, blk, mode="annotate", broadcast_max_rows=0
        ).collect()
    }
    assert lit == rel0


def test_dataframe_blocklist_preserves_multiplicity(spark):
    df = spark.createDataFrame(
        [(1, "https://dup.com/a"), (1, "https://dup.com/a"), (2, "https://ok.org/b")],
        ["doc_id", "url"],
    )
    blk = spark.createDataFrame([("dup.com",)], ["domain"])
    out = host_filter(df, blk, mode="annotate")
    assert out.count() == 3  # duplicate rows NOT collapsed by the join-back


def test_literal_path_is_zero_shuffle(spark, urls_df):
    plan = host_filter(urls_df, BLOCK, mode="annotate")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing
# ---------------------------------------------------------------------------

TARGET = [
    (100, "the cat sat on the mat"),
    (101, "the dog sat on the rug"),
    (102, "the cat ate the fish"),
]
RAW = [
    (1, "the cat sat on the mat"),       # in-domain: best score
    (2, "the dog ate the fish"),         # partly in-domain
    (3, "zx qq vv kk jj ww"),            # out-of-domain garbage: worst
    (4, "the cat sat"),                  # short but in-domain
    (5, "fish the on sat"),              # scrambled
    (6, "one"),                          # single token: dropped
]


@pytest.fixture(scope="module")
def ccnet_out(spark):
    raw = spark.createDataFrame(RAW, ["doc_id", "text"])
    target = spark.createDataFrame(TARGET, ["doc_id", "text"])
    return ccnet_perplexity_buckets(raw, target).collect()


def test_ccnet_scores_and_tiers(ccnet_out):
    rows = {r["doc_id"]: r for r in ccnet_out}
    assert set(rows) == {1, 2, 3, 4, 5}  # doc 6 dropped (<2 tokens)
    # in-domain text outscores garbage
    assert rows[1]["avg_logprob"] > rows[3]["avg_logprob"]
    # tiers follow the score order: bucket 1 = head = best
    by_score = sorted(ccnet_out, key=lambda r: (-r["avg_logprob"], r["doc_id"]))
    buckets = [r["bucket"] for r in by_score]
    assert buckets == sorted(buckets), "buckets must be monotone in score order"
    assert rows[1]["tier"] == "head"
    # doc 5's bigrams are unseen AND its unigrams are frequent in
    # target, so ln(1/(c1+V)) < doc 3's ln(1/(0+V)) — scrambled
    # in-vocab text is the worst tier under add-one smoothing
    assert rows[5]["tier"] == "tail"
    assert rows[5]["avg_logprob"] < rows[3]["avg_logprob"]
    # ntile over 5 rows / 3 buckets -> sizes 2,2,1
    from collections import Counter

    assert Counter(buckets) == {1: 2, 2: 2, 3: 1}


def test_ccnet_smoothed_floor_exact(spark, ccnet_out):
    """Doc 3 (all bigrams and unigrams unseen in target) must score the
    closed-form add-one floor ln(1/V) with V = target vocab size."""
    rows = {r["doc_id"]: r for r in ccnet_out}
    vocab = len({w for _, t in TARGET for w in t.split()})
    assert rows[3]["avg_logprob"] == pytest.approx(
        round(math.log(1.0 / vocab), 4), abs=1e-9
    )


def test_ccnet_sampled_cutoffs_regime(spark):
    """mod=1 samples everyone -> identical cutoffs, and buckets must
    stay monotone non-decreasing as scores fall (boundary ties may land
    a doc one tier up vs ntile, never out of order)."""
    raw = spark.createDataFrame(RAW, ["doc_id", "text"])
    target = spark.createDataFrame(TARGET, ["doc_id", "text"])
    exact = {
        r["doc_id"]: r["bucket"]
        for r in ccnet_perplexity_buckets(raw, target).collect()
    }
    sampled = ccnet_perplexity_buckets(raw, target, cutoff_sample_mod=1).collect()
    by_score = sorted(sampled, key=lambda r: (-r["avg_logprob"], r["doc_id"]))
    buckets = [r["bucket"] for r in by_score]
    assert buckets == sorted(buckets)
    assert {r["doc_id"] for r in sampled} == set(exact)
    # with the full sample, cutoff buckets = ntile buckets exactly
    assert {r["doc_id"]: r["bucket"] for r in sampled} == exact


def test_ccnet_frozen_cutoffs_regime(spark):
    """ccnet_cutoffs + cutoffs= must reproduce the sampled regime
    exactly (same sample decision, same boundary algebra), and frozen
    cutoffs must tier a NEW batch without shifting — the append-path
    pure-per-row contract."""
    from fundus_spark.operators.textstats import ccnet_cutoffs

    raw = spark.createDataFrame(RAW, ["doc_id", "text"])
    target = spark.createDataFrame(TARGET, ["doc_id", "text"])
    sampled = {
        (r["doc_id"], r["bucket"])
        for r in ccnet_perplexity_buckets(
            raw, target, cutoff_sample_mod=1
        ).collect()
    }
    cuts = ccnet_cutoffs(raw, target, sample_mod=1)
    frozen = {
        (r["doc_id"], r["bucket"])
        for r in ccnet_perplexity_buckets(raw, target, cutoffs=cuts).collect()
    }
    assert frozen == sampled
    # a new batch tiers per-row under the SAME frozen cutoffs: growing
    # the batch cannot flip any existing doc's tier
    batch2 = raw.union(
        spark.createDataFrame([(100, "the cat sat on the mat")], ["doc_id", "text"])
    )
    again = {
        (r["doc_id"], r["bucket"])
        for r in ccnet_perplexity_buckets(batch2, target, cutoffs=cuts).collect()
        if r["doc_id"] != 100
    }
    assert again == frozen


def test_curate_increment_ccnet_requires_both_artifacts(spark):
    from pyspark.sql import functions as F

    from fundus_spark.plans import curate_increment

    df = spark.createDataFrame(
        [(i, "s", " ".join("w%d_%d tok" % (i, j) for j in range(12))) for i in range(6)],
        "doc_id long, source string, text string",
    )
    with pytest.raises(ValueError, match="BOTH ccnet_target and"):
        curate_increment(df, df.limit(0), ccnet_target=df).count()


def test_curate_increment_ccnet_drops_frozen_cutoff_tail(spark):
    """Increment-path CCNet end to end: with frozen cutoffs the output
    is the no-CCNet increment minus exactly the docs the standalone
    operator tiers into ``ccnet_drop_tiers`` under the same cutoffs."""
    from fundus_spark.operators.textstats import ccnet_cutoffs
    from fundus_spark.plans import curate_increment

    texts = [
        "the cat sat on the mat and the dog sat on the rug",
        "the dog ate the fish while the cat sat on the mat",
        "zx qq vv kk jj ww pp rr tt yy",
        "the cat ate the fish on the rug today",
        "fish the on sat rug mat cat dog the",
        "lorem ipsum dolor sit amet consectetur adipiscing",
        "the rug sat on the dog and the fish ate the cat",
        "quantum flux capacitor engages warp drive now",
        "the mat sat on the cat by the door",
    ]
    schema = "doc_id long, source string, text string"
    batch = spark.createDataFrame(
        [(10 + i, "s%d" % (i % 2), t) for i, t in enumerate(texts)], schema
    )
    frozen = spark.createDataFrame(
        [(1, "s0", "an unrelated frozen document about gardening tools")], schema
    )
    target = spark.createDataFrame(TARGET, ["doc_id", "text"])
    cuts = ccnet_cutoffs(batch, target, sample_mod=1)

    key = lambda r: (r.doc_id, r.cluster_id, r.split, r.n_tokens)  # noqa: E731
    base = {key(r) for r in curate_increment(batch, frozen).collect()}
    tiered = {
        key(r)
        for r in curate_increment(
            batch, frozen, ccnet_target=target, ccnet_cutoffs=cuts
        ).collect()
    }
    dropped = {
        r["doc_id"]
        for r in ccnet_perplexity_buckets(batch, target, cutoffs=cuts).collect()
        if r["tier"] == "tail"
    }
    assert dropped and dropped < {k[0] for k in base}
    assert tiered == {k for k in base if k[0] not in dropped}


def test_ccnet_grouped(spark):
    raw = spark.createDataFrame(
        [(i, s, t) for (i, t) in RAW for s in ("a", "b")],
        ["doc_id", "src", "text"],
    )
    target = spark.createDataFrame(TARGET, ["doc_id", "text"])
    out = ccnet_perplexity_buckets(raw, target, group_col="src").collect()
    # each group buckets independently: same per-group tier histogram
    from collections import Counter

    for g in ("a", "b"):
        buckets = Counter(r["bucket"] for r in out if r["src"] == g)
        assert buckets == {1: 2, 2: 2, 3: 1}
