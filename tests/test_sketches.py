"""Unit tests for the probabilistic-sketch operators — Bloom dedup
(`operators/bloom.py`), HyperLogLog and Count-Min
(`operators/sketches.py`) — against pure-Python references built from
``hashlib.md5`` (the same hash both engines evaluate).

What these pin that the fixed-corpus DuckDB oracles do not:
* the hash/bit algebra itself, cross-checked bit-for-bit against a
  Python md5 reference (not just Spark-vs-DuckDB agreement — both
  engines could share a mistranscription of the construction);
* the sketches' defining guarantees on adversarial inputs — Bloom "no
  false negatives", Count-Min "never underestimates", HLL accuracy
  within the published error bound;
* the merge laws (union of sketches == sketch of union) that make the
  artifacts per-shard/per-day mergeable at 100 TB;
* the Bloom increment's exactness contract under a deliberately
  SATURATED filter (every probe flags → the exact confirm does all the
  work and the result must still equal the plain anti-join).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from fundus_spark.operators.bloom import (
    WORD_BITS,
    bloom_build,
    bloom_dedup_increment,
    bloom_merge,
    bloom_positions,
    bloom_probe,
)
from fundus_spark.operators.sketches import (
    HLL_SCALE,
    countmin_estimate,
    countmin_heavy_hitters,
    countmin_positions,
    countmin_sketch,
    hll_alpha,
    hll_estimate,
    hll_merge,
    hll_ngram_distinct,
    hll_registers,
)


def _md5_halves(key: str) -> tuple[int, int]:
    """The two 60-bit md5 halves the operators derive in column algebra:
    hex digits [1,15] and [16,30] (1-based), i.e. chars 0:15 and 15:30."""
    hx = hashlib.md5(key.encode("utf-8")).hexdigest()
    return int(hx[0:15], 16), int(hx[15:30], 16)


def _ref_bloom_positions(key: str, n_bits: int, n_hashes: int) -> list[int]:
    h1, h2 = _md5_halves(key)
    h1, h2 = h1 % n_bits, h2 % n_bits
    return [(h1 + i * h2) % n_bits for i in range(n_hashes)]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------


def test_bloom_positions_match_python_md5_reference(spark):
    keys = ["alpha", "beta beta", "", "Ümläut § text", "0", "a" * 500]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["pos"]
        for r in df.select(
            "k", bloom_positions(F.col("k"), 4096, 5).alias("pos")
        ).collect()
    }
    for k in keys:
        assert got[k] == _ref_bloom_positions(k, 4096, 5), k


def test_bloom_build_words_match_python_reference(spark):
    rows = [(i, f"document body number {i}") for i in range(40)]
    # reference filter: set every KM position of the normalized key
    want: dict[int, int] = {}
    for _, text in rows:
        for pos in _ref_bloom_positions(" ".join(text.split()), 1 << 12, 5):
            w, b = divmod(pos, WORD_BITS)
            want[w] = want.get(w, 0) | (1 << b)
    got = {
        r["word_idx"]: r["word"]
        for r in bloom_build(_docs(spark, rows), n_bits=1 << 12, n_hashes=5).collect()
    }
    assert got == want
    # 32-bit words only: every value fits in an unsigned 32-bit slot
    assert all(0 < w < (1 << WORD_BITS) for w in got.values())


def test_bloom_no_false_negatives_and_clear_means_novel(spark):
    frozen = _docs(spark, [(i, f"frozen text {i} " * 3) for i in range(60)])
    dups = [(1000 + i, f"frozen text {i} " * 3) for i in range(0, 60, 3)]
    novel = [(2000 + i, f"genuinely new content {i}") for i in range(30)]
    bloom = bloom_build(frozen, n_bits=1 << 14, n_hashes=5)
    probed = {
        r["doc_id"]: r["possibly_seen"]
        for r in bloom_probe(
            _docs(spark, dups + novel), bloom, n_bits=1 << 14, n_hashes=5
        ).collect()
    }
    # no false negatives: every re-keyed duplicate must flag
    assert all(probed[d] for d, _ in dups)
    # docs the filter clears are DEFINITELY novel (may not clear all,
    # false positives are legal) — none of the dups may appear clear
    cleared = {d for d, seen in probed.items() if not seen}
    assert cleared <= {d for d, _ in novel}


@pytest.mark.parametrize("n_bits", [1 << 14, 256])  # roomy, then saturated
def test_bloom_increment_is_exactly_the_anti_join(spark, n_bits):
    """The pinned contract: whatever the filter's false-positive rate —
    including a 256-bit filter that saturates and flags everything —
    the increment's novel set equals the plain anti-join on the
    normalized content fingerprint."""
    frozen = _docs(spark, [(i, f"frozen doc {i}") for i in range(50)])
    batch = _docs(
        spark,
        [(100 + i, f"frozen doc {i}") for i in range(0, 50, 2)]  # true dups
        + [(200 + i, f"new doc {i}") for i in range(25)]
        + [(300, "frozen  doc   7")],  # whitespace-normalized dup
    )
    got = {
        r["doc_id"]
        for r in bloom_dedup_increment(
            frozen, batch, n_bits=n_bits, n_hashes=5
        ).collect()
    }
    key = F.md5(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    want = {
        r["doc_id"]
        for r in batch.withColumn("fp", key)
        .join(frozen.select(key.alias("fp")).distinct(), "fp", "left_anti")
        .collect()
    }
    assert got == want
    assert {200 + i for i in range(25)} == got  # and it is the new docs


def test_bloom_null_text_policy(spark):
    """Round-8 NULL policy (round-7 verdict #2): NULL-text docs have no
    content key — they contribute no filter bits, probe
    possibly_seen=false explicitly, and SURVIVE the increment exactly
    like the plain anti-join (whose NULL fingerprint never matches)."""
    frozen = _docs(spark, [(1, "frozen doc"), (2, None)])
    batch = _docs(spark, [(10, "frozen doc"), (11, None), (12, None), (13, "new doc")])
    bloom = bloom_build(frozen, n_bits=1 << 14, n_hashes=5)
    # build: the NULL-text frozen doc leaks no junk word row
    assert all(r["word_idx"] is not None for r in bloom.collect())
    probed = {
        r["doc_id"]: r["possibly_seen"]
        for r in bloom_probe(batch, bloom, n_bits=1 << 14, n_hashes=5).collect()
    }
    assert set(probed) == {10, 11, 12, 13}  # NULL docs no longer vanish
    assert probed[11] is False and probed[12] is False
    got = {
        r["doc_id"]
        for r in bloom_dedup_increment(frozen, batch, n_bits=1 << 14, n_hashes=5).collect()
    }
    key = F.md5(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    want = {
        r["doc_id"]
        for r in batch.withColumn("fp", key)
        .join(frozen.select(key.alias("fp")).distinct(), "fp", "left_anti")
        .collect()
    }
    assert got == want == {11, 12, 13}


def test_bloom_merge_equals_build_of_union(spark):
    a = _docs(spark, [(i, f"shard-a doc {i}") for i in range(30)])
    b = _docs(spark, [(i, f"shard-b doc {i}") for i in range(30)])
    merged = {
        (r["word_idx"], r["word"])
        for r in bloom_merge(
            bloom_build(a, n_bits=1 << 12), bloom_build(b, n_bits=1 << 12)
        ).collect()
    }
    union = {
        (r["word_idx"], r["word"])
        for r in bloom_build(a.unionByName(b), n_bits=1 << 12).collect()
    }
    assert merged == union


def test_bloom_parameter_validation(spark):
    with pytest.raises(ValueError):
        bloom_positions(F.lit("x"), 1, 5)
    with pytest.raises(ValueError):
        bloom_positions(F.lit("x"), 1 << 12, 0)
    with pytest.raises(ValueError):
        bloom_positions(F.lit("x"), 1 << 40, 1 << 23)  # overflow guard
    with pytest.raises(ValueError):
        bloom_merge()


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def _ref_hll_registers(items, p):
    m = 1 << p
    regs: dict[int, int] = {}
    for it in items:
        h1, h2 = _md5_halves(it)
        idx = h1 % m
        rho = HLL_SCALE if h2 == 0 else HLL_SCALE - h2.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    return regs


def test_hll_registers_match_python_md5_reference(spark):
    items = [f"gram {i}" for i in range(500)]
    df = spark.createDataFrame([("g", it) for it in items], "grp string, item string")
    got = {
        r["idx"]: r["rho"]
        for r in hll_registers(df, "item", ["grp"], p=8).collect()
    }
    assert got == _ref_hll_registers(items, p=8)


def test_hll_estimate_within_published_error(spark):
    """p=10 → standard error 1.04/sqrt(1024) ≈ 3.25%; 10% is > 3 sigma."""
    n = 5000
    df = spark.createDataFrame(
        [("g", f"distinct item {i}") for i in range(n)] * 2,  # dups must not matter
        "grp string, item string",
    )
    est = hll_estimate(hll_registers(df, "item", ["grp"], p=10), ["grp"], p=10)
    row = est.collect()[0]
    assert abs(row["est"] - n) / n < 0.10
    assert row["n_registers"] + row["v_zero"] == 1 << 10


def test_hll_small_range_linear_counting(spark):
    """A handful of items lands in the linear-counting branch, which is
    near-exact: m·ln(m/v_zero) with v_zero = m - n_hit."""
    items = [f"it {i}" for i in range(8)]
    df = spark.createDataFrame([("g", it) for it in items], "grp string, item string")
    regs = _ref_hll_registers(items, p=10)
    m = 1 << 10
    want = round(m * math.log(m / (m - len(regs))), 4)
    row = hll_estimate(hll_registers(df, "item", ["grp"], p=10), ["grp"], p=10).collect()[0]
    assert row["est"] == pytest.approx(want, abs=1e-4)


def test_hll_merge_equals_sketch_of_union(spark):
    a = spark.createDataFrame(
        [("g", f"a {i}") for i in range(200)], "grp string, item string"
    )
    b = spark.createDataFrame(
        [("g", f"b {i}") for i in range(200)] + [("g", f"a {i}") for i in range(100)],
        "grp string, item string",
    )
    merged = {
        (r["idx"], r["rho"])
        for r in hll_merge(
            hll_registers(a, "item", ["grp"], p=8),
            hll_registers(b, "item", ["grp"], p=8),
        ).collect()
    }
    union = {
        (r["idx"], r["rho"])
        for r in hll_registers(a.unionByName(b), "item", ["grp"], p=8).collect()
    }
    assert merged == union


def test_hll_alpha_constants():
    assert hll_alpha(4) == 0.673
    assert hll_alpha(5) == 0.697
    assert hll_alpha(6) == 0.709
    assert hll_alpha(10) == pytest.approx(0.7213 / (1 + 1.079 / 1024))


def test_hll_registers_p_bounds(spark):
    df = spark.createDataFrame([("g", "x")], "grp string, item string")
    with pytest.raises(ValueError):
        hll_registers(df, "item", ["grp"], p=3)
    with pytest.raises(ValueError):
        hll_registers(df, "item", ["grp"], p=17)
    with pytest.raises(ValueError):
        hll_merge()


def test_hll_ngram_distinct_exact_column_is_exact(spark):
    docs = _docs(spark, [(i, "the quick brown fox jumps") for i in range(5)])
    row = hll_ngram_distinct(docs, group_col="doc_id", n=3, p=10).collect()
    # every doc: 3 distinct trigrams from 5 tokens
    assert all(r["exact_distinct"] == 3 for r in row)
    assert len(row) == 5


def test_hll_ngram_distinct_null_text_adds_no_gram(spark):
    """A NULL-text document has no n-grams: it takes no HLL register
    and adds nothing to the exact count, as in the DuckDB oracle."""
    rows = [(1, "g", "a b c d"), (2, "g", None), (3, "h", "a b c d")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r.asDict() for r in hll_ngram_distinct(df, n=3, p=10).collect()}
    assert got["g"]["exact_distinct"] == got["h"]["exact_distinct"] == 2
    assert got["g"]["n_registers"] == got["h"]["n_registers"] == 2
    assert got["g"]["est"] == got["h"]["est"]


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def _ref_cms_positions(key: str, d: int, w: int) -> list[int]:
    return [_md5_halves(f"{r}:{key}")[0] % w for r in range(d)]


def test_countmin_positions_match_python_md5_reference(spark):
    keys = ["tok", "", "zwei wörter", "x" * 100]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["pos"]
        for r in df.select(
            "k", countmin_positions(F.col("k"), 4, 512).alias("pos")
        ).collect()
    }
    for k in keys:
        assert got[k] == _ref_cms_positions(k, 4, 512), k


def test_countmin_never_underestimates_and_rows_sum_to_n(spark):
    # Zipf-ish stream: token i appears 200//(i+1) times
    stream = [(f"tok{i}",) for i in range(40) for _ in range(200 // (i + 1))]
    n = len(stream)
    items = spark.createDataFrame(stream, "item string")
    sketch = countmin_sketch(items, "item", d=4, w=64)  # small w forces collisions
    # every row of the sketch holds the full stream count
    sums = {r["row"]: r["s"] for r in sketch.groupBy("row").agg(F.sum("cnt").alias("s")).collect()}
    assert sums == {r: n for r in range(4)}
    est = {
        r["item"]: r["est"]
        for r in countmin_estimate(sketch, items.distinct(), "item", d=4, w=64).collect()
    }
    exact = {
        r["item"]: r["c"]
        for r in items.groupBy("item").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert all(est[k] >= exact[k] for k in exact)  # one-sided error
    # with w comfortably > distinct items, estimates are exact
    wide = countmin_sketch(items, "item", d=4, w=4096)
    est_wide = {
        r["item"]: r["est"]
        for r in countmin_estimate(wide, items.distinct(), "item", d=4, w=4096).collect()
    }
    assert est_wide == exact


def test_countmin_merge_equals_sketch_of_union(spark):
    a = spark.createDataFrame([(f"a{i % 7}",) for i in range(50)], "item string")
    b = spark.createDataFrame([(f"a{i % 5}",) for i in range(30)], "item string")
    sa, sb = countmin_sketch(a, "item", 4, 128), countmin_sketch(b, "item", 4, 128)
    merged = {
        (r["row"], r["col"]): r["cnt"]
        for r in sa.unionByName(sb)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    union = {
        (r["row"], r["col"]): r["cnt"]
        for r in countmin_sketch(a.unionByName(b), "item", 4, 128).collect()
    }
    assert merged == union


def test_countmin_heavy_hitters_find_the_heavy_tokens(spark):
    docs = _docs(
        spark,
        [(i, "heavy " * 20 + f"light{i} rare{i}") for i in range(10)],
    )
    rows = countmin_heavy_hitters(docs, d=4, w=1024, min_est=50).collect()
    by_item = {r["item"]: (r["est"], r["exact"]) for r in rows}
    assert "heavy" in by_item
    assert by_item["heavy"][1] == 200
    assert all(est >= exact for est, exact in by_item.values())
    # singletons can only surface via collisions, and never at w=1024
    assert not any(k.startswith("light") or k.startswith("rare") for k in by_item)


def test_countmin_parameter_validation(spark):
    with pytest.raises(ValueError):
        countmin_positions(F.lit("x"), 0, 512)
    with pytest.raises(ValueError):
        countmin_positions(F.lit("x"), 4, 1)
