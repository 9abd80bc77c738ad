"""Mergeable frequency/cardinality sketches — HyperLogLog (Flajolet et
al. 2007) and Count-Min (Cormode & Muthukrishnan 2005) — built as plain
column algebra so the driver's DuckDB oracle replays every register and
counter bit-exactly.

Why next to the exact aggregations the engine already has: at 100 TB a
``COUNT(DISTINCT shingle)`` per group shuffles every distinct item, and
a per-token exact frequency table is O(vocabulary). Both sketches keep
O(registers) state per group — ``2^p`` HLL registers / ``d·w`` Count-Min
counters — and both are UNIONS under simple aggregates (``max`` of
registers, ``sum`` of counters), so per-shard/per-day sketches built
independently merge into the corpus sketch without touching raw data
again. That is the shape a continuously-ingesting curation pipeline
needs for "how many distinct n-grams did we add this week" and "which
tokens are heavy" style telemetry.

Engine-exact by construction (the ``bloom.py`` contract): every hash is
two 60-bit md5 halves via the repo-standard ``CAST('0x'||substr(md5(x),
…) AS BIGINT)`` idiom, leading-zero ranks come from ``length(bin(h))``
(both engines print minimal-length binary), and the HLL harmonic sum is
kept EXACT as a sum of ``2^(61-rho)`` integers in ``decimal(38,0)``
(Spark) / HUGEINT-backed ``SUM`` (DuckDB) — the only float ops are the
final bias-corrected division and the small-range ``ln``, which follow
the same double-then-``round(…,4)`` gating precedent as
``bigram_logprob``.

The reference has no sketching surface at all (its crawler's
``only_unique`` URL set is an in-process Python set,
``src/fundus/scraping/crawler.py:447-450``); these are cleaning-layer
extensions of that dedup/telemetry contract to corpus scale.

Scale shape:
* HLL — one narrow projection per item (md5 + two substrings), then
  ``groupBy(group, register)`` with ``max(rho)``: map-side combinable,
  post-combine shuffle volume ≤ ``groups × 2^p`` rows however large the
  corpus. Estimation is a per-group agg over ≤ ``2^p`` rows.
* Count-Min — ``d`` positions per item (narrow explode), then
  ``groupBy(row, col)`` count: map-side combinable, ≤ ``d·w`` rows out.
  Point queries join the (tiny, broadcast) sketch ``d`` times via one
  exploded join + ``min``.
"""

from __future__ import annotations

import math
from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: scaled harmonic-sum exponent: a register with rank ``rho`` contributes
#: ``2^(HLL_SCALE - rho)`` to the exact integer sum, an empty register
#: (rho = 0) contributes ``2^HLL_SCALE``. 61 because rho ∈ [1, 61]
#: (60-bit hash half), so every term is a positive BIGINT power of two.
HLL_SCALE = 61


def hll_alpha(p: int) -> float:
    """Standard HLL bias-correction constant for ``m = 2^p`` registers
    (Flajolet et al. 2007, fig. 3). Injected as a literal into BOTH
    engines' plans via ``repr`` so the double is identical."""
    if p == 4:
        return 0.673
    if p == 5:
        return 0.697
    if p == 6:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / (1 << p))


def _h60(key: Column, lo: int) -> Column:
    """One 60-bit unsigned half of ``md5(key)`` starting at 1-based hex
    offset ``lo`` — the repo-standard portable md5→BIGINT idiom."""
    return F.conv(F.substring(F.md5(key), lo, 15), 16, 10).cast("bigint")


def hll_rho(h: Column) -> Column:
    """Rank of the leftmost 1-bit of a 60-bit value, 1-based from the
    MSB of the 60-bit window: ``61 - bit_length(h)``; an all-zero half
    ranks 61. ``bit_length`` is ``length(bin(h))`` — Spark and DuckDB
    both print minimal-length binary (``bin(5) = '101'``)."""
    return F.when(h == 0, F.lit(HLL_SCALE)).otherwise(
        F.lit(HLL_SCALE) - F.length(F.bin(h))
    )


def hll_registers(
    df: DataFrame,
    item_col: str = "item",
    group_cols: Sequence[str] = ("source",),
    p: int = 10,
) -> DataFrame:
    """Sparse HLL register relation ``(group…, idx, rho)`` — only
    registers with ≥ 1 observation are present; ``rho`` is the max rank
    observed. ``max`` makes this map-side combinable AND the merge
    operator: union two register relations and re-``max`` to get the
    sketch of the union of the inputs."""
    if not 4 <= p <= 16:
        raise ValueError(f"need 4 <= p <= 16, got {p}")
    m = 1 << p
    gs = list(group_cols)
    item = F.col(item_col)
    return (
        df.select(
            *gs,
            F.pmod(_h60(item, 1), F.lit(m)).alias("idx"),
            hll_rho(_h60(item, 16)).alias("r"),
        )
        .groupBy(*gs, "idx")
        .agg(F.max("r").alias("rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union of HLL sketches built with the SAME ``p``: one more
    ``max`` groupBy — the per-shard/per-day merge at 100 TB."""
    if not sketches:
        raise ValueError("hll_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "rho"]
    return out.groupBy(*keys).agg(F.max("rho").alias("rho"))


def hll_estimate(
    registers: DataFrame,
    group_cols: Sequence[str] = ("source",),
    p: int = 10,
) -> DataFrame:
    """Cardinality estimate per group from a register relation.

    Output ``(group…, n_registers, v_zero, est)``. The harmonic sum is
    exact integer math (``sum(2^(61-rho))`` in decimal(38,0) plus
    ``v_zero · 2^61``); the raw estimate is ONE double division by that
    exact sum, and the small-range regime applies linear counting
    ``m·ln(m/v_zero)`` when ``est ≤ 2.5m`` and zeros remain (Flajolet
    et al. 2007 §4) — both branches rounded to 4 places for gating.
    """
    m = 1 << p
    gs = list(group_cols)
    # alpha·m²·2^61 as one Python double so both engines divide the same
    # literal by the same exact integer sum — a single float rounding.
    c_num = hll_alpha(p) * m * m * float(1 << HLL_SCALE)
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_SCALE} - rho AS INT))")
    agg = registers.groupBy(*gs).agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(term.cast("decimal(38,0)")).alias("s_present"),
    )
    v_zero = F.lit(m) - F.col("n_registers")
    s_total = F.col("s_present") + v_zero.cast("decimal(38,0)") * F.lit(
        1 << HLL_SCALE
    ).cast("decimal(38,0)")
    e_raw = F.lit(c_num) / s_total.cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        *gs,
        F.col("n_registers").cast("long").alias("n_registers"),
        v_zero.cast("long").alias("v_zero"),
        F.round(est, 4).alias("est"),
    )


def hll_ngram_distinct(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
    p: int = 10,
) -> DataFrame:
    """Distinct word-``n``-gram cardinality per group, HLL-estimated
    next to the exact count so accuracy is visible in the gated output:
    ``(group, exact_distinct, n_registers, v_zero, est)``.

    The exact side exists for the gate/demo; the production telemetry
    path is :func:`hll_registers` + :func:`hll_merge` alone — O(2^p)
    state per group, no distinct-shuffle of the grams themselves.
    """
    from .adaptive import adaptive_repartition
    from .dedup import word_shingles

    grams = adaptive_repartition(df).select(
        F.col(group_col).alias("grp"), F.explode(word_shingles(F.col(text_col), n)).alias("item")
    )
    regs = hll_registers(grams, "item", ["grp"], p)
    ests = hll_estimate(regs, ["grp"], p)
    exact = grams.groupBy("grp").agg(
        F.count_distinct("item").alias("exact_distinct")
    )
    return (
        exact.join(ests, "grp")
        .select(
            F.col("grp").alias(group_col),
            "exact_distinct",
            "n_registers",
            "v_zero",
            "est",
        )
    )


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def countmin_positions(key: Column, d: int, w: int) -> Column:
    """Array of ``d`` column indices in ``[0, w)`` for a key — row ``r``
    hashes ``md5('r:' || key)``'s first 60 bits mod ``w``. Independent
    salted hashes per row (the classic construction); all replayable."""
    if d < 1 or w < 2:
        raise ValueError(f"need d >= 1 and w >= 2, got {d}/{w}")
    return F.array(
        *[F.pmod(_h60(F.concat(F.lit(f"{r}:"), key), 1), F.lit(w)) for r in range(d)]
    )


def countmin_sketch(
    df: DataFrame, item_col: str = "item", d: int = 4, w: int = 512
) -> DataFrame:
    """Sketch relation ``(row, col, cnt)`` — ≤ ``d·w`` rows out of a
    map-side-combinable count, whatever the corpus size. Merging two
    sketches (same ``d, w``) is ``unionByName`` + re-``sum``."""
    pos = df.select(
        F.posexplode(countmin_positions(F.col(item_col), d, w)).alias("row", "col")
    )
    return pos.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))


def countmin_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str = "item",
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Point-query frequencies: ``(item, est)`` with
    ``est = min_r sketch[r, h_r(item)]`` — never an underestimate.
    The sketch (≤ ``d·w`` rows) is always broadcast."""
    pos = items.select(
        F.col(item_col).alias("item"),
        F.posexplode(countmin_positions(F.col(item_col), d, w)).alias("row", "col"),
    )
    return (
        pos.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def countmin_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    d: int = 4,
    w: int = 512,
    min_est: int = 50,
) -> DataFrame:
    """Heavy-hitter tokens via Count-Min: sketch the token stream, then
    point-query each distinct token and keep those whose (over-)estimate
    reaches ``min_est``. Output ``(item, est, exact)`` — the exact count
    sits next to the estimate so the one-sided error is visible in the
    gated values (``est >= exact`` always).

    Production note: the candidate side here is ``distinct(token)``
    (fine at demo scale); at 100 TB the sketch is the artifact — built
    in one bounded agg, merged across shards by ``sum`` — and point
    queries come from a small candidate list, not a vocabulary scan.
    """
    from .adaptive import adaptive_repartition

    toks = adaptive_repartition(df).select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("item")
    ).where(F.col("item") != "")
    sketch = countmin_sketch(toks, "item", d, w)
    exact = toks.groupBy("item").agg(F.count(F.lit(1)).alias("exact"))
    est = countmin_estimate(sketch, exact.select("item"), "item", d, w)
    return (
        est.join(exact, "item")
        .where(F.col("est") >= min_est)
        .select("item", "est", "exact")
    )
