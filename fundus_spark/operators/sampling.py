"""Deterministic sampling and dataset-split assignment for
training-data pipelines.

The primitive is a content-independent uniform hash bucket
``u(id) = md5(salt || id)[:8 hex] / 2^32  in [0, 1)`` — a pure JVM
column expression (one md5 per row, no Python), portable to any engine
with md5 so the DuckDB oracle recomputes the exact same rows.

Why hash-bucket instead of ``df.sample()``: the decision for a row
depends ONLY on (salt, id), never on partitioning, row order, or the
rest of the corpus. At 100 TB that buys three properties RNG sampling
cannot give:

* **reproducible** across reruns, engines, and cluster sizes;
* **incremental** — re-running over a grown corpus keeps every prior
  decision, so downstream caches/checkpoints stay valid;
* **coordinated** — train/val/test membership is consistent between
  independent jobs that never communicate (same salt -> same split).

All operators are narrow (filter / projection): zero shuffles, full
predicate pipelining into the scan stage. The reference has no sampling
surface (it crawls everything); this is part of the
training-data-pipeline extension layer.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .adaptive import adaptive_repartition, materialize

_BUCKETS = 2**32


def hash_bucket(id_col: Column, salt: str = "", mode: str = "md5") -> Column:
    """Uniform bigint bucket in [0, 2^32) from (salt, id).

    * ``md5`` (default): first 8 md5 hex digits — identical in any
      md5-capable engine, so the DuckDB oracle recomputes the exact
      sample/split membership.
    * ``xxhash64`` (production): Spark's native hash folded to 32 bits,
      ~3-4x cheaper per row but engine-specific. Same twin-mode
      contract as the minhash operators; a given corpus must pick ONE
      mode and keep it — the two modes define different (equally valid)
      sample/split universes.
    """
    if mode not in ("md5", "xxhash64"):
        # a typo'd mode silently selecting the other hash would put the
        # run in a different sample/split universe — fail at build time
        raise ValueError(f"unknown hash mode {mode!r}: expected 'md5' or 'xxhash64'")
    if mode == "xxhash64":
        return F.pmod(F.xxhash64(F.concat(F.lit(salt), id_col.cast("string"))), F.lit(_BUCKETS)).cast("bigint")
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 8), 16, 10).cast("bigint")


def _threshold(rate: float) -> int:
    return int(rate * _BUCKETS)


def deterministic_sample(
    df: DataFrame, rate: float, salt: str = "", id_col: str = "doc_id", mode: str = "md5"
) -> DataFrame:
    """Keep each row iff ``u(id) < rate``. A superset corpus always
    samples to a superset (per-row decisions are independent)."""
    return df.where(hash_bucket(F.col(id_col), salt, mode) < F.lit(_threshold(rate)))


def stratified_sample(
    df: DataFrame,
    rates: Dict[str, float],
    strata_col: str = "source",
    default_rate: float = 0.0,
    salt: str = "",
    id_col: str = "doc_id",
    mode: str = "md5",
) -> DataFrame:
    """Per-stratum deterministic sampling (dataset mixing: e.g. keep 5%
    of crawl, 100% of curated). ``rates`` maps stratum value -> keep
    rate; strata absent from the map get ``default_rate``.

    Scale shape: the rate table is folded into a CASE expression (a few
    dozen strata is the normal case), so the plan stays a narrow filter
    with no join; for thousands of strata switch to a broadcast join on
    a rates dim — same semantics, still no shuffle of the fact side.
    """
    thr: Column = F.lit(_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(_threshold(rate))).otherwise(thr)
    return df.where(hash_bucket(F.col(id_col), salt, mode) < thr)


def split_assign(
    df: DataFrame,
    weights: Sequence[Tuple[str, float]] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    salt: str = "split",
    id_col: str = "doc_id",
    mode: str = "md5",
) -> DataFrame:
    """Assign every row a split label by cumulative hash-bucket ranges:
    with weights ((train, .9), (val, .05), (test, .05)), ids whose
    bucket lands in [0, .9) are train, [.9, .95) val, rest test.
    Membership depends only on (salt, id): two jobs that never
    communicate agree on the split, and growing the corpus never moves
    an existing row between splits. Weights must sum to ~1; the last
    split absorbs rounding."""
    bucket = hash_bucket(F.col(id_col), salt, mode)
    expr = F.lit(weights[-1][0])
    cum = 0.0
    bounds = []
    for name, w in weights[:-1]:
        cum += w
        bounds.append((name, _threshold(cum)))
    for name, bound in reversed(bounds):
        expr = F.when(bucket < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169). Select raw-corpus documents that look like a small
# TARGET corpus: fit hashed-ngram bag-of-features multinomials over
# target (p) and raw (q), weight every raw doc by its log importance
# ratio sum(ln p_f - ln q_f), then Gumbel-top-k resample so selection
# is a weighted sample rather than a hard argmax. Everything is column
# algebra over two count aggregations — the reference has no selection
# surface; this is the standard pretraining-data curation recipe.
# ---------------------------------------------------------------------------


def _hashed_ngram_features(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """``(doc_id, feature)`` instance relation: whitespace unigrams and
    bigrams, feature-hashed into ``n_buckets`` buckets via the md5
    bucket primitive (engine-portable, so the DuckDB oracle recomputes
    the exact same buckets). One row per token/bigram OCCURRENCE —
    DSIR's feature counts are occurrence counts, not presence."""
    df = adaptive_repartition(df, cols=(id_col,))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # bind the token array: referencing the split expression inside the
    # per-position lambda would re-evaluate it per element (O(tokens^2))
    grams = F.transform(
        F.array(toks),
        lambda ts: F.concat(
            ts,
            F.when(F.size(ts) < 2, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - 1),
                    lambda i: F.concat_ws(" ", F.element_at(ts, i), F.element_at(ts, i + 1)),
                )
            ),
        ),
    )[0]
    gram = F.explode(grams).alias("gram")
    return df.select(F.col(id_col).alias("doc_id"), gram).select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("bigint"),
            F.lit(n_buckets),
        ).alias("feature"),
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    alpha: float = 0.5,
) -> DataFrame:
    """``(doc_id, log_weight)`` for every raw doc with >=1 token:
    ``log_weight = sum_occurrences ln(p_f / q_f)`` where ``p`` / ``q``
    are the alpha-smoothed hashed-ngram multinomials of the target and
    raw corpora (``p_f = (c_f + alpha) / (N + alpha * B)``).

    Scale shape: two map-side-combinable count aggregations build the
    models; the per-feature log-ratio table is at most ``n_buckets``
    rows (a few KB — always broadcast); scoring is one broadcast join
    of raw instances to the ratio table plus one per-doc sum. The
    target corpus is small by construction (that is DSIR's premise);
    the raw corpus is never joined to itself, so the plan is two
    narrow scans + bounded-size broadcasts at any corpus size. The
    ratio table can be persisted once and reused to score appends —
    the same frozen-model contract as ``incremental_assign``.
    """
    from pyspark.sql import Window

    raw_inst = _hashed_ngram_features(raw, text_col, id_col, n_buckets)
    tgt_inst = _hashed_ngram_features(target, text_col, id_col, n_buckets)
    # BOTH models from ONE pass over each instance relation: union the
    # sides with a tag, count per (feature, side) in a single map-side-
    # combinable agg, and take the corpus totals as unpartitioned-window
    # sums over the <= n_buckets count rows (bounded by construction,
    # the round_robin_merge precedent — never a window over instances).
    # Values are identical to the previous two-agg + crossJoin-totals
    # plan: cr/ct/nr/nt are the same exact integers, the log-ratio the
    # same doubles. What changed is evaluation count: the raw explode
    # pipeline ran 3x (counts, total, scoring) and the target's 2x —
    # now 2x and 1x.
    inst = raw_inst.select("feature", F.lit(1).alias("_r")).unionAll(
        tgt_inst.select("feature", F.lit(0).alias("_r"))
    )
    counts = inst.groupBy("feature").agg(
        F.sum("_r").alias("cr"),
        F.sum(F.lit(1) - F.col("_r")).alias("ct"),
    )
    wall = Window.partitionBy()
    counts = (
        counts.withColumn("nr", F.sum("cr").over(wall))
        .withColumn("nt", F.sum("ct").over(wall))
        # the ratio table keeps features present in the RAW corpus (the
        # old left join from raw_counts); totals above already include
        # target-only features, exactly like the old full-corpus counts
        .where(F.col("cr") > 0)
    )
    b = F.lit(float(n_buckets))
    a = F.lit(float(alpha))
    ratio = counts.select(
        "feature",
        (
            F.log((F.col("ct") + a) / (F.col("nt") + a * b))
            - F.log((F.col("cr") + a) / (F.col("nr") + a * b))
        ).alias("log_ratio"),
    )
    return (
        raw_inst.join(F.broadcast(ratio), "feature")
        .groupBy("doc_id")
        .agg(F.round(F.sum("log_ratio"), 6).alias("log_weight"))
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    alpha: float = 0.5,
    salt: str = "dsir",
    mode: str = "md5",
) -> DataFrame:
    """Gumbel-top-k importance resampling: perturb each raw doc's
    ``log_weight`` with a deterministic hash-derived Gumbel draw
    ``g(id) = -ln(-ln(u(id)))`` and keep the ``k`` highest
    ``log_weight + g`` — equivalent to sampling k docs without
    replacement with probability proportional to their importance
    weights (the Gumbel-max trick), but reproducible: the draw depends
    only on (salt, id), so reruns, engines, and cluster sizes agree.

    Returns ``(doc_id, log_weight, score)`` ordered by score. Scale
    shape: the weights are narrow after their broadcast join
    (:func:`dsir_log_weights`); top-k is a TakeOrdered (per-partition
    partial top-k, one k-row reduce) — for k beyond driver comfort
    (tens of millions), filter on a score threshold instead: the score
    column is a pure function of (model, salt, id), so a threshold
    chosen on a sample is stable."""
    weights = dsir_log_weights(raw, target, text_col, id_col, n_buckets, alpha)
    u = (hash_bucket(F.col("doc_id"), salt, mode) + F.lit(0.5)) / F.lit(float(_BUCKETS))
    gumbel = -F.log(-F.log(u))
    scored = weights.select(
        "doc_id", "log_weight", F.round(F.col("log_weight") + gumbel, 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def temperature_proportions(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    *,
    alpha: float = 0.3,
    token_col: Optional[str] = None,
) -> Dict[str, float]:
    """Temperature-based mixture proportions (the mT5/XLM-R recipe,
    Xue et al. 2021 §3.3 / Conneau et al. 2020 §3.1): domain ``d``
    gets ``p_d ∝ (share_d)^alpha`` where ``share_d`` is its observed
    token share — ``alpha < 1`` flattens the mixture (up-samples
    low-resource domains), ``alpha = 1`` reproduces natural
    proportions, ``alpha = 0`` is uniform. Feed the result straight to
    :func:`domain_mix` as ``proportions``.

    The per-domain token agg is the same map-side-combinable shape as
    domain_mix's own; the collect is bounded by the domain count (a
    mixture has dozens of domains, never millions — the bounded
    driver-side-manifest contract of ``plans/job``). Exponentiation
    happens driver-side in one pass, so the returned dict is exact,
    reproducible, and engine-independent; proportions sum to 1.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    toks = (
        F.col(token_col)
        if token_col is not None
        else F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    )
    rows = (
        df.groupBy(F.col(domain_col).alias("_d"))
        # coalesce: a domain whose text is all NULL sums to NULL, which
        # crashed the Python total below (round-7 advice)
        .agg(F.coalesce(F.sum(toks.cast("long")), F.lit(0)).alias("_t"))
        .collect()
    )
    total = sum(r["_t"] for r in rows) or 1
    weighted = {r["_d"]: (r["_t"] / total) ** alpha for r in rows}
    z = sum(weighted.values()) or 1.0
    # NULL domain keys sort before strings explicitly (None vs str
    # comparison raised; round-7 advice) — the weight itself is kept
    return {
        d: w / z
        for d, w in sorted(weighted.items(), key=lambda kv: (kv[0] is not None, kv[0]))
    }


def domain_mix(
    df: DataFrame,
    proportions: Dict[str, float],
    total_tokens: int,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mix",
    mode: str = "md5",
    max_epochs: int = 16,
    token_col: Optional[str] = None,
) -> DataFrame:
    """Token-budget data mixture (the LLaMA/SlimPajama recipe): build a
    training mix where domain ``d`` contributes ``proportions[d] *
    total_tokens`` tokens, DOWN-sampling over-represented domains and
    UP-sampling (epoch replication) under-represented ones. Domains
    absent from ``proportions`` are dropped.

    Per domain the target rate is ``r = proportions[d] * total_tokens /
    domain_tokens``; every row is replicated ``floor(r)`` times (column
    ``epoch`` = 0..) and one extra epoch is kept with probability
    ``frac(r)`` by the usual deterministic hash bucket over
    ``(salt, epoch, id)`` — so the decision for every (row, epoch)
    depends only on (salt, id, epoch, the domain totals), reruns and
    engines agree, and growing a domain only re-rates that domain.
    Token accounting defaults to whitespace tokens (the packing
    operator's convention); pass ``token_col`` naming a precomputed
    per-row count — e.g. ``bpe_token_count``'s ``n_tokens`` joined on
    — to budget the mixture in real tokenizer units.

    Scale shape: one map-side-combinable per-domain token agg, folded
    back via a broadcast (a mixture has dozens of domains, never
    millions); replication is a narrow ``explode(sequence(...))``
    with zero shuffle; no row of the fact table moves. The expected
    token count per domain converges to the target at corpus scale
    (per-row sampling is exact-in-expectation, like every hash-bucket
    operator here).

    Returns the mixed rows with ``epoch`` (bigint) added — downstream
    packing treats (id, epoch) as the sequence identity.

    ``max_epochs`` bounds the replication rate: real mixtures repeat a
    domain single-digit times (LLaMA reports <= ~3 epochs for any
    source), so a computed rate above the bound is almost always a
    mis-set proportion or token budget — and an unbounded rate is an
    executor OOM (a rate of 10^6 is a million-element ``sequence()``
    per row). The job FAILS FAST at that point (analysis-time check
    against the already-aggregated domain totals — no partial output)
    rather than silently exploding; raise ``max_epochs`` explicitly if
    a tiny-but-precious domain really should replicate more.
    """
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    rates = {d: float(p) for d, p in proportions.items()}
    row_tokens = (
        F.col(token_col) if token_col is not None
        else F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    )
    totals = materialize(
        df.where(F.col(domain_col).isin(*rates.keys()))
        .groupBy(domain_col)
        .agg(F.sum(row_tokens).cast("double").alias("_domain_tokens"))
    )[0]
    # Fail fast on absurd replication rates BEFORE any row explodes.
    # ``totals`` is bounded by the mixture's domain count (dozens, never
    # millions — it is broadcast below for the same reason), so this is
    # driver-side metadata, not a collect over the fact table; the
    # checkpoint above means the broadcast join reuses the same
    # materialization rather than re-aggregating.
    for row in totals.collect():
        r = rates[row[domain_col]] * float(total_tokens) / row["_domain_tokens"]
        if r > float(max_epochs):
            raise ValueError(
                f"domain_mix: domain {row[domain_col]!r} would replicate "
                f"{r:.1f} epochs (> max_epochs={max_epochs}): target "
                f"{rates[row[domain_col]]:.4f} * {total_tokens} tokens vs "
                f"{row['_domain_tokens']:.0f} available. Check proportions/"
                f"total_tokens, or raise max_epochs explicitly."
            )
    prop = F.lit(0.0)
    for d, p in sorted(rates.items()):
        prop = F.when(F.col(domain_col) == d, F.lit(p)).otherwise(prop)
    rate = prop * F.lit(float(total_tokens)) / F.col("_domain_tokens")
    epoch_id = F.concat(F.col("epoch").cast("string"), F.lit(":"), F.col(id_col).cast("string"))
    # epochs 0..floor(r)-1 are whole replicas; epoch floor(r) is the
    # fractional one, kept with probability frac(r) per (salt, epoch, id)
    keep = (F.col("epoch") < F.floor(F.col("_rate"))) | (
        (F.col("epoch") == F.floor(F.col("_rate")))
        & (
            hash_bucket(epoch_id, salt, mode)
            < (F.lit(float(_BUCKETS)) * (F.col("_rate") - F.floor(F.col("_rate")))).cast("bigint")
        )
    )
    return (
        df.join(F.broadcast(totals), domain_col)
        .withColumn("_rate", rate)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0).cast("long"), F.floor(F.col("_rate")).cast("long"))))
        .where(keep)
        .drop("_domain_tokens", "_rate")
        .withColumn("epoch", F.col("epoch").cast("bigint"))
    )
