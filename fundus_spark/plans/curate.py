"""Corpus curation: the training-data assembly chain, written once as
:func:`_curate` and run by three thin drivers.

    raw documents
      -> gated      mojibake repair, boilerplate-line removal, length +
                    Gopher repetition gate, trained quality classifier
      -> deduped    exact dedup (first-wins on normalized-text hash),
                    minus fingerprints already in a frozen corpus, then
                    CCNet perplexity tiering
      -> survivors  near-dup dedup: LSH candidates -> Jaccard verify ->
                    connected components -> survivors; against a frozen
                    corpus, the banded probe + cluster adoption of
                    :func:`operators.incremental_assign` instead
      -> final      decontamination vs the eval set (benchmark side
                    broadcast), deterministic train/val/test split,
                    per-shard sequence packing

The stages always run in that order, and the signature of
:func:`_curate` is the one place the chain's options and defaults are
declared. A driver chooses only its inputs and a boundary policy: a
callable ``(stage_name, build) -> DataFrame`` the chain calls once per
named stage, with ``build`` a zero-argument function that builds the
stage's relation. Passing the builder rather than the relation lets a
policy skip it: building the survivors stage runs the connected-
component rounds, which a resumed job must not repeat.

* :func:`curate_corpus` — the full chain, in session. The ``deduped``
  and ``survivors`` boundaries feed several consumers each, so they are
  materialized (:func:`operators.adaptive.materialize`) when
  ``materialize_stages`` (the default) and passed through otherwise;
  ``gated`` and ``final`` pass through.
* :func:`curate_increment` — the same in-session policy, with a frozen
  corpus as input: the near-dup stage becomes the frozen-fingerprint
  anti-join plus ``incremental_assign``. The near-dup implementation is
  read from that input, never from a flag.
* :func:`plans.curate_job.run_curate_job` — every boundary is written
  to the lake and committed to a manifest, so a re-submit reads
  committed stages back instead of rebuilding them.

Every stage is the scale-correct shape documented on its operator: the
gates and split are narrow zero-shuffle maps, exact dedup is one
map-side-combinable aggregation, the near-dup chain is banded (never
all-pairs) with a size-guarded label join, decontamination broadcasts
the benchmark shingles, and packing shuffles once on the shard key. No
stage collects to the driver.

The reference has no curation surface (it emits articles one by one;
`crawler.py` dedups by exact URL only) — this is the 100 TB
generalization the training pipeline needs.
"""

from __future__ import annotations

import inspect
from typing import Callable, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import (
    ccnet_perplexity_buckets,
    contamination_flags,
    dedup_survivors,
    exact_dedup,
    incremental_assign,
    line_dedup,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    pack_by_budget,
    quality_classifier_score,
    repetition_score,
    split_assign,
)
from ..operators.adaptive import broadcast_if_small, materialize
from ..operators.dedup import shingle_relation, text_fingerprint
from ..operators.textclean import fix_mojibake_col

# (stage_name, build) -> the relation the next stage reads
Boundary = Callable[[str, Callable[[], DataFrame]], DataFrame]


def _check_ccnet_drop_tiers(ccnet_drop_tiers: Sequence[str], n_buckets: int) -> None:
    """Fail fast on a drop-tier label the chosen ``n_buckets`` can never
    produce (round-7 advice: with ``n_buckets != 3`` the labels are
    ``b<k>``, so the default ``("tail",)`` silently matched nothing and
    the CCNet stage became a quiet no-op)."""
    producible = (
        {"head", "middle", "tail"}
        if n_buckets == 3
        else {f"b{k}" for k in range(1, n_buckets + 1)}
    )
    bad = [t for t in ccnet_drop_tiers if t not in producible]
    if bad:
        raise ValueError(
            f"ccnet_drop_tiers {bad} can never match a tier produced with "
            f"ccnet_n_buckets={n_buckets} (producible: {sorted(producible)})"
        )


def decontaminate(
    survivors: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    contamination_k: int = 8,
    broadcast_max_rows: int = 10_000_000,
) -> DataFrame:
    """Anti-join out benchmark-contaminated docs, with the same
    broadcast guard + shuffle fallback every other potentially
    unbounded broadcast in the chain carries.

    The flagged-id set is usually tiny, but the exact scenario
    decontamination exists for — benchmark text mirrored across
    millions of crawled pages — makes it unbounded at 100 TB, so it is
    broadcast only under ``broadcast_max_rows``; above that the
    left_anti join runs as a plain shuffle join (same result, one
    extra exchange).
    """
    flagged = contamination_flags(
        survivors, benchmark, text_col=text_col, id_col=id_col, k=contamination_k
    )
    ids = flagged.select(F.col("doc_id").alias(id_col))
    return survivors.join(broadcast_if_small(ids, broadcast_max_rows), id_col, "left_anti")


def _in_session(materialize_stages: bool) -> Boundary:
    """The boundary policy of :func:`curate_corpus` and
    :func:`curate_increment`. ``deduped`` feeds four branches (LSH
    shingles, Jaccard sizes, survivor join, contamination shingles) and
    ``survivors`` feeds the contamination check and the split/pack
    tail, so materializing those two runs each upstream once instead of
    per branch — exactly what a production pipeline does by writing
    each stage to the lake (:mod:`plans.curate_job`)."""

    def boundary(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        out = build()
        if materialize_stages and name in ("deduped", "survivors"):
            return materialize(out)[0]
        return out

    return boundary


def _drop_frozen_fingerprints(
    deduped: DataFrame,
    frozen_docs: DataFrame,
    frozen_fps: Optional[DataFrame],
    text_col: str,
    id_col: str,
    broadcast_max_rows: int,
) -> DataFrame:
    """Drop the docs whose normalized-text fingerprint already exists in
    the frozen corpus (``frozen_fps`` if stored, else computed from
    ``frozen_docs``)."""
    if frozen_fps is None:
        frozen_fps = exact_dedup(frozen_docs, text_col=text_col, id_col=id_col)
    # The frozen fingerprint relation is one md5 row PER FROZEN DOC —
    # at the 100 TB append-only shape that is billions of rows, so a
    # forced broadcast would OOM the driver. Broadcast only under the
    # same cap dedup_survivors uses; above it, the left_anti join runs
    # as a plain shuffle join (same result, one extra exchange). At
    # scale callers pass a stored frozen_fps, which the guard counts
    # from parquet as-is; the default-constructed relation (frozen
    # dedup) is materialized once for the guard and the join.
    fps_rel = broadcast_if_small(frozen_fps.select(F.col("fp").alias("_fp")), broadcast_max_rows)
    return deduped.withColumn("_fp", text_fingerprint(text_col)).join(
        fps_rel, "_fp", "left_anti"
    ).drop("_fp")


def _curate(
    docs: DataFrame,
    frozen_docs: Optional[DataFrame],
    benchmark: Optional[DataFrame],
    boundary: Optional[Boundary],
    /,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 20,
    max_dup_gram_frac: float = 0.9,
    jaccard_threshold: float = 0.8,
    contamination_k: int = 8,
    split_weights: Sequence[Tuple[str, float]] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    split_salt: str = "split",
    pack_budget: int = 4096,
    shard_col: str = "source",
    lsh_perm: int = 8,
    lsh_bands: int = 4,
    shingle_k: int = 4,
    materialize_stages: bool = True,
    hash_mode: str = "md5",
    lsh_bucket_cap: Optional[int] = 1024,
    broadcast_max_rows: int = 10_000_000,
    line_dedup_min_occ: Optional[int] = None,
    quality_model: Optional[DataFrame] = None,
    quality_threshold: float = 0.5,
    quality_salt: str = "qcls",
    quality_feature_mode: str = "binary",
    repair_mojibake: bool = False,
    ccnet_target: Optional[DataFrame] = None,
    ccnet_drop_tiers: Sequence[str] = ("tail",),
    ccnet_n_buckets: int = 3,
    ccnet_sample_mod: Optional[int] = None,
    ccnet_cutoffs: Optional[DataFrame] = None,
    frozen_fps: Optional[DataFrame] = None,
    frozen_bands: Optional[DataFrame] = None,
) -> DataFrame:
    """The curation chain. ``frozen_docs`` (an already-curated corpus,
    possibly empty) selects the increment's near-dup stage; ``None``
    runs the full one. ``boundary`` is the stage-boundary policy;
    ``None`` is the in-session policy, under which
    ``materialize_stages`` also checkpoints the shingle relation the
    full near-dup stage shares between banding and verify. A caller's
    policy replaces every in-session materialization.

    Returns the training-ready corpus: quality-gated, exact- and
    near-dup-deduplicated, decontaminated against ``benchmark`` (if
    given), with ``cluster_id``, ``split``, ``n_tokens`` and
    ``pack_offset``/``pack_bin`` columns. Deterministic end to end —
    every stage is reproducible from (input, parameters) alone, so
    reruns and incremental jobs agree. ``hash_mode="xxhash64"`` swaps
    the LSH shingle hash for the ~3-4x cheaper native hash at 100 TB
    (md5 default keeps the DuckDB oracle exact — same twin-mode contract
    as the minhash operators). ``lsh_bucket_cap`` bounds the band join's
    per-bucket quadratic term against near-identical template floods
    (star pairs above the cap — see
    :func:`operators.dedup.lsh_candidate_pairs`); the upstream
    exact-dedup and trivial-doc gates collapse exact floods, and since
    round 6 the cap is ALSO on by default (1024) as the belt-and-braces
    for near-identical-but-not-exact floods — pass ``None`` to opt out
    and get the exact uncapped band join. ``broadcast_max_rows`` caps
    every size-guarded broadcast in the chain (frozen fingerprints,
    component labels, contamination ids, frequent lines); above it each
    join falls back to a plain shuffle join with the same result.

    Incremental contract: the quality gate, exact dedup, split, and
    packing decisions are pure per-row functions of (row, parameters),
    so they never flip when the corpus grows. Near-dup survivorship is
    corpus-dependent by nature; with monotonically increasing doc ids
    it is stable as long as new documents do not MERGE previously
    separate clusters — a new doc joining one existing cluster can
    never displace its survivor (the canonical doc is the cluster
    minimum, and the new id is larger). The one exception: a new
    document that bridges two previously separate clusters merges
    them, and the merged cluster keeps only the smaller of the two old
    minima — demoting at most one prior survivor per merge. An
    append-only run that must never demote survivors passes the
    frozen corpus (:func:`curate_increment`), which assigns new docs to
    the frozen labels instead of re-clustering.

    ``line_dedup_min_occ`` (round 7, default off) prepends the
    MassiveText/RefinedWeb boilerplate-line removal: lines recurring
    corpus-wide >= that many times are stripped from every document
    BEFORE the quality gate and dedup stages, so template chrome
    neither inflates near-dup similarity nor survives into packed
    training text. The counts span the docs being curated, so an
    increment refuses it (a batch's line counts shift across appends).

    ``ccnet_target`` (round 7, default off) adds CCNet perplexity
    tiering (Wenzek et al. 2020) at the end of the exact-dedup stage,
    matching the paper's dedup-then-LM order and shrinking both the
    join-heavy LM scoring and the near-dup machinery downstream: an
    add-one bigram LM trains on the passed clean corpus, every
    surviving doc is scored under it, and docs in ``ccnet_drop_tiers``
    (default: the tail third) are dropped. Docs without a single bigram
    (<2 tokens) cannot be scored and are dropped with the tail. Tiers
    computed from the docs being curated are corpus-distribution-
    dependent (like near-dup survivorship); ``ccnet_sample_mod``
    switches to the paper's sampled-cutoff regime (no corpus-wide sort)
    at scale, and ``ccnet_cutoffs`` (a persisted
    :func:`operators.ccnet_cutoffs` relation) freezes the cutoffs so
    the tier is a pure per-row function of (row, target, cutoffs). An
    increment needs BOTH ``ccnet_target`` and ``ccnet_cutoffs``:
    batch-derived cutoffs would shift across appends.

    ``quality_model`` (round 7, default off) adds the TRAINED quality
    filter (GPT-3/LLaMA classifier family) after the heuristic gate:
    pass a fitted model from :func:`operators.quality_classifier_fit`
    (or a quantized weight sequence) and docs the model scores below
    ``quality_threshold`` are dropped before any shingling — the
    cheapest place to shed low-quality mass, since every downstream
    stage shrinks with it. Use the same
    ``quality_salt``/``quality_feature_mode`` the model was fitted with;
    the increment must use the same model and salt as the full runs so
    the pure per-row keep decision agrees with any past or future run.

    ``repair_mojibake`` (round 7, default off) prepends
    :func:`operators.fix_mojibake` before EVERYTHING — including the
    line-dedup stage — so a mis-decoded copy of a clean page repairs
    to the same bytes and actually deduplicates (corrupted and clean
    twins otherwise share no shingles). A zero-shuffle projection.

    ``frozen_fps`` / ``frozen_bands`` (increment only) are the stored
    ``exact_dedup`` fingerprint and :func:`band_relation` relations of
    the frozen corpus, from :mod:`plans.frozen_store`; passing them
    skips rereading frozen text. The store writes them as bucketed
    tables hashed on their join keys (``fp`` / ``(band, key)``), so
    when a batch is too large to broadcast and the probe joins fall
    back to sort-merge, the frozen side reads its buckets in place —
    the shuffled volume stays O(batch) instead of O(corpus) (pinned by
    ``tests/test_frozen_store.py``'s differential Exchange counts).

    Every optional stage defaults off, keeping the chain byte-identical
    to prior releases (and to the driver oracle)."""
    frozen = frozen_docs is not None
    if frozen and line_dedup_min_occ is not None:
        raise ValueError(
            "line_dedup_min_occ counts lines across the docs being curated; "
            "on an increment that is the batch, so kept text would shift across appends"
        )
    if not frozen and (frozen_fps is not None or frozen_bands is not None):
        raise ValueError("frozen_fps/frozen_bands need a frozen corpus (curate_increment)")
    if ccnet_target is not None or ccnet_cutoffs is not None:
        if ccnet_target is None or (frozen and ccnet_cutoffs is None):
            raise ValueError(
                "CCNet tiering needs ccnet_target; increment-path tiering needs "
                "BOTH ccnet_target and ccnet_cutoffs (a persisted "
                "operators.ccnet_cutoffs relation); batch-derived cutoffs "
                "would shift across appends"
            )
        _check_ccnet_drop_tiers(ccnet_drop_tiers, ccnet_n_buckets)
    if boundary is None:
        boundary = _in_session(materialize_stages)
    else:
        # a caller's policy (the lake job) is the materialization: the
        # shingle relation is then rebuilt per consumer from the stage
        # table, with no in-session copy
        materialize_stages = False

    def gate() -> DataFrame:
        out = docs
        if repair_mojibake:
            # a pure per-row projection — unlike line_dedup there is no
            # corpus-wide aggregation, so no join-back is needed (review
            # finding: the first cut joined the full corpus to itself just
            # to re-attach untouched columns)
            out = out.withColumn(text_col, fix_mojibake_col(F.col(text_col)))
        if line_dedup_min_occ is not None:
            cleaned = line_dedup(
                out, min_occurrences=line_dedup_min_occ,
                text_col=text_col, id_col=id_col,
                broadcast_max_rows=broadcast_max_rows,
            ).select(F.col("doc_id").alias(id_col), F.col("kept_text"))
            out = out.drop(text_col).join(cleaned, id_col).withColumnRenamed(
                "kept_text", text_col
            )
        out = out.where(F.length(F.trim(F.col(text_col))) >= min_chars)
        rep = repetition_score(out, text_col=text_col, id_col=id_col, n=2).where(
            F.col("dup_gram_frac") <= max_dup_gram_frac
        )
        # repetition_score / contamination_flags emit their id as "doc_id";
        # alias back so a caller's id_col keeps working end to end
        out = out.join(rep.select(F.col("doc_id").alias(id_col)), id_col)
        if quality_model is not None:
            kept = quality_classifier_score(
                out, quality_model, text_col=text_col, id_col=id_col,
                salt=quality_salt, threshold=quality_threshold,
                feature_mode=quality_feature_mode,
            ).where(F.col("predicted")).select(F.col("doc_id").alias(id_col))
            out = out.join(kept, id_col, "left_semi")
        return out

    gated = boundary("gated", gate)

    def dedup() -> DataFrame:
        keep_ids = exact_dedup(gated, text_col=text_col, id_col=id_col).select(
            F.col("keep_id").alias(id_col)
        )
        out = gated.join(keep_ids, id_col, "left_semi")
        if frozen:
            out = _drop_frozen_fingerprints(
                out, frozen_docs, frozen_fps, text_col, id_col, broadcast_max_rows
            )
        if ccnet_target is not None:
            tiers = ccnet_perplexity_buckets(
                out, ccnet_target, text_col=text_col, id_col=id_col,
                n_buckets=ccnet_n_buckets, cutoff_sample_mod=ccnet_sample_mod,
                cutoffs=ccnet_cutoffs,
            )
            kept_tiers = tiers.where(~F.col("tier").isin(*ccnet_drop_tiers)).select(
                F.col("doc_id").alias(id_col)
            )
            out = out.join(kept_tiers, id_col, "left_semi")
        return out

    deduped = boundary("deduped", dedup)

    def near_dedup() -> DataFrame:
        if frozen:
            assigned = incremental_assign(
                deduped, frozen_docs, text_col=text_col, id_col=id_col,
                n_perm=lsh_perm, bands=lsh_bands, k=shingle_k,
                threshold=jaccard_threshold, hash_mode=hash_mode,
                frozen_bands=frozen_bands, broadcast_max_rows=broadcast_max_rows,
                bucket_cap=lsh_bucket_cap,
            )
            return deduped.join(
                assigned.where(F.col("survives")).select(
                    F.col("doc_id").alias(id_col), "cluster_id"
                ),
                id_col,
            )
        # the distinct shingle relation feeds BOTH the banding and the
        # verify phase; compute it once (Catalyst does not reuse the
        # explode+distinct exchange across the two consumers)
        shingles = shingle_relation(deduped, text_col=text_col, id_col=id_col, k=shingle_k).distinct()
        if materialize_stages:
            shingles = materialize(shingles)[0]
        cands = lsh_candidate_pairs(
            deduped, text_col=text_col, id_col=id_col, n_perm=lsh_perm, bands=lsh_bands,
            k=shingle_k, shingles=shingles, hash_mode=hash_mode, bucket_cap=lsh_bucket_cap,
        )
        pairs = ngram_jaccard_pairs(
            deduped, text_col=text_col, id_col=id_col, k=shingle_k,
            threshold=jaccard_threshold, candidates=cands, shingles=shingles,
        )
        return dedup_survivors(deduped, pairs, id_col=id_col, broadcast_max_rows=broadcast_max_rows)

    survivors = boundary("survivors", near_dedup)

    def finish() -> DataFrame:
        out = survivors
        if benchmark is not None:
            out = decontaminate(
                out, benchmark, text_col=text_col, id_col=id_col,
                contamination_k=contamination_k, broadcast_max_rows=broadcast_max_rows,
            )
        assigned = split_assign(out, weights=split_weights, salt=split_salt, id_col=id_col)
        toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        with_tokens = assigned.withColumn("n_tokens", toks.cast("long"))
        return pack_by_budget(
            with_tokens, budget=pack_budget, token_col="n_tokens", part_col=shard_col, order_col=id_col
        )

    return boundary("final", finish)


def chain_options(**options) -> dict:
    """``options`` with the chain's defaults filled in, for drivers that
    need an option's value themselves (the LSH parameters of a frozen
    store). A name the chain does not declare raises ``TypeError`` here,
    before any Spark job."""
    bound = inspect.signature(_curate).bind_partial(**options)
    bound.apply_defaults()
    return dict(bound.arguments)


def curate_corpus(docs: DataFrame, benchmark: Optional[DataFrame] = None, **options) -> DataFrame:
    """The full curation chain over ``docs``, decontaminated against
    ``benchmark`` if given, in session (materialized at the
    ``deduped`` and ``survivors`` boundaries unless
    ``materialize_stages=False``). ``options`` are the chain's — see
    :func:`_curate` for each one and its default; a misspelled name
    raises ``TypeError`` before any Spark job."""
    return _curate(docs, None, benchmark, None, **options)


def curate_increment(
    new_docs: DataFrame,
    frozen_docs: DataFrame,
    benchmark: Optional[DataFrame] = None,
    **options,
) -> DataFrame:
    """The daily-increment twin of :func:`curate_corpus`: curate a NEW
    batch against a FROZEN, already-curated corpus without touching it.
    A 100 TB pipeline runs this shape on every append instead of
    re-clustering the world — the frozen partition is immutable, so
    prior survivorship, splits, and packed bins never change (the
    guarantee the full-rerun chain cannot give; see the incremental
    contract on :func:`_curate`).

    The same chain as :func:`curate_corpus`, with the same options and
    the same in-session boundary policy; the frozen corpus changes two
    stages:

    * exact dedup stays first-wins WITHIN the batch, then drops batch
      docs whose normalized-text fingerprint already exists in the
      frozen corpus (``frozen_fps`` if stored);
    * near-dup runs :func:`operators.dedup.incremental_assign` — banded
      probe of the frozen corpus (``frozen_bands`` if stored), exact
      verify, freeze-respecting cluster adoption; only batch docs that
      survive stay.

    Split assignment uses the SAME salt as the full runs, so the pure
    (salt, id) decision agrees with any past or future run. Pack
    offsets/bins are namespaced to THIS increment (an appending consumer
    offsets them by its stored per-shard high-water mark — bins are a
    physical layout, not a semantic identity, so per-increment
    numbering is the append-friendly contract).

    Returns the curated increment with ``cluster_id``, ``split``,
    ``n_tokens``, ``pack_offset``, ``pack_bin``.
    """
    return _curate(new_docs, frozen_docs, benchmark, None, **options)
