"""Similarity search and embedding dedup over the ``embeddings`` table
(``vec_id, embedding: array<float>, label``). Every operator is JVM
column algebra (``F.zip_with``/``F.aggregate``; no Python):

* **cosine_topk** — brute-force exact top-k per query; the cross join
  is the O(n·q) baseline, with the bounded query side broadcast.
* **quantized_topk** — the same ranking over int8-quantized vectors
  (:func:`quantize_embeddings`), scores rounded before ranking.
* **lsh_bucketed_topk** / **cosine_neardup_pairs** — banded random-
  hyperplane LSH: candidates only within matching ``(band, key)``
  buckets, the quadratic term bounded by ``bucket_cap`` sub-buckets.
* **ivf_topk** / **semantic_dedup** — coarse-quantizer cells: each
  vector goes to its best centroid, pairs are scored within cells only,
  and each inverted list is truncated to its first ``cell_cap`` ids.

Each concept is written once: :func:`ranked_cells` is the centroid
ranking (ties toward the lower cell id), ``_cos`` the pair cosine (NULL
for a zero vector), ``_first_per_cell`` the inverted-list cap,
``relational.grouped_topk`` every per-query top-k and
``dedup.explode_bands`` the band explode.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .adaptive import adaptive_repartition, broadcast_if_small, materialize
from .dedup import explode_bands
from .relational import grouped_topk


def lit_double_array(vals) -> Column:
    """Literal ``array<double>`` as ONE parsed SQL expression instead of
    one py4j round trip per element — at codebook/hyperplane sizes
    (k x dim = thousands of literals) the per-element path costs
    seconds of driver-side plan-build time per query. ``repr`` is the
    shortest exact decimal for an IEEE double and Spark's ``<x>D``
    literal parses back to the identical bits (verified down to
    subnormals), so plans and results are unchanged. Non-finite values
    (no codebook has them) fall back to per-element lits."""
    vs = [float(v) for v in vals]
    if all(math.isfinite(v) for v in vs):
        return F.expr("array(" + ",".join(repr(v) + "D" for v in vs) + ")")
    return F.array(*[F.lit(v) for v in vs])


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _cos(a: str, b: str) -> Column:
    """Cosine of the pair whose columns are ``<a>vec``/``<a>nrm`` and
    ``<b>vec``/``<b>nrm``, over norms computed once per vector: computing
    them inside the pair loop costs two extra interpreted array folds
    per pair (higher-order functions are not codegen'd). A zero vector
    has norm 0 and its cosine is NULL, as in DuckDB's ``x / 0.0``; NULL
    sorts last under a descending rank and fails every threshold, so a
    zero vector is never a neighbour and never a near-duplicate."""
    return F.try_divide(_dot(F.col(f"{a}vec"), F.col(f"{b}vec")), F.col(f"{a}nrm") * F.col(f"{b}nrm"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """``(query_id, rank, cand_id)``: the ``k`` best ``cos`` per query,
    ties toward the lower ``cand_id``."""
    return grouped_topk(scored, ["query_id"], "cos", k, tiebreak_col="cand_id").select(
        "query_id", "rank", "cand_id"
    )


def ranked_cells(vec: Column, cents: Sequence[Sequence[float]]) -> Column:
    """Every centroid cell best-first by dot with ``vec``: an array of
    ``struct(s, neg_i, i)``, sorted ascending and reversed, so exactly
    equal dots rank the lower cell id ``i`` first, as ``ORDER BY s
    DESC, i ASC`` does. ``[0]["i"]`` is the argmax cell."""
    scores = F.array(
        *[
            F.struct(_dot(vec, lit_double_array(c)).alias("s"), F.lit(-i).alias("neg_i"), F.lit(i).alias("i"))
            for i, c in enumerate(cents)
        ]
    )
    return F.reverse(F.sort_array(scores))


def _first_per_cell(df: DataFrame, id_col: str, cap: Optional[int]) -> DataFrame:
    """``df`` with each ``cell``'s inverted list truncated to its first
    ``cap`` members by ``id_col`` (deterministic, so the SQL oracle
    recomputes the identical cut); ``None`` keeps every member."""
    if cap is None:
        return df
    w = Window.partitionBy("cell").orderBy(F.asc(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= cap).drop("_rn")


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
    max_queries: Optional[int] = 100_000,
) -> DataFrame:
    """For each query row: top-k nearest (cosine) corpus vectors,
    excluding self-matches by id.

    Brute force is O(|corpus| x |queries|); it is only the right tool
    while the query side broadcasts. ``max_queries`` enforces that
    bound (a cheap limited count) — callers with a larger query set
    should use :func:`lsh_bucketed_topk` instead. Pass ``None`` to
    skip the check (e.g. when the caller already knows the bound).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), _norm(F.col(vec_col)).alias("qnrm")
    )
    if broadcast_queries:
        if max_queries is not None and q.limit(max_queries + 1).count() > max_queries:
            raise ValueError(
                f"cosine_topk query side exceeds max_queries={max_queries}; "
                "brute force would not broadcast — use lsh_bucketed_topk for large query sets"
            )
        q = F.broadcast(q)
    corpus = adaptive_repartition(embeddings, cols=(id_col,)).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec"), _norm(F.col(vec_col)).alias("cnrm")
    )
    scored = (
        corpus.crossJoin(q)
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _cos("q", "c").alias("cos"))
    )
    return _topk(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> List[List[float]]:
    """Deterministic pseudo-random unit hyperplanes (hash-seeded,
    library-free so executors recompute identically)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            u = int(h[:8], 16) / 0xFFFFFFFF
            vals.append(2.0 * u - 1.0)
        norm = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / norm for v in vals])
    return planes


def lsh_bucket_key(vec_col: Column, planes: List[List[float]]) -> Column:
    bits = [
        F.when(_dot(vec_col, lit_double_array(plane)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _hyperplane_bands(
    embeddings: DataFrame, bands: int, rows_per_band: int, dim: int,
    id_col: str, vec_col: str, seed: int, bucket_cap: Optional[int],
) -> Tuple[DataFrame, List[str]]:
    """``(banded, join_cols)``: one ``(vid, vec, nrm, band, key[, sub])``
    row per embedding and band, ``key`` the band's sign pattern over
    ``rows_per_band`` hyperplanes. With ``bucket_cap`` each
    ``(band, key)`` bucket is split into id-ordered sub-buckets of at
    most ``bucket_cap`` rows; ``join_cols`` is the self-join key."""
    planes = _hyperplanes(dim, bands * rows_per_band, seed)
    banded = explode_bands(
        adaptive_repartition(embeddings, cols=(id_col,)).select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), _norm(F.col(vec_col)).alias("nrm")
        ),
        [lsh_bucket_key(F.col("vec"), planes[b * rows_per_band : (b + 1) * rows_per_band]) for b in range(bands)],
        "vid", "vec", "nrm",
    )
    join_cols = ["band", "key"]
    if bucket_cap is not None:
        wsub = Window.partitionBy("band", "key").orderBy(F.asc("vid"))
        banded = banded.withColumn("sub", ((F.row_number().over(wsub) - 1) / F.lit(bucket_cap)).cast("int"))
        join_cols.append("sub")
    return banded, join_cols


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bands: int = 4,
    rows_per_band: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    bucket_cap: Optional[int] = 1024,
) -> DataFrame:
    """Embedding-cosine NEAR-DUPLICATE pairs — the dedup-family twin of
    :func:`lsh_bucketed_topk`: banded random-hyperplane LSH proposes
    candidate pairs (asymmetric, ``a < b``, each pair once), exact
    cosine verifies them against ``threshold``. Same two-phase shape as
    the MinHash->Jaccard text path: the quadratic term is bounded by
    ``bucket_cap`` sub-buckets, the exact math runs only on candidates,
    and nothing ever forms an all-pairs join. Returns
    ``(a, b, cos)`` with cos rounded to 4 decimals."""
    banded, join_cols = _hyperplane_bands(
        embeddings, bands, rows_per_band, dim, id_col, vec_col, seed, bucket_cap
    )
    # Score INSIDE the band join and dedup afterwards on (a, b, cos):
    # the cross-band dedup shuffle then carries ~24 bytes per candidate
    # instead of both 64-dim vectors (~1 KB) — shuffle the proxy, not
    # the payload (guide §8). A pair colliding in several bands pays at
    # most bands-1 redundant interpreted dots, each far cheaper than
    # shipping its vectors through the exchange; the cosine is a pure
    # function of the pair, so every duplicate carries the identical
    # rounded value and the kept row is unchanged. Filtering by the
    # threshold BEFORE the dedup shrinks it further (all duplicates
    # pass or fail together).
    return (
        banded.alias("l")
        .join(banded.alias("r"), join_cols)
        .where(F.col("l.vid") < F.col("r.vid"))
        .select(
            F.col("l.vid").alias("a"),
            F.col("r.vid").alias("b"),
            F.round(_cos("l.", "r."), 4).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .dropDuplicates(["a", "b"])
    )


def ivf_centroids(dim: int, n_centroids: int, seed: int = 7) -> List[List[float]]:
    """Deterministic unit centroids (hash-seeded like _hyperplanes, a
    different default seed so cells and hyperplane signs decorrelate).
    On a real deployment these come from a k-means fit persisted next
    to the index; keeping them library-free and recomputable lets every
    executor — and the SQL oracle — materialize the identical codebook
    without shipping state."""
    return _hyperplanes(dim, n_centroids, seed)


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    cell_cap: Optional[int] = 4096,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the coarse-
    quantizer alternative to hyperplane LSH:

    * every vector is assigned to its argmax-dot centroid **cell** (a
      narrow map — one pass, no shuffle);
    * each query probes its ``n_probe`` best cells and scores exact
      cosine only against vectors assigned there (shuffle key = small
      cell id; per-cell fan-out bounded by truncating each inverted
      list to its first ``cell_cap`` members, deterministic by id);
    * exact top-k by cosine within the probed candidates.

    Recall/cost dials: ``n_centroids`` controls cell granularity,
    ``n_probe`` recall (n_probe = n_centroids degenerates to exact
    brute force partitioned by cell). ``cell`` is also the SHUFFLE key
    of the probe join — size n_centroids so cells number in the
    thousands at corpus scale (IVF practice is ~sqrt(n) cells), or the
    8-cell demo setting here becomes 8 hot shuffle partitions.

    Deployment note: the argmax assignment is an interpreted
    higher-order-function expression (n_centroids x dim ops/row), and
    this one-shot query shape re-evaluates it on each side of the
    probe self-join. At scale you MATERIALIZE the assignment once —
    write ``cell`` as a partition/bucket column of the embedding table
    (one narrow pass) — and probe against the stored inverted lists;
    the oracle-gated query keeps the self-contained shape so every
    stage stays recomputable by the SQL twin."""
    base = adaptive_repartition(embeddings, cols=(id_col,)).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn("_ranked", ranked_cells(F.col("vec"), ivf_centroids(dim, n_centroids, seed)))
    # the standard IVF list-length cap: a hot cell costs
    # n_probe*cell_cap per query instead of |cell|
    cand_side = _first_per_cell(
        base.select(
            F.col("vid").alias("cand_id"), F.col("vec").alias("cvec"), _norm(F.col("vec")).alias("cnrm"),
            F.col("_ranked")[0]["i"].alias("cell"),
        ),
        "cand_id", cell_cap,
    )
    probes = base.select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        _norm(F.col("vec")).alias("qnrm"),
        F.explode(F.slice("_ranked", 1, n_probe)).alias("probe"),
    ).select("query_id", "qvec", "qnrm", F.col("probe")["i"].alias("cell"))
    joined = probes.join(cand_side, "cell").where(F.col("query_id") != F.col("cand_id"))
    scored = joined.select("query_id", "cand_id", _cos("q", "c").alias("cos")).dropDuplicates(
        ["query_id", "cand_id"]
    )
    return _topk(scored, k)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    k: int = 5,
    bands: int = 4,
    rows_per_band: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    bucket_cap: Optional[int] = 1024,
) -> DataFrame:
    """Approximate all-pairs top-k via **banded** random-hyperplane LSH.

    Scale design (vs a single 2^n_planes sign bucket):
    * ``bands`` independent sign keys of ``rows_per_band`` planes each —
      a pair is a candidate if it collides in ANY band (recall grows
      with bands like minhash LSH banding), and every shuffle key is a
      short (band, bits) string.
    * ``bucket_cap`` bounds the quadratic term: within one (band, key)
      bucket, rows are split into deterministic sub-buckets of at most
      ``bucket_cap`` members (row_number ordered by id — stable, so a
      SQL oracle recomputes the identical partitioning). A globally hot
      sign pattern then costs cap² per sub-bucket instead of |bucket|².
      The cap trades recall for a hard upper bound on join fan-out; set
      it to a few thousand at corpus scale, or None for exact banding.
    * Candidate (query, cand) pairs are deduped across bands BEFORE the
      cosine, so each pair is scored once.
    """
    banded, join_cols = _hyperplane_bands(
        embeddings, bands, rows_per_band, dim, id_col, vec_col, seed, bucket_cap
    )
    candidates = (
        banded.alias("l")
        .join(banded.alias("r"), join_cols)
        .where(F.col("l.vid") != F.col("r.vid"))
        .select(
            F.col("l.vid").alias("query_id"),
            F.col("r.vid").alias("cand_id"),
            F.col("l.vec").alias("qvec"),
            F.col("r.vec").alias("cvec"),
            F.col("l.nrm").alias("qnrm"),
            F.col("r.nrm").alias("cnrm"),
        )
        .dropDuplicates(["query_id", "cand_id"])
    )
    return _topk(candidates.select("query_id", "cand_id", _cos("q", "c").alias("cos")), k)


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale =
    max(|x|)/127`` and ``code_i = floor(x_i/scale + 0.5)`` (round-half-
    up — portable: identical in any IEEE engine, unlike banker's
    rounding) — the standard embedding-storage compression a 100 TB
    pipeline applies before indexing (4x smaller than float32, ~0.4%
    worst-case per-component error at 8 bits). Pure JVM column
    algebra, zero shuffle; returns ``(id, scale, codes)``.

    The per-row ``scale`` scalar is computed in its own projection;
    referencing it inside the codes lambda re-inlines the O(d)
    max-fold per element — a bounded O(d^2)=4k flops/row at d=64, not
    the unbounded lambda-inlining class the textstats guard pins."""
    eps = F.lit(1e-30)
    maxabs = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scaled = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        (F.greatest(maxabs, eps) / F.lit(127.0)).alias("scale"),
    )
    return scaled.select(
        id_col,
        "scale",
        F.transform(
            F.col(vec_col), lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)).cast("int")
        ).alias("codes"),
    )


def quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """Cosine top-k computed over int8-QUANTIZED vectors (quantize ->
    dequantize ``code*scale`` -> exact cosine) — measures/serves the
    compressed index the storage layer actually holds. Scores are
    rounded to ``round_decimals`` BEFORE ranking so coarse-code
    near-ties collapse into exact ties and the (score desc, cand_id
    asc) order is engine-deterministic — the property the DuckDB
    oracle needs and any distributed re-run wants anyway."""
    dq = quantize_embeddings(embeddings, id_col, vec_col).select(
        F.col(id_col),
        F.transform(F.col("codes"), lambda c: c.cast("double") * F.col("scale")).alias(vec_col),
    )
    q_ids = queries.select(F.col(id_col).alias("_qid"))
    corpus = dq.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec"), _norm(F.col(vec_col)).alias("cnrm")
    )
    qside = (
        dq.join(F.broadcast(q_ids), dq[id_col] == q_ids["_qid"], "left_semi")
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), _norm(F.col(vec_col)).alias("qnrm"))
    )
    scored = (
        corpus.crossJoin(F.broadcast(qside))
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", F.round(_cos("q", "c"), round_decimals).alias("cos"))
    )
    return _topk(scored, k)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 64,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    cell_cap: Optional[int] = 4096,
    round_decimals: int = 6,
    broadcast_max_rows: int = 10_000_000,
    centroids: Optional[List[List[float]]] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public): cluster embeddings with the coarse
    quantizer, then prune near-duplicate NEIGHBORS within each cluster
    only — the clustering is what bounds the otherwise O(n^2) pairwise
    cosine to sum-over-cells |cell|^2, the paper's core trick.

    Pruning policy: a vector is pruned iff some SAME-CELL neighbor
    with cosine >= ``threshold`` has a smaller id — one deterministic
    relational pass, no iteration. (The paper keeps a random/low-
    centroid-sim member per epsilon-ball; min-id is the deterministic
    analogue. It is deliberately NOT transitive-closure dedup — chains
    below threshold stay; :func:`operators.dedup.dedup_survivors`
    covers the connected-components semantics for pair graphs.)

    Scale shape: centroid assignment is one narrow projection (the
    codebook is literals, recomputable on every executor — at real
    scale a persisted k-means fit); the pair join shuffles on the
    SMALL cell id with the per-cell quadratic bounded by ``cell_cap``
    (inverted lists truncated deterministically by id; beyond-cap
    members pass through unpruned — the flood defense biases toward
    keeping, never toward dropping). The pruned-id relation joins back
    broadcast under ``broadcast_max_rows``, shuffle fallback above.
    Cosines are rounded to ``round_decimals`` BEFORE the threshold
    compare so boundary ties are engine-deterministic (same contract
    as ``quantized_topk``).

    Output: ``(vec_id, cell, kept, pruned_by)`` for EVERY input vector
    — ``pruned_by`` is the smallest similar smaller-id neighbor, NULL
    for survivors, so the decision is auditable without a second pass.

    ``centroids`` overrides the hash-seeded codebook with a FITTED
    one — pass the collected ``centroid`` column of
    :func:`clustering.kmeans_fit` (the paper's actual k-means-then-
    prune composition); ``n_centroids``/``dim``/``seed`` are ignored
    when it is given.
    """
    cents = (
        [list(c) for c in centroids]
        if centroids is not None
        else ivf_centroids(dim, n_centroids, seed)
    )
    base = embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    assigned = base.withColumn("cell", ranked_cells(F.col("vec"), cents)[0]["i"])
    # materialize the assignment ONCE: three consumers follow (both
    # sides of the within-cell pair join and the output join-back), and
    # each would otherwise re-plan and re-execute the k x dim literal
    # codebook scoring — the dominant plan-build AND compute cost of
    # this operator. The relation is one (id, vec, cell) row per input
    # vector; a production run would persist this table anyway (it IS
    # the cluster assignment artifact).
    assigned = materialize(assigned)[0]
    # the within-cell pair join is quadratic per cell — compute-bound,
    # not byte-bound — so keep it parallel when the (small) checkpointed
    # assignment would otherwise ride one byte-coalesced partition
    members = _first_per_cell(
        adaptive_repartition(assigned, cols=("cell",)).select("vid", "vec", _norm(F.col("vec")).alias("nrm"), "cell"),
        "vid", cell_cap,
    )
    a = members.select(
        F.col("vid").alias("a_id"), F.col("vec").alias("avec"), F.col("nrm").alias("anrm"), "cell"
    )
    b = members.select(
        F.col("vid").alias("b_id"), F.col("vec").alias("bvec"), F.col("nrm").alias("bnrm"), "cell"
    )
    pruned = (
        a.join(b, "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .where(F.round(_cos("a", "b"), round_decimals) >= threshold)
        .groupBy("b_id")
        .agg(F.min("a_id").alias("pruned_by"))
    )
    # the guard count and the join-back read ONE materialization of the
    # pair scan, not two evaluations
    pruned_side = broadcast_if_small(pruned, broadcast_max_rows)
    return (
        assigned.join(pruned_side, assigned["vid"] == pruned_side["b_id"], "left")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            F.col("pruned_by").isNull().alias("kept"),
            "pruned_by",
        )
    )
