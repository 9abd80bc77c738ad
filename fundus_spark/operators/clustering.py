"""Distributed k-means (Lloyd's algorithm) over embedding columns —
the clustering stage SemDeDup (Abbas et al. 2023) actually runs before
within-cluster pruning, and the persisted "k-means fit" the IVF /
semantic-dedup docstrings reference. Spherical variant: assignment is
argmax dot against unit-normalized centroids (embeddings are cosine
objects throughout this repo).

Scale shape:

* Assignment is a NARROW projection — the centroid codebook is k×d
  driver-held literals (the model, same bounded-metadata contract as
  the BPE merge table), so no join and no shuffle on the corpus side.
* The centroid update is ONE map-side-combinable aggregation per
  iteration: explode (cell, dim, value) -> partial sums per partition
  -> k×d final rows. The shuffled volume after partial aggregation is
  k×d×partitions records, independent of corpus size.
* n_iter is a small constant (SemDeDup uses a handful of Lloyd steps);
  the corpus is scanned once per iteration. Persist the returned
  centroid table and pass it to :func:`similarity.semantic_dedup` /
  reuse across jobs.

Engine-exact determinism (the property the DuckDB oracle gates): a
floating-point mean is ORDER-DEPENDENT under distributed aggregation,
so summing doubles would break cross-engine value parity. Instead
each component is scaled by 10^6 and rounded to BIGINT once at fit
entry (``round-half-up``, portable), the aggregation sums INTEGERS
(exact, order-independent), and the only floating division happens at
one point — sum/(count*10^6) — with identical IEEE operands in both
engines. Assignment is :func:`similarity.ranked_cells`, the same
centroid ranking ``ivf_topk`` and ``semantic_dedup`` use, so exactly
equal dots (an all-zero vector ties every cell) go to the lower cell
id, as the oracle's ``ORDER BY s DESC, i ASC`` does.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .adaptive import local_rows, materialize
from .similarity import ivf_centroids, ranked_cells

#: fixed-point scale for the exact integer centroid update
_FP_SCALE = 1_000_000


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Fit k spherical-k-means centroids; returns the model as a
    DataFrame ``(cell, centroid array<double>, n_members)`` — empty
    cells keep their previous centroid with ``n_members = 0``, so the
    codebook never shrinks and cell ids stay stable across iterations.

    Init is the deterministic hash-seeded unit codebook
    (:func:`similarity.ivf_centroids`) — recomputable by every executor
    and by the SQL oracle without shipping state.
    """
    # one deterministic fixed-point quantization at entry: BIGINT
    # components sum exactly in any order/engine (see module docstring)
    q = materialize(embeddings.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * _FP_SCALE + F.lit(0.5)).cast("long"),
        ).alias("qvec"),
    ))[0]

    cents: List[List[float]] = ivf_centroids(dim, k, seed)
    counts: List[int] = [0] * k
    for _ in range(n_iter):
        # assignment reads the fixed-point vector scaled back — the
        # SAME doubles the oracle computes (qvec/1e6 is exact in IEEE
        # for |qvec| < 2^52), so argmax parity is bit-for-bit
        dv = F.transform(F.col("qvec"), lambda x: x.cast("double") / F.lit(float(_FP_SCALE)))
        assigned = q.select(
            "vid", "qvec", ranked_cells(dv, cents)[0]["i"].alias("cell")
        )
        sums = (
            assigned.select("cell", F.posexplode("qvec").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cell: dict = {}
        for row in sums:
            by_cell.setdefault(row["cell"], [None] * dim)[row["pos"]] = (
                int(row["s"]),
                int(row["n"]),
            )
        new_cents: List[List[float]] = []
        new_counts: List[int] = []
        for i in range(k):
            comp = by_cell.get(i)
            if comp is None:
                new_cents.append(cents[i])  # empty cell: keep centroid
                new_counts.append(0)
                continue
            # the single floating division point, identical in SQL:
            # sum / (n * 1e6)
            vals = [s / (n * float(_FP_SCALE)) for (s, n) in comp]
            new_cents.append(vals)
            new_counts.append(comp[0][1])
        cents, counts = new_cents, new_counts

    return local_rows(
        embeddings.sparkSession,
        [(i, cents[i], counts[i]) for i in range(k)],
        "cell int, centroid array<double>, n_members bigint",
    )


def assign_to_centroids(
    embeddings: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its argmax-dot centroid (ties toward the
    lower cell id) — the narrow projection a fitted codebook turns
    cluster assignment into.
    ``centroids`` is the collected model (k×d floats)."""
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        ranked_cells(F.col(vec_col), centroids)[0]["i"].alias("cell"),
    )
