"""Job counts of the operators that cut their lineage through
``operators.adaptive.checkpoint``: a check over a just-checkpointed
relation is observed on the checkpointing job itself, so it costs no
second job. Each pin is an upper bound; the results are compared with
pure-Python references.
"""

from __future__ import annotations

import pytest

from tests.test_classifier import _corpus, _py_fit
from tests.test_property_ops import _union_find_components


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("default", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_observes_on_its_own_job(spark):
    """``checkpoint`` returns the row count and every named aggregate
    from the one job that cuts the relation."""
    from pyspark.sql import functions as F

    from fundus_spark.operators.adaptive import checkpoint

    df = spark.range(10).where("id % 2 = 0")
    (out, m), jobs = _jobs(spark, "door_checkpoint", lambda: checkpoint(
        df, big=F.count_if(F.col("id") > 4), top=F.max("id")))
    assert m == {"rows": 5, "big": 2, "top": 8}
    assert jobs == 1, jobs
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()


def test_connected_components_one_job_per_round(spark):
    """40 six-node paths (diameter 5) converge in a fixed number of
    rounds; each round is one checkpoint job whose observed count of
    changed labels decides convergence. Labels equal union-find."""
    from fundus_spark.operators import connected_components

    edges = [(6 * c + i, 6 * c + i + 1) for c in range(40) for i in range(5)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    got, jobs = _jobs(spark, "door_cc_paths", lambda: {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()})
    assert got == _union_find_components(edges)
    assert jobs <= 40, jobs

    empty = pairs.limit(0)
    got, jobs = _jobs(spark, "door_cc_empty", lambda: connected_components(empty).collect())
    assert got == []
    assert jobs <= 1, jobs


@pytest.mark.parametrize("method,max_jobs", [("gram", 9), ("iterative", 21)])
def test_classifier_fit_counts_null_labels_on_the_checkpoint(spark, method, max_jobs):
    """The null-label guard reads the count observed by the features
    checkpoint, so the fit runs no separate scan for it."""
    from fundus_spark.operators import quality_classifier_fit

    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model, jobs = _jobs(spark, f"door_fit_{method}", lambda: quality_classifier_fit(
        df, method=method))
    got = {r.j: r.w_q for r in model.collect()}
    assert [got[j] for j in range(65)] == _py_fit(rows, 64, 8, 0.0625, "qcls", "binary")
    assert jobs <= max_jobs, jobs
