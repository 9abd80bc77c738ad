"""Bucketed frozen-state store (`plans/frozen_store.py`): the on-disk
layout that lets an append probe a 100 TB frozen corpus without ever
shuffling the frozen side. Semantics must be identical to passing the
inline-computed relations; the plan must show the frozen-side Exchange
gone (differential count vs an unbucketed parquet copy of the same
relation) once batches are too big to broadcast.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from fundus_spark.operators.dedup import _same_bucket, band_relation, exact_dedup
from fundus_spark.plans import curate_increment, read_frozen_state, write_frozen_state
from fundus_spark.plans.frozen_store import _stream_tables


def _frozen_docs(spark):
    rows = [
        (i, "s%d" % (i % 3), " ".join("w%d_%d" % (i % 9, j) for j in range(25)))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _new_docs(spark):
    rows = [
        # 4 rebatches of frozen content (exact fps must drop), 6 fresh
        (100 + i, "s9", " ".join("w%d_%d" % (i % 9, j) for j in range(25)))
        for i in range(4)
    ] + [
        (200 + i, "s9", " ".join("fresh%d_%d nova%d" % (i, j, j) for j in range(25)))
        for i in range(6)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


@contextlib.contextmanager
def _no_broadcast(spark):
    """Force the probe joins into their sort-merge regime — the bulk
    backfill shape where bucketing is load-bearing."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def test_store_roundtrip_matches_inline_relations(spark, tmp_path):
    frozen = _frozen_docs(spark)
    new = _new_docs(spark)
    write_frozen_state(frozen, str(tmp_path / "store"), num_buckets=4)
    fps, bands, manifest = read_frozen_state(spark, str(tmp_path / "store"))
    assert manifest["num_buckets"] == 4

    # stored relations carry the same rows as inline computation
    inline_fps = exact_dedup(frozen)
    inline_bands = band_relation(frozen)
    assert {r.fp for r in fps.collect()} == {r.fp for r in inline_fps.collect()}
    assert {tuple(r) for r in bands.drop("part").collect()} == {tuple(r) for r in inline_bands.collect()}

    key = lambda r: (r.doc_id, r.cluster_id, r.split, r.pack_offset, r.pack_bin)  # noqa: E731
    got = curate_increment(new, frozen, frozen_fps=fps, frozen_bands=bands, jaccard_threshold=0.2)
    want = curate_increment(new, frozen, jaccard_threshold=0.2)
    assert {key(r) for r in got.collect()} == {key(r) for r in want.collect()}
    # catalog scans count as cheap rescans, so the broadcast guard's
    # count is metadata-only and no localCheckpoint copy was forced
    from fundus_spark.operators.adaptive import is_cheap_rescan

    assert is_cheap_rescan(fps) and is_cheap_rescan(bands)


def _jobs(spark, group, fn):
    """``(fn(), number of Spark jobs it launched)``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("default", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_counts_like_count(spark):
    """The observed row count equals ``count()`` on a relation with
    rows, on an empty one and on one with zero partitions; a cheap
    relation comes back as-is."""
    from fundus_spark.operators.adaptive import materialize

    docs = _frozen_docs(spark)
    per_source = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    no_parts = spark.createDataFrame(spark.sparkContext.emptyRDD(), "a long").groupBy("a").count()
    for df in (per_source, per_source.where("n < 0"), no_parts):
        out, rows = materialize(df)
        assert rows == df.count() == out.count()
        assert sorted(out.collect()) == sorted(df.collect())
    out, rows = materialize(docs)
    assert out is docs and rows == 40


def test_materialize_raises_on_a_failing_udf(spark):
    from fundus_spark.operators.adaptive import materialize

    @F.udf("long")
    def boom(_):
        raise RuntimeError("boom in udf")

    df = _frozen_docs(spark).groupBy("source").count().select(boom("source").alias("b"))
    with pytest.raises(Exception, match="boom in udf"):
        materialize(df)


def test_materialize_counts_in_the_materializing_job(spark):
    """On a plan with two shuffles the observed count saves the jobs a
    ``count()`` after the eager checkpoint runs."""
    from fundus_spark.operators.adaptive import materialize

    docs = _frozen_docs(spark)
    two_shuffles = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).join(
        docs.groupBy("source").agg(F.max("doc_id").alias("m")), "source"
    )
    want, old = _jobs(spark, "ckpt_count", lambda: two_shuffles.localCheckpoint(eager=True).count())
    (_, rows), new = _jobs(spark, "materialize", lambda: materialize(two_shuffles))
    assert rows == want == 3
    assert new < old, (new, old)


def test_band_probe_has_no_frozen_side_exchange(spark, tmp_path):
    """Differential plan check: the operator's (band, key) probe join
    (``_same_bucket``, as ``incremental_assign`` calls it) against the
    bucketed store needs exactly one fewer Exchange than the same join
    against a plain-parquet copy of the same relation — the frozen
    side reads its buckets in place (SelectedBucketsCount in the scan)
    and only the new batch shuffles."""
    frozen = _frozen_docs(spark)
    write_frozen_state(frozen, str(tmp_path / "store"), num_buckets=4)
    _, bands, _ = read_frozen_state(spark, str(tmp_path / "store"))
    plain_path = str(tmp_path / "plain_bands")
    bands.write.mode("overwrite").parquet(plain_path)
    plain = spark.read.parquet(plain_path)

    nb = band_relation(_new_docs(spark))

    def probe(frozen_bands):
        return _same_bucket(nb, frozen_bands).distinct()

    with _no_broadcast(spark):
        bucketed_plan = probe(bands)._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in bucketed_plan
        n_bucketed = _n_exchanges(probe(bands))
        n_plain = _n_exchanges(probe(plain))
    assert n_bucketed == n_plain - 1
    # and the two regimes agree on the answer
    assert {tuple(r) for r in probe(bands).collect()} == {tuple(r) for r in probe(plain).collect()}


def test_fp_anti_join_has_no_frozen_side_exchange(spark, tmp_path):
    """Same differential for the exact-fingerprint anti-join (stage 2
    of curate_increment): bucketed-on-fp frozen side joins in place."""
    frozen = _frozen_docs(spark)
    write_frozen_state(frozen, str(tmp_path / "store"), num_buckets=4)
    fps, _, _ = read_frozen_state(spark, str(tmp_path / "store"))
    plain_path = str(tmp_path / "plain_fps")
    fps.write.mode("overwrite").parquet(plain_path)
    plain = spark.read.parquet(plain_path)

    new = _new_docs(spark)
    normalized = F.md5(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))

    def anti(rel):
        return (
            new.withColumn("_fp", normalized)
            .join(rel.select(F.col("fp").alias("_fp")), "_fp", "left_anti")
            .drop("_fp")
        )

    with _no_broadcast(spark):
        n_bucketed = _n_exchanges(anti(fps))
        n_plain = _n_exchanges(anti(plain))
    assert n_bucketed == n_plain - 1
    assert {r.doc_id for r in anti(fps).collect()} == {r.doc_id for r in anti(plain).collect()} == {
        200 + i for i in range(6)
    }


def test_store_reregisters_in_a_fresh_catalog(spark, tmp_path):
    """The catalog entry is session-scoped; the manifest DDL re-creates
    it. Simulate a new session by dropping the tables (external: files
    stay) and re-reading — results and bucketed-scan shape survive."""
    frozen = _frozen_docs(spark)
    store = str(tmp_path / "store")
    manifest = write_frozen_state(frozen, store, num_buckets=4)
    for spec in _stream_tables(spark, store, manifest["generation"]).values():
        spark.sql(f"DROP TABLE {spec['table']}")
        assert not spark.catalog.tableExists(spec["table"])

    fps, bands, _ = read_frozen_state(spark, store)
    assert fps.count() == exact_dedup(frozen).count()
    assert bands.count() == band_relation(frozen).count()
    with _no_broadcast(spark):
        nb = band_relation(_new_docs(spark))
        joined = nb.join(bands, ["band", "key"])
        assert "SelectedBucketsCount" in joined._jdf.queryExecution().executedPlan().toString()


def test_write_is_idempotent_overwrite(spark, tmp_path):
    frozen = _frozen_docs(spark)
    store = str(tmp_path / "store")
    write_frozen_state(frozen, store, num_buckets=4)
    write_frozen_state(frozen, store, num_buckets=4)  # re-freeze: no duplicate rows
    fps, bands, _ = read_frozen_state(spark, store)
    assert fps.count() == exact_dedup(frozen).count()
    assert bands.count() == band_relation(frozen).count()


def test_curate_job_freeze_then_increment_lifecycle(spark, tmp_path):
    """The full -> incremental handoff: run_curate_job(freeze_state=True)
    commits a frozen_state stage; a later curate_increment probing the
    store's relations equals one probing the final corpus inline — and
    a resumed job re-reads the committed freeze instead of rewriting."""
    from fundus_spark.plans import curate_increment, run_curate_job

    frozen_docs = _frozen_docs(spark)
    wd = str(tmp_path / "job")
    r1 = run_curate_job(spark, frozen_docs, wd, jaccard_threshold=0.2, freeze_state=True)
    assert "frozen" in r1.stages_run and r1.frozen_store
    r2 = run_curate_job(spark, frozen_docs, wd, jaccard_threshold=0.2, freeze_state=True)
    assert "frozen" in r2.stages_resumed and r2.frozen_store == r1.frozen_store

    corpus = spark.read.parquet(str(tmp_path / "job" / "final"))
    fps, bands, _ = read_frozen_state(spark, r1.frozen_store)
    new = _new_docs(spark)
    key = lambda r: (r.doc_id, r.cluster_id, r.split)  # noqa: E731
    got = curate_increment(
        new, corpus, frozen_fps=fps, frozen_bands=bands, jaccard_threshold=0.2
    )
    want = curate_increment(new, corpus, jaccard_threshold=0.2)
    assert {key(r) for r in got.collect()} == {key(r) for r in want.collect()}


def test_freeze_path_job_counts_pinned(spark, tmp_path):
    """Jobs per freeze-path call on the ``_frozen_docs`` fixture: a
    freeze (fresh or over an existing store) writes two bucketed tables
    in 4 jobs, a read registers them with none, and the curate job's
    freeze stage adds its writes to a fresh run and nothing to a
    resumed one."""
    from fundus_spark.plans import run_curate_job

    frozen = _frozen_docs(spark)
    store = str(tmp_path / "store")
    for group in ("freeze_fresh", "freeze_again"):
        _, jobs = _jobs(spark, group, lambda: write_frozen_state(frozen, store, num_buckets=4))
        assert jobs == 4, (group, jobs)
    _, jobs = _jobs(spark, "freeze_read", lambda: read_frozen_state(spark, store))
    assert jobs == 0
    wd = str(tmp_path / "job")
    for group, want in (("curate_job_fresh", 28), ("curate_job_resumed", 6)):
        run = lambda: run_curate_job(spark, frozen, wd, jaccard_threshold=0.2, freeze_state=True)  # noqa: E731
        _, jobs = _jobs(spark, group, run)
        assert jobs == want, (group, jobs)


def test_freeze_then_append_is_one_store(spark, tmp_path):
    """A freeze is the part-keyed store with one part: a later append
    adds a second part to the same tables, and the probe over both
    parts reads them from the store with nothing missing."""
    from fundus_spark.plans import append_frozen_parts, stream_frozen_relations

    frozen, new = _frozen_docs(spark), _new_docs(spark)
    store = str(tmp_path / "store")
    write_frozen_state(frozen, store, num_buckets=4)
    manifest = append_frozen_parts(spark, store, {"batch-1": new}, num_buckets=4)
    assert manifest["parts"] == ["batch-1", "frozen"] and manifest["num_buckets"] == 4
    fps, bands, missing = stream_frozen_relations(spark, store, {"frozen": frozen, "batch-1": new})
    assert missing == []
    assert fps.count() == exact_dedup(frozen).count() + exact_dedup(new).count()
    assert bands.count() == band_relation(frozen).count() + band_relation(new).count()


def test_append_with_other_lsh_than_the_freeze_raises(spark, tmp_path):
    """The freeze pins the banding; an append with other LSH parameters
    would mix incompatible band keys, so it raises and commits nothing."""
    from fundus_spark.plans import append_frozen_parts

    store = str(tmp_path / "store")
    write_frozen_state(_frozen_docs(spark), store, num_buckets=4)
    with pytest.raises(ValueError, match="lsh"):
        append_frozen_parts(spark, store, {"batch-1": _new_docs(spark)}, bands=2)
    assert read_frozen_state(spark, store)[2]["parts"] == ["frozen"]


def test_string_id_freeze_reregisters_with_its_own_schema(spark, tmp_path):
    """The table DDL comes from the schema the freeze wrote, so a
    non-long ``doc_id`` survives re-registration in a fresh catalog."""
    frozen = _frozen_docs(spark).select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"), "source", "text"
    )
    store = str(tmp_path / "store")
    manifest = write_frozen_state(frozen, store, num_buckets=4)
    for spec in _stream_tables(spark, store, manifest["generation"]).values():
        spark.sql(f"DROP TABLE {spec['table']}")

    fps, bands, _ = read_frozen_state(spark, store)
    assert dict(bands.dtypes)["doc_id"] == "string"
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {
        r.doc_id for r in frozen.collect()
    }
    assert fps.count() == exact_dedup(frozen).count()


def test_store_without_recorded_ddl_raises(spark, tmp_path):
    """A directory without a part manifest is not a store, and a part
    manifest without table DDL cannot be registered: both raise instead
    of reading or overwriting the tables."""
    import json

    with pytest.raises(ValueError, match="no frozen store"):
        read_frozen_state(spark, str(tmp_path))
    (tmp_path / "_STREAM_PARTS.json").write_text(
        json.dumps({"num_buckets": 4, "lsh": None, "parts": ["p"], "generation": 0})
    )
    with pytest.raises(ValueError, match="no table DDL"):
        read_frozen_state(spark, str(tmp_path))
