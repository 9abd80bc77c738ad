"""End-to-end Spark pipeline tests: transcripts table -> mapInPandas
extraction -> ordered reassembly -> lineage/metrics -> resume.

The golden transcript rows must extract to byte-identical values vs the
reference golden corpus under stable (conv_id, turn_idx) ordering —
the north_rule per-turn text-equality gate, exercised through Spark
rather than the kernel directly.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fundus_spark.plans import (
    assemble_conversations,
    extract_articles,
    ordered_turns,
    run_extraction_job,
)
from fundus_spark.sources.transcripts import build_transcripts

from .golden import iter_golden_cases, normalize_extraction


@pytest.fixture(scope="module")
def transcripts_df(spark):
    rows = build_transcripts(n_bulk_turns=60, seed=42)
    df = spark.createDataFrame(rows)
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts").cache()


@pytest.fixture(scope="module")
def extracted_df(spark, transcripts_df):
    return extract_articles(transcripts_df, salt_partitions=8).cache()


def test_extraction_schema_and_counts(transcripts_df, extracted_df):
    n_in = transcripts_df.count()
    n_out = extracted_df.count()
    assert n_out == n_in
    assert extracted_df.where(~F.col("parse_ok")).count() == 0


def test_golden_rows_match_reference_through_spark(extracted_df):
    from fundus_spark.kernel import run_extraction
    from fundus_spark.rules import REGISTRY

    expected_by_turn = {}
    for case in iter_golden_cases():
        # index golden expectations by (conv_id, snapshot order)
        expected_by_turn.setdefault(case.publisher_key, []).append(case)

    rows = (
        extracted_df.where(F.col("conv_id").startswith("golden-"))
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert rows, "no golden rows present"
    checked = 0
    for row in rows:
        publisher_key = row["tool"]
        cases = expected_by_turn[publisher_key]
        case = cases[row["turn_idx"]]
        expected = case.expected
        if "title" in expected:
            assert row["title"] == expected["title"], (publisher_key, "title")
        if "body" in expected:
            assert json.loads(row["body_json"]) == expected["body"], (publisher_key, "body")
        if "authors" in expected:
            assert row["authors"] == expected["authors"], (publisher_key, "authors")
        if "topics" in expected:
            assert row["topics"] == expected["topics"], (publisher_key, "topics")
        if "publishing_date" in expected:
            assert row["publishing_date"] == expected["publishing_date"], (publisher_key, "date")
        if "images" in expected:
            assert json.loads(row["images_json"]) == expected["images"], (publisher_key, "images")
        assert row["parser_version"] == case.version
        checked += 1
    assert checked >= 10


def test_ordered_turns_window(extracted_df):
    ranked = ordered_turns(extracted_df)
    rows = ranked.where(F.col("conv_id") == "conv-000000").orderBy("turn_rank").select("turn_idx", "turn_rank").collect()
    assert [r["turn_idx"] for r in rows] == sorted(r["turn_idx"] for r in rows)
    assert [r["turn_rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_assemble_conversations_order_and_content(spark, extracted_df):
    # small chunk forces the two-level merge path
    conversations = assemble_conversations(extracted_df, chunk=4).cache()
    row = conversations.where(F.col("conv_id") == "conv-000000").collect()[0]
    per_turn = (
        extracted_df.where(F.col("conv_id") == "conv-000000")
        .orderBy("turn_idx")
        .select("plaintext")
        .collect()
    )
    expected_doc = "\n\n".join(r["plaintext"] for r in per_turn if r["plaintext"] is not None)
    assert row["document"] == expected_doc
    assert row["n_turns"] == len([r for r in per_turn if r["plaintext"] is not None])


def test_job_resume_skips_committed_buckets(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    manifest = str(tmp_path / "manifest")

    first = run_extraction_job(
        spark, transcripts_df, out, metrics, manifest, run_id="testrun", n_buckets=4, salt_partitions=8
    )
    assert sorted(first.buckets_run) == [0, 1, 2, 3]
    assert first.input_turns == transcripts_df.count()
    assert first.parse_failures == 0

    second = run_extraction_job(
        spark, transcripts_df, out, metrics, manifest, run_id="testrun", n_buckets=4, salt_partitions=8
    )
    assert second.buckets_run == []
    assert sorted(second.buckets_skipped) == [0, 1, 2, 3]

    # lineage rows exist per partition with sane counts
    m = spark.read.parquet(metrics)
    assert m.agg(F.sum("input_turns")).collect()[0][0] == transcripts_df.count()
    assert m.where(F.col("bytes_processed") <= 0).count() == 0


def test_job_readback_is_partition_pruned(spark, transcripts_df, tmp_path):
    """Resume read-back contract (plans/job.py docstring): the commit
    phase reads the output ONLY through a partition filter on `bucket`,
    so the scan must touch just the selected bucket=K directories —
    the same shape Iceberg serves as a metadata-only partition prune."""
    out = str(tmp_path / "out")
    run_extraction_job(
        spark,
        transcripts_df,
        out,
        str(tmp_path / "metrics"),
        str(tmp_path / "manifest"),
        run_id="prune",
        n_buckets=4,
        salt_partitions=8,
    )
    for bucket in (0, 3):
        pruned = spark.read.parquet(out).where(F.col("bucket").isin([bucket]))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # the bucket predicate must land in PartitionFilters (directory
        # prune), not PushedFilters/post-scan Filter (data read + drop)
        partition_filters = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert partition_filters and "bucket" in partition_filters[0], plan
        assert pruned.count() > 0, f"bucket {bucket} read back empty"


def test_malformed_html_degrades_not_fails(spark):
    rows = [
        {"conv_id": "c", "turn_idx": 0, "role": "tool", "text": "<<<not html>>>", "tool": "generic", "ts": None},
        {"conv_id": "c", "turn_idx": 1, "role": "tool", "text": "", "tool": "generic", "ts": None},
    ]
    df = spark.createDataFrame(
        rows, schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = extract_articles(df).collect()
    assert len(out) == 2  # rows survive; no task failure


def test_lsh_two_phase_dedup(spark):
    """LSH banding -> exact Jaccard verify (the 100 TB dedup path).

    Deterministic recall property: an exact-duplicate pair has every
    minhash equal, so it collides in EVERY band -> must be a candidate.
    Also asserts pair asymmetry (a < b, no self-pairs) and that the
    candidates-first Jaccard equals the unrestricted exact regime on
    the candidate set.
    """
    from fundus_spark.operators import lsh_candidate_pairs, ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near dup
        (4, "completely different content about spark catalyst optimizer internals and shuffles"),
        (5, "unrelated text on minhash signatures banding and candidate pair generation at scale"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    cands = lsh_candidate_pairs(df, n_perm=8, bands=4, k=3)
    pairs = {(r["a"], r["b"]) for r in cands.collect()}
    assert (1, 2) in pairs  # exact dup collides in every band
    for a, b in pairs:
        assert a < b  # asymmetric, no self-pairs

    verified = ngram_jaccard_pairs(df, k=3, threshold=0.0, candidates=cands)
    got = {(r["a"], r["b"]): r["jaccard"] for r in verified.collect()}
    assert got[(1, 2)] == 1.0

    exact = ngram_jaccard_pairs(df, k=3, threshold=0.0)
    exact_vals = {(r["a"], r["b"]): r["jaccard"] for r in exact.collect()}
    for pair, j in got.items():
        assert exact_vals[pair] == j  # candidates-first == unrestricted on the candidate set


def test_job_partial_resume_single_pass(spark, transcripts_df, tmp_path):
    """Resume with a partially-committed manifest re-runs only the
    uncommitted buckets (and the data write is one partitioned pass)."""
    import datetime

    from fundus_spark.plans.lineage import MANIFEST_SCHEMA

    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    manifest = str(tmp_path / "manifest")

    # pre-commit buckets 0 and 2 in the manifest (simulating a crash
    # after their commit points)
    now = datetime.datetime.now(datetime.timezone.utc)
    pre = spark.createDataFrame(
        [("partial", b, 0, 0, 0, 0, now) for b in (0, 2)], schema=MANIFEST_SCHEMA
    )
    pre.write.mode("append").parquet(manifest)

    res = run_extraction_job(
        spark, transcripts_df, out, metrics, manifest, run_id="partial", n_buckets=4, salt_partitions=8
    )
    assert sorted(res.buckets_run) == [1, 3]
    assert sorted(res.buckets_skipped) == [0, 2]
    import os

    written = sorted(d for d in os.listdir(out) if d.startswith("bucket="))
    assert written == ["bucket=1", "bucket=3"]
    assert _totals(res) == _manifest_totals(spark, manifest, "partial")


def _totals(res):
    return res.input_turns, res.output_turns, res.parse_failures


def _manifest_totals(spark, manifest, run_id):
    """The sums over every manifest row of ``run_id``."""
    row = (
        spark.read.parquet(manifest)
        .where(F.col("run_id") == run_id)
        .agg(*(F.sum(c) for c in ("input_turns", "output_turns", "parse_failures")))
        .collect()[0]
    )
    return tuple(v or 0 for v in row)


def _job_count(spark, group, fn):
    """``(fn(), number of Spark jobs it launched)``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("default", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_commit_reads_nothing_it_wrote(spark, transcripts_df, tmp_path):
    """The manifest is read once per run and nothing the commit writes
    is read back: a fresh run is the data write plus the metrics
    materialization, its write, the per-bucket manifest aggregate and the
    manifest append (8 jobs on this fixture; 12 when the commit re-read
    the metrics and the manifest), and a full resume is the one manifest
    read (6 jobs before). The totals are the sums of the run's manifest
    rows either way."""
    paths = [str(tmp_path / d) for d in ("out", "metrics", "manifest")]

    def run():
        return run_extraction_job(spark, transcripts_df, *paths, run_id="once", n_buckets=4, salt_partitions=8)

    fresh, n_fresh = _job_count(spark, "commit_fresh", run)
    assert n_fresh <= 8, n_fresh
    assert sorted(fresh.buckets_run) == [0, 1, 2, 3]
    assert _totals(fresh) == _manifest_totals(spark, paths[2], "once")
    assert fresh.input_turns == transcripts_df.count()

    resumed, n_resume = _job_count(spark, "commit_resume", run)
    assert n_resume <= 1, n_resume
    assert resumed.buckets_run == [] and resumed.buckets_skipped == [0, 1, 2, 3]
    assert _totals(resumed) == _totals(fresh) == _manifest_totals(spark, paths[2], "once")


def test_job_resume_does_not_duplicate_metrics(spark, transcripts_df, tmp_path):
    """Round-3 advisory: a crash between the metrics write and the
    manifest commit must not leave duplicated metrics rows after the
    resume — the metrics table is partitioned by (run_id, bucket) and
    dynamically overwritten, so the re-run REPLACES the orphaned
    attempt's partitions."""
    import shutil

    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    manifest = str(tmp_path / "manifest")

    run_extraction_job(
        spark, transcripts_df, out, metrics, manifest, run_id="crashy", n_buckets=4, salt_partitions=8
    )
    # simulate a crash AFTER the metrics write but BEFORE the manifest
    # commit: keep the metrics table, drop the manifest
    shutil.rmtree(manifest)
    res = run_extraction_job(
        spark, transcripts_df, out, metrics, manifest, run_id="crashy", n_buckets=4, salt_partitions=8
    )
    assert sorted(res.buckets_run) == [0, 1, 2, 3]

    m = spark.read.parquet(metrics).where(F.col("run_id") == "crashy")
    # no duplicated (bucket, partition_id) lineage rows, exact totals
    assert m.count() == m.select("bucket", "partition_id").distinct().count()
    assert m.agg(F.sum("input_turns")).collect()[0][0] == transcripts_df.count()


def test_job_commit_phase_job_count_bucket_independent(spark, transcripts_df, tmp_path):
    """VERDICT r2 #3 done-criterion: the metrics phase costs ONE job
    regardless of bucket count; only the per-bucket manifest appends
    (the commit points) scale with buckets. Going 2 -> 6 buckets must
    add ~1 job per extra bucket — the old per-bucket loop added ~4
    (two reads + two appends)."""
    tracker = spark.sparkContext.statusTracker()

    spark.sparkContext.setJobGroup("jc2", "two buckets")
    run_extraction_job(
        spark, transcripts_df, str(tmp_path / "o2"), str(tmp_path / "m2"), str(tmp_path / "f2"),
        run_id="jc2", n_buckets=2, salt_partitions=8,
    )
    n2 = len(tracker.getJobIdsForGroup("jc2"))

    spark.sparkContext.setJobGroup("jc6", "six buckets")
    run_extraction_job(
        spark, transcripts_df, str(tmp_path / "o6"), str(tmp_path / "m6"), str(tmp_path / "f6"),
        run_id="jc6", n_buckets=6, salt_partitions=8,
    )
    n6 = len(tracker.getJobIdsForGroup("jc6"))
    spark.sparkContext.setJobGroup("default", "")

    assert n2 > 0 and n6 > 0
    # the commit phase is now one metrics write + one manifest append
    # regardless of bucket count — 4 extra buckets may add ~0 jobs
    assert n6 - n2 <= 2, (n2, n6)


def test_spark_submit_deployment_smoke(spark, transcripts_df, tmp_path):
    """North-rule deployment shape, actually exercised: package the
    code into the --py-files zip, run `spark-submit` from OUTSIDE the
    repo (so only the zip can provide fundus_spark), then re-submit and
    assert the resume skips every committed bucket."""
    import shutil
    import subprocess

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent / "tools"))
    import package as packager

    zip_path = packager.build(dest=str(tmp_path / "fundus_spark.zip"))
    inp = str(tmp_path / "in")
    transcripts_df.write.parquet(inp)

    def submit():
        cmd = [
            spark_submit,
            "--py-files",
            zip_path,
            str(__import__("pathlib").Path(__file__).resolve().parent.parent / "tools" / "submit_job.py"),
            "--input", inp,
            "--output", str(tmp_path / "out"),
            "--metrics", str(tmp_path / "metrics"),
            "--manifest", str(tmp_path / "manifest"),
            "--n-buckets", "4",
            "--run-id", "submit-smoke",
            "--local", "4",
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=str(tmp_path))
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    first = submit()
    assert sorted(first["buckets_run"]) == [0, 1, 2, 3]
    assert first["parse_failures"] == 0 and first["output_turns"] == first["input_turns"]

    second = submit()
    assert second["buckets_run"] == []
    assert sorted(second["buckets_skipped"]) == [0, 1, 2, 3]


def test_salted_repartition_balances_hot_conversation(spark):
    """North-rule skew defense, MEASURED: one conv_id owns 95% of all
    turns. Keyed on conv_id alone, one partition would own ~950 rows;
    the salted key (conv_id, turn_idx) spreads them near-uniformly —
    and the extraction output is identical either way."""
    rows = [
        ("hot", i, "tool", f"<html lang='en'><body><article><p>doc {i}</p></article></body></html>", "generic", None)
        for i in range(950)
    ] + [
        (f"cold-{i}", 0, "tool", f"<html lang='en'><body><article><p>c {i}</p></article></body></html>", "generic", None)
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )

    def partition_sizes(frame):
        return [
            r["count"]
            for r in frame.withColumn("p", F.spark_partition_id()).groupBy("p").count().collect()
        ]

    skewed = partition_sizes(df.repartition(16, F.col("conv_id")))
    assert max(skewed) >= 900  # the hazard being defended against

    salted = extract_articles(df, salt_partitions=16)
    balanced = partition_sizes(salted)
    assert max(balanced) <= 2 * (1000 / 16), balanced  # near-uniform

    # result invariance: salting changes the physical layout only
    a = {(r["conv_id"], r["turn_idx"], r["plaintext"]) for r in salted.collect()}
    b = {(r["conv_id"], r["turn_idx"], r["plaintext"]) for r in extract_articles(df).collect()}
    assert a == b
