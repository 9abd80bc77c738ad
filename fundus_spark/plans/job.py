"""End-to-end extraction job: scan -> bucketed extraction -> write ->
lineage -> manifest commit, resumable per bucket.

Scale design (SURVEY.md §3.2 lifecycle):
* The input is split into ``n_buckets`` by a uniform hash of
  ``(conv_id, turn_idx)``. Each bucket is one unit of commit/resume —
  at 100 TB you'd run 256-4096 buckets so a re-submit after a failure
  repeats at most 1/n of the work.
* **Single-pass write**: all not-yet-committed buckets are extracted in
  ONE scan and written ``partitionBy("bucket")`` with dynamic partition
  overwrite (only the buckets in this batch are replaced). A hash
  predicate cannot prune parquet files, so a per-bucket loop would cost
  ``n_buckets`` full-table scans — 4096 buckets over 100 TB would read
  ~400 PB. One pass reads the table once regardless of bucket count.
* **One source per fact**: the run's manifest rows are read once, at
  the start; they give both the buckets to skip and the prior totals.
  The per-(bucket, partition) metrics are computed once, from a
  partition-pruned read-back of what actually landed, and that one
  relation is both written as lineage and aggregated into the manifest
  rows (at most ``n_buckets``). The totals are summed on the driver
  from the prior and the new manifest rows; neither the metrics nor
  the manifest is read back.
* Commit protocol: the partitioned data write lands first, then the
  metrics; ONE multi-bucket manifest append is the commit point (all
  pending buckets' rows in a single single-task write — all-or-nothing
  at the job-commit rename). A crash before it leaves uncommitted
  ``bucket=K`` directories and metrics partitions, which the retry's
  dynamic-overwrite writes replace idempotently, so lineage reads need
  no dedup rule. A resume submit re-extracts only the uncommitted
  buckets — still one scan.

Resume read-back contract (object stores / Iceberg): the read-back
relies ONLY on partition-pruned scans of the output table —
``spark.read.schema(...).parquet(output).where(col("bucket").isin(...))`` here,
which on a Hive-layout store prunes to the ``bucket=K`` directories via
the partition filter (verified by ``tests/test_spark_e2e.py``'s
pruned-read assertion) and on Iceberg becomes the identical
``.where(...)`` over the table's bucket partition — a metadata-only
prune, no directory listing. Nothing reads ``{output}/bucket=K`` paths
directly, so swapping the parquet sink for an Iceberg catalog table
changes only the writes (``writeTo(...).overwritePartitions()`` and
``.append()``).
"""

from __future__ import annotations

import datetime
import time
import uuid
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..operators.adaptive import materialize
from .extract_stage import extract_articles
from .lineage import bucketed_partition_metrics, manifest_frame, run_manifest


@dataclass
class JobResult:
    run_id: str
    buckets_total: int
    buckets_run: List[int] = field(default_factory=list)
    buckets_skipped: List[int] = field(default_factory=list)
    input_turns: int = 0
    output_turns: int = 0
    parse_failures: int = 0
    wall_seconds: float = 0.0


def run_extraction_job(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    metrics_path: str,
    manifest_path: str,
    run_id: Optional[str] = None,
    n_buckets: int = 8,
    salt_partitions: Optional[int] = None,
) -> JobResult:
    run_id = run_id or uuid.uuid4().hex[:12]
    started = time.time()
    result = JobResult(run_id=run_id, buckets_total=n_buckets)

    prior = run_manifest(spark, manifest_path, run_id)
    done = {r["bucket"] for r in prior}
    result.buckets_skipped = [b for b in range(n_buckets) if b in done]
    remaining = [b for b in range(n_buckets) if b not in done]
    new = []

    if remaining:
        # xxhash64 is type-sensitive (int32 vs int64 hash differently);
        # pin the key types so the bucket recomputed on the stage output
        # (turn_idx: int32 per EXTRACTION_SCHEMA) matches the input side
        # whatever width the source table used.
        bucket_col = F.pmod(
            F.xxhash64(F.col("conv_id").cast("string"), F.col("turn_idx").cast("long")), F.lit(n_buckets)
        ).cast("int")
        pending = transcripts
        if done:  # resume: one scan over just the uncommitted buckets
            pending = pending.where(bucket_col.isin(remaining))
        # bucket is a pure function of (conv_id, turn_idx), which the
        # stage carries through — recompute it post-extraction rather
        # than widening the Arrow schema (no shuffle either way).
        extracted = extract_articles(pending, salt_partitions=salt_partitions).withColumn("bucket", bucket_col)
        # ONE data write for every pending bucket; dynamic overwrite
        # replaces exactly the bucket=K partitions present in the batch.
        (
            extracted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(output_path)
        )
        # The metrics describe what landed: one partition-pruned read of
        # the written output (on Iceberg the same metadata-only prune),
        # with the schema the job already holds, so no footer is read to
        # infer it. Materialized once, they are written as lineage and
        # aggregated into the manifest rows.
        written = spark.read.schema(extracted.schema).parquet(output_path).where(F.col("bucket").isin(remaining))
        metrics, _ = materialize(bucketed_partition_metrics(written, run_id))
        # Partitioned by (run_id, bucket) with DYNAMIC overwrite: a resume
        # that re-runs not-yet-manifested buckets REPLACES the orphaned
        # metrics partitions of the crashed attempt instead of appending
        # duplicates. Committed buckets are not in `remaining`, so their
        # partitions are untouched.
        (
            metrics.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "bucket")
            .parquet(metrics_path)
        )
        landed = {
            r["bucket"]: r
            for r in metrics.groupBy("run_id", "bucket")
            .agg(
                F.sum("input_turns").alias("input_turns"),
                F.sum("output_turns").alias("output_turns"),
                F.sum("parse_failures").alias("parse_failures"),
                F.sum("bytes_processed").alias("bytes_processed"),
                F.max("committed_at").alias("committed_at"),
            )
            .collect()
        }
        # A bucket can receive zero rows (a hash gap at tiny inputs); it
        # is committed empty so a resume skips it.
        now = datetime.datetime.now(datetime.timezone.utc)
        new = [
            landed.get(b)
            or Row(run_id=run_id, bucket=b, input_turns=0, output_turns=0, parse_failures=0,
                   bytes_processed=0, committed_at=now)
            for b in remaining
        ]
        # ONE manifest append is the commit point: every pending bucket's
        # row lands in a single single-task write, all-or-nothing at the
        # job-commit rename. A bucket is committed iff its manifest row is
        # readable; the writes before it are idempotent dynamic overwrites.
        manifest_frame(spark, new).coalesce(1).write.mode("append").parquet(manifest_path)
        result.buckets_run = remaining

    # every manifest row of the run: SQL-sum semantics, NULLs count 0
    rows = prior + new
    result.input_turns = sum(r["input_turns"] or 0 for r in rows)
    result.output_turns = sum(r["output_turns"] or 0 for r in rows)
    result.parse_failures = sum(r["parse_failures"] or 0 for r in rows)
    result.wall_seconds = time.time() - started
    return result
