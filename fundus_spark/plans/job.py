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
* Commit protocol: the partitioned data write lands first; ONE atomic
  multi-bucket manifest append is the commit point (all pending
  buckets' rows in a single single-task write — all-or-nothing at the
  job-commit rename). A crash before it leaves uncommitted
  ``bucket=K`` directories that the retry's dynamic-overwrite rewrite
  replaces idempotently. A resume submit re-extracts only the
  uncommitted buckets — still one scan.
* Per-bucket metrics are read back from the written output with a
  ``bucket IN (...)`` predicate over the partition column, aggregated
  by ``(bucket, _partition_id)`` in ONE job, and written partitioned by
  ``(run_id, bucket)`` with dynamic partition overwrite — a resume
  REPLACES the crashed attempt's orphaned metrics partitions instead
  of duplicating them, so lineage reads need no dedup rule and the
  commit phase does not scale with bucket count.

Resume read-back contract (object stores / Iceberg): the read-back and
resume logic rely ONLY on partition-pruned scans of the output table —
``spark.read.parquet(output).where(col("bucket").isin(...))`` here,
which on a Hive-layout store prunes to the ``bucket=K`` directories via
the partition filter (verified by ``tests/test_spark_e2e.py``'s
pruned-read assertion) and on Iceberg becomes the identical
``.where(...)`` over the table's bucket partition — a metadata-only
prune, no directory listing. Nothing reads ``{output}/bucket=K`` paths
directly, so swapping the parquet sink for an Iceberg catalog table
changes only the write (``writeTo(...).overwritePartitions()``) and
``append_rows``.
"""

from __future__ import annotations

import datetime
import time
import uuid
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract_stage import extract_articles
from .lineage import append_rows, bucketed_partition_metrics, committed_buckets, manifest_frame


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

    done = committed_buckets(spark, manifest_path, run_id)
    result.buckets_skipped = sorted(b for b in range(n_buckets) if b in done)
    remaining = [b for b in range(n_buckets) if b not in done]

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
        # Commit phase — constant job count, idempotent under resume.
        #
        # Metrics for ALL pending buckets come from ONE partition-pruned
        # read of the written output (the bucket predicate prunes to
        # exactly the bucket=K directories of this batch — on Iceberg
        # the same metadata-only prune) aggregated by
        # (bucket, _partition_id). The metrics table is partitioned by
        # (run_id, bucket) and written with DYNAMIC PARTITION OVERWRITE:
        # a resume that re-runs not-yet-manifested buckets REPLACES
        # their orphaned metrics partitions from the crashed attempt
        # instead of appending duplicates (round-3 advisory: a plain
        # append here duplicated metrics rows for every bucket whose
        # manifest commit had not landed). Committed buckets are not in
        # `remaining`, so their partitions are untouched.
        written = spark.read.parquet(output_path).where(F.col("bucket").isin(remaining))
        metrics = bucketed_partition_metrics(written, run_id)
        (
            metrics.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "bucket")
            .parquet(metrics_path)
        )
        manifest_rows = {
            r["bucket"]: r
            for r in spark.read.parquet(metrics_path)
            .where((F.col("run_id") == run_id) & F.col("bucket").isin(remaining))
            .groupBy("bucket")
            .agg(
                F.sum("input_turns").alias("input_turns"),
                F.sum("output_turns").alias("output_turns"),
                F.sum("parse_failures").alias("parse_failures"),
                F.sum("bytes_processed").alias("bytes_processed"),
                F.max("committed_at").alias("committed_at"),
            )
            .collect()
        }
        # ONE atomic multi-bucket manifest append (round-3 verdict #9):
        # all pending buckets' rows land in a single single-task append
        # — the file rename at job commit makes the batch all-or-nothing,
        # which is strictly stronger than the old prefix-commit loop
        # (4096 sequential driver round-trips at 4096 buckets) and keeps
        # the same resume contract: a bucket is committed iff its
        # manifest row is readable, and the data write preceding it is
        # idempotent dynamic overwrite either way.
        now = datetime.datetime.now(datetime.timezone.utc)
        data = []
        for bucket in remaining:
            row = manifest_rows.get(bucket)
            if row is None:
                # a bucket can legitimately receive zero rows (hash gap
                # at tiny inputs); commit it empty so resume skips it.
                data.append((run_id, bucket, 0, 0, 0, 0, now))
            else:
                data.append(
                    (
                        run_id,
                        bucket,
                        row["input_turns"],
                        row["output_turns"],
                        row["parse_failures"],
                        row["bytes_processed"],
                        row["committed_at"],
                    )
                )
        append_rows(spark, manifest_frame(spark, data).coalesce(1), manifest_path)
        result.buckets_run.extend(remaining)

    totals = (
        spark.read.parquet(manifest_path)
        .where(F.col("run_id") == run_id)
        .agg(
            F.sum("input_turns").alias("i"),
            F.sum("output_turns").alias("o"),
            F.sum("parse_failures").alias("f"),
        )
        .collect()[0]
    )
    result.input_turns = totals["i"] or 0
    result.output_turns = totals["o"] or 0
    result.parse_failures = totals["f"] or 0
    result.wall_seconds = time.time() - started
    return result
