"""Per-partition lineage/metrics and the checkpoint/resume manifest.

North_rule requirements:
* every stage writes per-partition lineage rows (partition id,
  input/output turn counts, parse-failure counts, bytes processed) to a
  metrics table;
* the job is resumable from per-partition checkpoints — a re-submit
  skips committed partitions.

Implementation notes for this sandbox: the metrics/manifest tables are
parquet directories written via the same DataFrame API an Iceberg
catalog would take (``saveAsTable``/``writeTo(...).append()`` on a real
deployment). Commit protocol: data for bucket K is written under
``<output>/bucket=K/`` first; the manifest row for K is appended only
after that write completes, so a crash between the two leaves a
re-runnable (idempotent, overwritten on retry) bucket.
"""

from __future__ import annotations

import datetime
from typing import List

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.adaptive import local_rows
from . import lake

MANIFEST_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("bucket", IntegerType()),
        StructField("input_turns", LongType()),
        StructField("output_turns", LongType()),
        StructField("parse_failures", LongType()),
        StructField("bytes_processed", LongType()),
        StructField("committed_at", TimestampType()),
    ]
)


def bucketed_partition_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-(bucket, partition) lineage for EVERY bucket present, in one
    aggregation — the job's commit phase calls this once over a single
    partition-pruned read of the written output, so the metrics phase
    costs a constant number of Spark jobs whatever the bucket count (a
    4096-bucket run must not pay 4096 sequential driver round-trips)."""
    return (
        extracted.groupBy("bucket", "_partition_id")
        .agg(
            F.count(F.lit(1)).alias("input_turns"),
            F.sum(F.col("parse_ok").cast("long")).alias("output_turns"),
            F.sum((~F.col("parse_ok")).cast("long")).alias("parse_failures"),
            F.sum("_bytes").alias("bytes_processed"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("bucket").cast("int").alias("bucket"),
            F.col("_partition_id").alias("partition_id"),
            "input_turns",
            "output_turns",
            "parse_failures",
            "bytes_processed",
            F.lit(datetime.datetime.now(datetime.timezone.utc)).alias("committed_at"),
        )
    )


def run_manifest(spark: SparkSession, manifest_path: str, run_id: str) -> List[Row]:
    """The manifest rows of ``run_id`` (``MANIFEST_SCHEMA`` order); none
    when no manifest exists yet. The schema is pinned, so the read runs
    no footer-inference job."""
    if not lake.exists(spark, manifest_path):
        return []
    manifest = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    return manifest.where(F.col("run_id") == run_id).collect()


def manifest_frame(spark: SparkSession, rows: List[tuple]) -> DataFrame:
    """``rows`` (``MANIFEST_SCHEMA`` order) as an Arrow-backed
    ``LocalRelation`` (:func:`operators.adaptive.local_rows`). A list of
    tuples would plan as a ``LogicalRDD`` whose one-task append stage
    costs most of a second. Timestamps go in as UTC-aware values: a
    naive one is local time, as Spark returns it from ``collect()``,
    whatever the session time zone."""
    return local_rows(
        spark,
        [row[:-1] + (row[-1].astimezone(datetime.timezone.utc),) for row in rows],
        MANIFEST_SCHEMA,
    )
