"""WARC source operator: stored ``.warc.gz`` payloads -> one row per
HTTP response record — the batch shape of the reference's CCNewsSource
(``scraping/html.py:268-317``: ArchiveIterator over response records,
URL from WARC-Target-URI, charset-decoded body).

Scale shape: WARC files are the scan unit (CC-NEWS ships ~1 GB files);
each row of the input carries one file's bytes and explodes into its
records inside a row generator on the Arrow boundary
(:func:`operators.adaptive.map_rows`) — a pure narrow map, no shuffle.
At 100 TB the parallelism is the file count, exactly how the reference
distributes CC-NEWS paths across processes (crawler.py:742-780).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("record_idx", IntegerType()),
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("html", StringType()),
    ]
)


def _record_rows(rows):
    from ..kernel.warc import warc_response_records

    for source, payload in rows:
        for idx, record in enumerate(warc_response_records(bytes(payload or b""))):
            yield source, idx, record.target_uri, record.warc_date, record.body


def warc_extract(warcs: DataFrame) -> DataFrame:
    """``warcs (source, payload: binary)`` -> response records."""
    from .adaptive import map_rows

    return map_rows(warcs.select("source", "payload"), _record_rows, WARC_RECORD_SCHEMA)


RESHARD_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("n_records", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def warc_reshard(
    records: DataFrame,
    n_shards: int,
    url_col: str = "url",
    date_col: str = "warc_date",
    body_col: str = "html",
    hash_mode: str = "md5",
    compress: bool = True,
) -> DataFrame:
    """Re-shard response records into ``n_shards`` fresh multi-member
    ``.warc.gz`` payloads — the write half of the format loop. A 100 TB
    pipeline does not only READ archives: filtered / deduplicated /
    re-balanced corpora are written back out as WARC for downstream
    consumers (CC-NEWS itself is periodically re-sharded this way), so
    the reader (:func:`warc_extract`) needs a writer whose output it
    can round-trip byte-identically.

    Shard assignment is the deterministic portable hash bucket of the
    record URL (``operators.sampling.hash_bucket`` — md5 by default so
    a DuckDB oracle replays the exact assignment; ``xxhash64`` for the
    cheaper production path), NOT a row-number: it needs no global
    ordering (zero extra exchange beyond the one shard groupBy), is
    stable under re-runs and input reordering, and spreads hot sources
    uniformly. Within a shard, records are STABLE-sorted on the full
    (url, date, body) tuple so shard bytes are deterministic (same
    input -> same gzip members, byte for byte, since the builder
    writes mtime=0 headers) — URL alone is not a total order because
    crawl records legitimately repeat a URL (re-fetches), and pandas'
    default quicksort would permute such ties across runs/input orders.

    Scale shape: ONE exchange (groupBy shard), then each shard builds
    its members in a single Arrow group — size shards via ``n_shards``
    so one shard's records fit an executor (CC-NEWS convention ~1 GB
    per file). Returns ``(shard_id, n_records, payload)``.
    """
    from ..kernel.warc import build_warc
    from .sampling import hash_bucket

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([url_col, date_col, body_col], kind="stable")
        payload = build_warc(
            [(r[0], r[1], r[2]) for r in zip(pdf[url_col], pdf[date_col], pdf[body_col])],
            compress=compress,
        )
        return pd.DataFrame(
            {"shard_id": [int(pdf["_shard"].iloc[0])], "n_records": [len(pdf)], "payload": [payload]}
        )

    from pyspark.sql import functions as F

    sharded = records.withColumn(
        "_shard", (hash_bucket(F.col(url_col), mode=hash_mode) % n_shards).cast("int")
    )
    return sharded.groupBy("_shard").applyInPandas(build, schema=RESHARD_SCHEMA)
