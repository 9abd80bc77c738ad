"""The extraction stage: the kernel as a row generator on the Arrow boundary.

Design (SURVEY.md §2.4, §7):
* **No per-row Python dispatch** — Spark hands the stage Arrow record
  batches through :func:`operators.adaptive.map_rows`; the kernel
  parses each document once per row (the ``Precomputed`` analogue
  lives and dies inside the row).
* **Rules by module import, not closure capture** — the publisher
  registry is resolved on the executor via ``fundus_spark.rules``
  import, so the task closure stays tiny and selector compilation
  happens once per Python worker process (reference caches compiled
  selectors as class attributes; ours are module-level constants).
* **Lineage columns, not side channels** — every output row carries
  ``_partition_id`` and ``_bytes`` so per-partition lineage/metrics
  aggregate from the output itself with one cheap columnar agg, and a
  failed parse degrades to a row with ``parse_ok=false`` (error kept)
  rather than a lost record.
* ``publishing_date`` is emitted twice: the exact reference
  serialization string (golden parity) and a UTC timestamp for
  relational use.
"""

from __future__ import annotations

import json
import re
from datetime import timezone
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernel import run_extraction
from ..kernel.body import body_to_plaintext
from ..kernel.lang import heuristic_language

EXTRACTION_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
        StructField("publisher", StringType()),
        StructField("parser_version", StringType()),
        StructField("title", StringType()),
        StructField("body_json", StringType()),
        StructField("plaintext", StringType()),
        StructField("authors", ArrayType(StringType())),
        StructField("publishing_date", StringType()),
        StructField("publishing_date_ts", TimestampType()),
        StructField("topics", ArrayType(StringType())),
        StructField("free_access", BooleanType()),
        StructField("images_json", StringType()),
        StructField("lang", StringType()),
        StructField("parse_ok", BooleanType()),
        StructField("error", StringType()),
        StructField("_partition_id", IntegerType()),
        StructField("_bytes", LongType()),
    ]
)


# <html lang="xx"> declaration, matched on the raw payload so the lang
# column costs no second DOM pass (reference fallback semantics,
# article.py:105-112; langdetect is unavailable here — see kernel/lang.py)
_HTML_LANG_RE = re.compile(r"<html\b[^>]*?[\s\"']lang=[\"']?([A-Za-z]{2,3})(?:-[A-Za-z0-9]+)?[\"'\s>]")


def _row_extract(conv_id, turn_idx, role, tool, ts, html, partition_id):
    """Shared per-row kernel invocation -> output tuple in
    EXTRACTION_SCHEMA field order. The rule registry is imported here,
    on first use in a worker, so a driver or worker that never extracts
    never loads the publisher rules."""
    from ..rules import resolve

    html = html or ""
    spec = resolve(tool)
    title = body_json = plaintext = images_json = error = None
    authors: list = []
    topics: list = []
    publishing_date = None
    publishing_date_ts = None
    free_access = None
    version_name = None
    ok = True
    attr_failures: list = []
    try:
        version_name = spec.version_for(ts).name
        # "suppress" matches the reference's production path
        # (crawler.py default): a failing attribute degrades to its
        # typed default, the row survives with the rest extracted.
        # Failed attribute names land in `error` as lineage.
        extraction = run_extraction(spec, html, ts, error_handling="suppress", failures=attr_failures)
        title = extraction.get("title")
        if (body := extraction.get("body")) is not None:
            body_json = json.dumps(body, ensure_ascii=False, sort_keys=False)
            plaintext = body_to_plaintext(body)
        authors = extraction.get("authors") or []
        topics = extraction.get("topics") or []
        if (dt := extraction.get("publishing_date")) is not None:
            publishing_date = str(dt)
            # the fuzzy date parser yields the article's own offset;
            # pa.array refuses mixed naive/aware lists, so pin to UTC
            publishing_date_ts = dt.astimezone(timezone.utc) if dt.tzinfo else dt.replace(tzinfo=timezone.utc)
        free_access = extraction.get("free_access")
        if (images := extraction.get("images")) is not None:
            images_json = json.dumps(images, ensure_ascii=False)
    except Exception as err:  # noqa: BLE001 — failure degrades to a flagged row
        ok = False
        error = f"{type(err).__name__}: {err}"
    if attr_failures and error is None:
        error = "; ".join(attr_failures)
    lang_match = _HTML_LANG_RE.search(html)
    lang = lang_match.group(1).lower() if lang_match else heuristic_language(plaintext)
    return (
        conv_id,
        turn_idx,
        role,
        tool,
        ts,
        spec.key,
        version_name,
        title,
        body_json,
        plaintext,
        authors,
        publishing_date,
        publishing_date_ts,
        topics,
        free_access,
        images_json,
        lang,
        ok,
        error,
        partition_id,
        len(html.encode("utf-8", errors="ignore")),
    )


def _extract_rows(rows):
    """The extraction stage's row generator: ``(conv_id, turn_idx,
    role, tool, ts, text)`` in, one ``EXTRACTION_SCHEMA`` row out per
    turn, tagged with the task's partition id."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    partition_id = ctx.partitionId() if ctx is not None else -1
    for conv_id, turn_idx, role, tool, ts, text in rows:
        yield _row_extract(conv_id, turn_idx, role, tool, ts, text, partition_id)


def extract_articles(transcripts: DataFrame, salt_partitions: Optional[int] = None) -> DataFrame:
    """transcripts (conv_id, turn_idx, role, text, tool, ts) ->
    extraction DataFrame.

    Skew handling: extraction is per-turn embarrassingly parallel, so
    when ``salt_partitions`` is set we hash-repartition on
    (conv_id, turn_idx) — a perfectly uniform key even when one conv_id
    owns most turns (the north_rule's salted repartition; the turn
    index IS the salt). When the input's own partitioning is already
    uniform (e.g. a bucketed table scan), pass None: the stage is then
    a pure narrow map over the scan — no shuffle at all, which is the
    plan you want at 100 TB.

    With ``salt_partitions=None`` a SMALL under-partitioned input (a
    single-row-group file, or a byte-coalesced upstream shuffle) is
    still lifted to full parallelism by
    :func:`operators.adaptive.adaptive_repartition` — size-gated, so a
    genuinely large scan keeps the zero-shuffle narrow-map plan.
    """
    from ..operators.adaptive import adaptive_repartition, map_rows

    transcripts = transcripts.select("conv_id", "turn_idx", "role", "tool", "ts", "text")
    if salt_partitions:
        transcripts = transcripts.repartition(salt_partitions, F.col("conv_id"), F.col("turn_idx"))
    else:
        transcripts = adaptive_repartition(transcripts, cols=("conv_id", "turn_idx"))
    return map_rows(transcripts, _extract_rows, EXTRACTION_SCHEMA)
