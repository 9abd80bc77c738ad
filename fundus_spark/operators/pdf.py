"""PDF text extraction over a binary column (Spark operator).

Same execution shape as the HTML stage: a row generator on the Arrow
boundary (:func:`operators.adaptive.map_rows`), pure-Python kernel per
row, no per-row Python dispatch from the driver. At 100 TB the input
is a table of ``(doc_id, payload binary)`` rows (e.g. Iceberg with a
blob column or parquet pointers); the stage is a narrow map — no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

PDF_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pdf_text", StringType()),
        StructField("n_pdf_bytes", LongType()),
    ]
)


def _pdf_rows(rows):
    from ..kernel.pdf import extract_pdf_text

    for doc_id, payload in rows:
        payload = payload or b""
        yield doc_id, extract_pdf_text(payload), len(payload)


def pdf_extract_text(pdfs: DataFrame) -> DataFrame:
    """``pdfs``: DataFrame with (doc_id long, payload binary)."""
    from .adaptive import map_rows

    return map_rows(pdfs.select("doc_id", "payload"), _pdf_rows, PDF_TEXT_SCHEMA)
