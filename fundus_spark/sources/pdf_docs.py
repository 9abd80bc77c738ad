"""documents -> synthetic PDF payloads bridge (deterministic).

Each document's whitespace-normalized text becomes a one-line,
Flate-compressed PDF. The extraction oracle is then closed-form:
``pdf_text == trim(regexp_replace(text, '\\s+', ' ', 'g'))``.
Multi-line / multi-page shapes are covered by kernel unit tests.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from pyspark.sql.types import BinaryType, LongType, StructField, StructType

_PDF_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

_WS = re.compile(r"\s+")


def _pdf_rows(rows):
    from .pdf_gen import build_pdf

    for doc_id, text in rows:
        yield doc_id, build_pdf([[_WS.sub(" ", text or "").strip()]])


def documents_as_pdfs(documents: DataFrame) -> DataFrame:
    from ..operators.adaptive import adaptive_repartition, map_rows

    base = adaptive_repartition(documents.select("doc_id", "text"), cols=("doc_id",))
    return map_rows(base, _pdf_rows, _PDF_DOCS_SCHEMA)
