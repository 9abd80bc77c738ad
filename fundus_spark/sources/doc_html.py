"""Deterministic documents->transcripts bridge.

Wraps each row of the driver-provided ``documents`` table into a
synthetic HTML article whose generic extraction is fully predictable —
so the end-to-end extraction pipeline has an exact ANSI-SQL oracle
(title/authors/date/topics/plaintext are all closed-form in doc_id and
text). The column builders below and the oracles' inlined SQL twins in
``__spark_entry__.py`` MUST stay in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- closed-form attribute expressions ---


def title_col(doc_id: Column) -> Column:
    return F.concat(F.lit("Document "), doc_id.cast("string"))


def author_col(doc_id: Column) -> Column:
    return F.concat(F.lit("Author "), (doc_id % 5).cast("string"))


def pubdate_iso_col(doc_id: Column) -> Column:
    d = F.date_add(F.lit("2024-01-01").cast("date"), (doc_id % 365).cast("int"))
    return F.concat(F.date_format(d, "yyyy-MM-dd"), F.lit("T00:00:00+00:00"))


def keywords_col(doc_id: Column) -> Column:
    return F.concat(F.lit("k"), (doc_id % 7).cast("string"), F.lit(", shared"))


def doc_to_html(doc_id: Column, text: Column) -> Column:
    """The synthetic article template (single summary-less paragraph)."""
    ld = F.concat(
        F.lit('{"@context":"http://schema.org","@type":"NewsArticle","headline":"'),
        title_col(doc_id),
        F.lit('","author":[{"@type":"Person","name":"'),
        author_col(doc_id),
        F.lit('"}],"datePublished":"'),
        pubdate_iso_col(doc_id),
        F.lit('"}'),
    )
    return F.concat(
        F.lit("<!DOCTYPE html><html lang='en'><head><meta charset='utf-8'><title>"),
        title_col(doc_id),
        F.lit("</title><meta name='keywords' content='"),
        keywords_col(doc_id),
        F.lit("'><script type='application/ld+json'>"),
        ld,
        F.lit("</script></head><body><main><article><p>"),
        text,
        F.lit("</p></article></main></body></html>"),
    )


def documents_as_transcripts(documents: DataFrame) -> DataFrame:
    """documents -> transcripts shape: conv_id = source, turn ordering
    by doc_id within source, tool = 'generic'."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    return documents.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        doc_to_html(F.col("doc_id"), F.col("text")).alias("text"),
        F.lit("generic").alias("tool"),
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("doc_id"),
    )


def py_doc_to_html(doc_id: int, text: str) -> str:
    """Python twin of :func:`doc_to_html` (MUST stay in lockstep with
    the Column template above) for builders that assemble payloads
    inside pandas stages (e.g. sources/warc_gen.py)."""
    from datetime import date, timedelta

    title = f"Document {doc_id}"
    author = f"Author {doc_id % 5}"
    day = (date(2024, 1, 1) + timedelta(days=doc_id % 365)).isoformat()
    ld = (
        '{"@context":"http://schema.org","@type":"NewsArticle","headline":"'
        + title
        + '","author":[{"@type":"Person","name":"'
        + author
        + '"}],"datePublished":"'
        + day
        + 'T00:00:00+00:00"}'
    )
    return (
        "<!DOCTYPE html><html lang='en'><head><meta charset='utf-8'><title>"
        + title
        + "</title><meta name='keywords' content='k"
        + str(doc_id % 7)
        + ", shared'><script type='application/ld+json'>"
        + ld
        + "</script></head><body><main><article><p>"
        + text
        + "</p></article></main></body></html>"
    )
