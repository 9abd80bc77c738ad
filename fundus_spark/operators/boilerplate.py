"""Generic boilerplate-strip operator over raw HTML (no publisher
rules): the jusText-style block classifier as a row generator on the
Arrow boundary (:func:`operators.adaptive.map_rows`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

MAIN_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("main_text", StringType()),
        StructField("n_content_blocks", LongType()),
        StructField("n_boilerplate_blocks", LongType()),
    ]
)


def _strip_rows(rows):
    from ..kernel.boilerplate import classify_blocks
    from ..kernel.dom import parse_html

    for doc_id, html in rows:
        blocks = classify_blocks(parse_html(html or ""))
        content = [b["text"] for b in blocks if b["label"] == "content"]
        n_boilerplate = sum(1 for b in blocks if b["label"] == "boilerplate")
        yield doc_id, "\n\n".join(content) if content else None, len(content), n_boilerplate


def boilerplate_strip(docs: DataFrame, html_col: str = "html", id_col: str = "doc_id") -> DataFrame:
    """``docs``: (doc_id long, html string) -> content text + block
    counts. Narrow map — no shuffle (small under-partitioned inputs are
    lifted to full parallelism first, see operators.adaptive)."""
    from .adaptive import adaptive_repartition, map_rows

    base = adaptive_repartition(
        docs.select(F.col(id_col).alias("doc_id"), F.col(html_col).alias("html")),
        cols=("doc_id",),
    )
    return map_rows(base, _strip_rows, MAIN_TEXT_SCHEMA)


def boilerplate_page(doc_id: Column, text: Column) -> Column:
    """Deterministic synthetic page: nav/aside/footer boilerplate around
    the document text — the Spark twin of the oracle's closed form
    (content == whitespace-normalized text)."""
    return F.concat(
        F.lit(
            "<html><body>"
            "<nav><a href='/'>Home</a> <a href='/news'>News</a> <a href='/sport'>Sport</a></nav>"
            "<div class='content'><p>"
        ),
        text,
        F.lit("</p></div>"),
        F.lit("<aside><a href='/related'>Related story one</a><a href='/more'>More coverage here</a></aside>"),
        F.concat(F.lit("<footer>© 2024 Site "), doc_id.cast("string"), F.lit(" <a href='/imprint'>Imprint</a></footer>")),
        F.lit("</body></html>"),
    )
