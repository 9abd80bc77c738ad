"""Robots gate over stored tables — the batch analogue of the
reference's per-fetch robots check (``scraping/html.py:163-167``:
skip a URL when ``robots.can_fetch(user_agent, url)`` is false; the
crawl-delay consultation at ``html.py:133-140`` maps to the
``crawl_delay`` output column).

Scale shape: the robots side is one row per source/domain — a tiny
dimension — so it BROADCASTS onto the URL frontier (no shuffle of the
big side); evaluation is a row generator on the Arrow boundary
(:func:`operators.adaptive.map_rows`) with the parsed matcher cached
per distinct robots payload within each task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ROBOTS_GATE_SCHEMA = StructType(
    [
        StructField("url_id", LongType()),
        StructField("source", StringType()),
        StructField("url", StringType()),
        StructField("allowed", BooleanType()),
        StructField("crawl_delay", DoubleType()),
    ]
)


def _gate_rows(user_agent: str):
    def fn(rows):
        from ..kernel.robots import RobotsMatcher

        cache: dict = {}
        for url_id, source, url, robots_txt in rows:
            text = robots_txt or ""
            matcher = cache.get(text)
            if matcher is None:
                matcher = cache[text] = RobotsMatcher(text)
            delay = matcher.crawl_delay(user_agent)
            yield url_id, source, url, matcher.can_fetch(user_agent, url), None if delay is None else float(delay)

    return fn


def robots_gate(
    urls: DataFrame,
    robots: DataFrame,
    user_agent: str = "FundusBot",
) -> DataFrame:
    """``urls (url_id, source, url)`` x ``robots (source, robots_txt)``
    -> per-URL ``allowed`` + ``crawl_delay`` under RFC 9309 semantics
    (kernel/robots.py). The robots dimension broadcasts."""
    from .adaptive import adaptive_repartition, map_rows

    joined = adaptive_repartition(urls, cols=("url_id",)).join(
        F.broadcast(robots), "source", "left"
    )
    return map_rows(
        joined.select("url_id", "source", "url", "robots_txt"), _gate_rows(user_agent), ROBOTS_GATE_SCHEMA
    )
