"""Live URL fetching as a Spark stage — the reference's WebSource
(``scraping/html.py:109-254``: robots check -> crawl-delay clock ->
GET -> HTML record) re-expressed over a URL-frontier DataFrame.

Semantics mirrored per row: the robots gate uses the same RFC 9309
matcher as the batch operator (``kernel/robots.py``); the delay clock
sleeps ``max(robots crawl-delay, default_delay)`` between consecutive
requests TO THE SAME SOURCE; a failed request degrades to a row with
``error`` set (never a lost record). stdlib ``urllib`` only — no
requests/chardet here; charset comes from the Content-Type header with
a utf-8/replace fallback.

Scale shape: the frontier is repartitioned BY SOURCE so each
partition's sequential fetch loop enforces that source's politeness
window, while distinct sources fetch in parallel across partitions —
the same per-publisher-thread model the reference uses, with Spark
tasks as the threads. In this sandbox there is no external network;
the unit test drives the operator against a local ``http.server``.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FETCH_SCHEMA = StructType(
    [
        StructField("url_id", LongType()),
        StructField("source", StringType()),
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("html", StringType()),
        StructField("skipped_by_robots", StringType()),  # null | 'disallowed'
        StructField("error", StringType()),
    ]
)


def _fetch_rows(user_agent: str, default_delay: float, timeout: float):
    def fn(rows):
        import re
        import urllib.request

        from ..kernel.robots import RobotsMatcher

        matchers: dict = {}
        last_fetch: dict = {}  # source -> monotonic timestamp
        charset_re = re.compile(r"charset=([A-Za-z0-9_\-]+)", re.I)

        for url_id, source, url, robots_txt in rows:
            robots_txt = robots_txt or ""
            matcher = matchers.get(robots_txt)
            if matcher is None:
                matcher = matchers[robots_txt] = RobotsMatcher(robots_txt)
            status = html = skipped = error = None
            if not matcher.can_fetch(user_agent, url):
                skipped = "disallowed"  # html.py:163-167 semantics
            else:
                delay = max(matcher.crawl_delay(user_agent) or 0.0, default_delay)
                waited = time.monotonic() - last_fetch.get(source, -1e9)
                if waited < delay:
                    time.sleep(delay - waited)
                last_fetch[source] = time.monotonic()
                try:
                    req = urllib.request.Request(url, headers={"User-Agent": user_agent})
                    with urllib.request.urlopen(req, timeout=timeout) as resp:
                        status = resp.status
                        body = resp.read()
                        ctype = resp.headers.get("Content-Type", "")
                        m = charset_re.search(ctype)
                        try:
                            html = body.decode(m.group(1) if m else "utf-8")
                        except (UnicodeDecodeError, LookupError):
                            html = body.decode("utf-8", errors="replace")
                except Exception as err:  # noqa: BLE001 — degrade, never lose the row
                    error = f"{type(err).__name__}: {err}"
            yield url_id, source, url, status, html, skipped, error

    return fn


def web_fetch(
    urls: DataFrame,
    robots: Optional[DataFrame] = None,
    user_agent: str = "FundusBot",
    default_delay: float = 0.0,
    timeout: float = 30.0,
    partitions: Optional[int] = None,
) -> DataFrame:
    """``urls (url_id, source, url)`` [x ``robots (source, robots_txt)``]
    -> fetched HTML records. Repartitions by source so the per-source
    politeness window holds within each sequential partition loop."""
    if robots is not None:
        urls = urls.join(F.broadcast(robots), "source", "left")
    else:
        urls = urls.withColumn("robots_txt", F.lit(None).cast("string"))
    from ..operators.adaptive import map_rows

    frontier = urls.select("url_id", "source", "url", "robots_txt").repartition(
        partitions or urls.sparkSession.sparkContext.defaultParallelism, "source"
    )
    return map_rows(frontier, _fetch_rows(user_agent, default_delay, timeout), FETCH_SCHEMA)
