"""URL listing sources — the batch analogue of the reference's
RSS/Sitemap/NewsMap fetchers (``src/fundus/scraping/url.py:155-251``),
minus the network: payloads come in as bytes (a crawler dump, an
Iceberg table of fetched sitemap bodies, local files), and the listing
semantics — gzip/bz2/lzma auto-decompression by magic bytes, namespace
-agnostic ``<url>/<loc>`` vs ``<sitemap>/<loc>`` selection, recursion
over sitemap indexes, ``reverse``/``sort_predicate``/``sitemap_filter``
— are reproduced exactly.

Scale shape: listing is metadata-sized next to the corpus, so the
recursive walk runs driver-side over a resolver callback; the result
lands in a DataFrame for the usual URL-filter/dedup pipeline
(``operators.relational``). On a cluster you'd point ``resolver`` at a
payload table lookup, not the network.
"""

from __future__ import annotations

import bz2
import gzip
import lzma
import xml.etree.ElementTree as ET
from typing import Callable, Iterator, List, Optional, Pattern
from urllib.parse import unquote, urlparse

__all__ = [
    "decompress_auto",
    "parse_rss_links",
    "parse_sitemap",
    "iter_sitemap_urls",
    "listing_dataframe",
]

# (magic bytes, decompressor) — reference CompressionFormats, url.py:57-62
_MAGIC = [
    (b"\x1f\x8b", gzip.decompress),
    (b"\x42\x5a", bz2.decompress),
    (b"\x28\xb5\x2f\xfd", lzma.decompress),
]


def decompress_auto(content: bytes) -> bytes:
    """Reference ``_decompress_octet_stream``: sniff magic bytes, pass
    through when no known compression matches."""
    for mask, fn in _MAGIC:
        if content.startswith(mask):
            return fn(content)
    return content


def is_valid_url(url: str) -> bool:
    parsed = urlparse(url)
    return bool(parsed.scheme in ("http", "https") and parsed.netloc)


def clean_url(url: str) -> str:
    return unquote(url)


def _local_name(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_sitemap(content: bytes) -> tuple:
    """-> (page_urls, nested_sitemap_locs) using the reference's
    namespace-agnostic selectors (``//*[local-name()='url']/*[local-name()='loc']``)."""
    content = decompress_auto(content.strip())
    if not content:
        return [], []
    try:
        tree = ET.fromstring(content)
    except ET.ParseError:
        return [], []
    urls: List[str] = []
    sitemaps: List[str] = []
    for node in tree.iter():
        name = _local_name(node.tag)
        if name in ("url", "sitemap"):
            for child in node:
                if _local_name(child.tag) == "loc" and child.text:
                    (urls if name == "url" else sitemaps).append(child.text.strip())
    return urls, sitemaps


def parse_rss_links(content: bytes) -> List[str]:
    """Entry links of an RSS/Atom feed (reference RSSFeed.fetch yields
    ``entry.link`` per item)."""
    content = decompress_auto(content.strip())
    try:
        tree = ET.fromstring(content)
    except ET.ParseError:
        return []
    links: List[str] = []
    for node in tree.iter():
        if _local_name(node.tag) in ("item", "entry"):
            for child in node:
                if _local_name(child.tag) == "link":
                    href = (child.text or "").strip() or child.get("href", "").strip()
                    if href:
                        links.append(clean_url(href))
    return links


def iter_sitemap_urls(
    start_url: str,
    resolver: Callable[[str], Optional[bytes]],
    recursive: bool = True,
    reverse: bool = False,
    sitemap_filter: Callable[[str], bool] = lambda url: not bool(url),
    sort_predicate: Optional[Pattern[str]] = None,
) -> Iterator[str]:
    """Reference ``Sitemap.fetch`` (url.py:179-246) with the network
    swapped for ``resolver(url) -> payload bytes | None``. A sitemap
    with ``<url>`` entries yields them; an index recurses into child
    sitemaps after ``sort_predicate`` ordering (descending) and
    ``sitemap_filter`` (True = drop)."""

    def yield_recursive(sitemap_url: str) -> Iterator[str]:
        if not is_valid_url(sitemap_url):
            return
        content = resolver(sitemap_url)
        if not content:
            return
        urls, sitemap_locs = parse_sitemap(content)
        if urls:
            for new_url in reversed(urls) if reverse else urls:
                yield clean_url(new_url)
        elif recursive:
            if sort_predicate is not None:

                def extract(text: str) -> str:
                    if match := sort_predicate.search(text):
                        return match.group()
                    raise NotImplementedError("<sort_predicate> must match in all sitemap URLs")

                sitemap_locs = sorted(sitemap_locs, key=extract, reverse=True)
            filtered = [loc for loc in sitemap_locs if not sitemap_filter(loc)]
            for loc in reversed(filtered) if reverse else filtered:
                yield from yield_recursive(loc)

    yield from yield_recursive(start_url)


def listing_dataframe(spark, urls: Iterator[str], publisher: str):
    """Materialize a listing as the URL frontier DataFrame the
    relational pipeline (regex_filter / first_wins_dedup) consumes."""
    from pyspark.sql import functions as F

    from ..operators.adaptive import local_rows

    rows = [(publisher, u, i) for i, u in enumerate(urls)]
    df = local_rows(spark, rows, "publisher string, url string, list_rank long")
    return df.withColumn("url_norm", F.regexp_replace("url", r"\?.*$", ""))
