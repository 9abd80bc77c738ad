"""URL canonicalization + canonical-URL dedup — the normalization pass
web-scale pipelines run before URL-keyed dedup (RFC 3986 §6 syntax
normalization plus the tracking-parameter strip every CommonCrawl-scale
curation stack applies; cf. RefinedWeb's URL dedup, Penedo et al. 2023).

The reference dedups raw URLs exactly as strings (its crawler's
``only_unique`` in-process set, ``src/fundus/scraping/crawler.py:447-450``
and the ``URLFilter`` surface, ``scraping/filter.py``); at corpus scale
the same article arrives as ``http://www.ex.com/a?utm_source=feed``,
``https://ex.com/a/`` and ``https://EX.com:443/a#frag`` — raw-string
dedup misses all three. This operator folds the equivalence class to
one canonical key; dedup/join machinery downstream is unchanged.

Normalization steps (each a documented, reversible-decision rule):
1. trim; non-``scheme://`` inputs pass through UNTOUCHED (honest: we
   never guess at relative refs or mailto:).
2. scheme and host lowercased (RFC 3986 §6.2.2.1); path/query case
   preserved (significant per §6.2.3).
3. fragment stripped (§3.5 — never sent to the server).
4. userinfo stripped (credential hygiene: never a dedup key).
5. default port stripped (``:80`` http / ``:443`` https, §6.2.3).
6. leading ``www.`` stripped (optional, default on — the standard
   crawl-pipeline host fold).
7. trailing slashes collapsed off the path; empty path -> ``/``.
8. query: tracking params dropped (``utm_*`` and friends, see
   :data:`TRACKING_PARAMS`), empties dropped, survivors SORTED (param
   order is almost never significant; sorting makes the key stable),
   empty query removed.

Everything is JVM column algebra — regexp/split/filter/array_sort/
array_join over one row, zero shuffles, no UDF — and every step is
replayed verbatim by the driver's DuckDB oracle (``url_dedup`` extra).

Scale shape: normalization is a narrow projection (free at 100 TB);
:func:`url_dedup` is ONE map-side-combinable ``min(struct)`` agg on
the canonical key — the same first-wins shape as ``exact_dedup``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .adaptive import broadcast_if_small

#: query parameters that never identify content — analytics/campaign
#: tags (Google Analytics utm_*, click ids from FB/Google/MS, Mailchimp
#: mc_*, Instagram igshid, and bare referrer tags). Matched against the
#: full param name (the part before ``=``).
TRACKING_PARAMS: tuple[str, ...] = (
    "utm_[A-Za-z0-9_]*",
    "fbclid",
    "gclid",
    "msclkid",
    "mc_cid",
    "mc_eid",
    "igshid",
    "ref",
    "ref_src",
)


def _tracking_regex(drop_params: Sequence[str]) -> str:
    """Anchored alternation matching a ``name=value`` (or bare ``name``)
    query param whose name is a tracking tag."""
    return r"^(?:" + "|".join(drop_params) + r")(?:=|$)"


def normalize_url_col(
    url: Column,
    *,
    strip_www: bool = True,
    drop_params: Sequence[str] = TRACKING_PARAMS,
) -> Column:
    """Canonical form of ``url`` as a Column (see module docstring for
    the rule list). Inputs without a ``scheme://`` prefix are returned
    trimmed but otherwise untouched."""
    s = F.trim(url)
    scheme = F.lower(F.regexp_extract(s, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    # everything after ``scheme://``, fragment gone first (rule 3)
    rest = F.regexp_replace(
        F.regexp_replace(s, r"#.*", ""), r"^[A-Za-z][A-Za-z0-9+.\-]*://", ""
    )
    authority = F.regexp_extract(rest, r"^([^/?]*)", 1)
    path_q = F.regexp_replace(rest, r"^[^/?]*", "")
    # rules 2/4: lowercase host:port, userinfo dropped
    hostport = F.lower(F.regexp_extract(authority, r"([^@]*)$", 1))
    # rule 5: default ports
    hostport = F.when(
        (scheme == "http"), F.regexp_replace(hostport, r":80$", "")
    ).otherwise(
        F.when(
            (scheme == "https"), F.regexp_replace(hostport, r":443$", "")
        ).otherwise(hostport)
    )
    if strip_www:
        hostport = F.regexp_replace(hostport, r"^www\.", "")
    # rule 7: path with trailing slashes collapsed, '' -> '/'
    path = F.regexp_replace(F.regexp_replace(path_q, r"\?.*", ""), r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # rule 8: query params filtered + sorted
    query = F.regexp_extract(path_q, r"\?(.*)$", 1)
    pat = _tracking_regex(drop_params)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(pat),
        )
    )
    joined = F.array_join(params, "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        hostport,
        path,
        F.when(joined == "", F.lit("")).otherwise(F.concat(F.lit("?"), joined)),
    )
    return F.when(scheme == "", s).otherwise(canonical)


def normalize_urls(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "canonical_url",
    *,
    strip_www: bool = True,
    drop_params: Sequence[str] = TRACKING_PARAMS,
) -> DataFrame:
    """``df`` plus a canonical-URL column — a narrow zero-shuffle
    projection whatever the corpus size."""
    return df.withColumn(
        out_col,
        normalize_url_col(
            F.col(url_col), strip_www=strip_www, drop_params=drop_params
        ),
    )


def host_col(url: Column) -> Column:
    """Lowercased host of ``url`` (userinfo and port stripped, ``www.``
    kept — blocklists decide their own folding). Non-``scheme://``
    inputs yield the empty string."""
    s = F.trim(url)
    scheme = F.regexp_extract(s, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    rest = F.regexp_replace(
        F.regexp_replace(s, r"#.*", ""), r"^[A-Za-z][A-Za-z0-9+.\-]*://", ""
    )
    authority = F.regexp_extract(rest, r"^([^/?]*)", 1)
    host = F.lower(
        F.regexp_replace(F.regexp_extract(authority, r"([^@]*)$", 1), r":\d+$", "")
    )
    # fold the FQDN root dot ("ex.com." ≡ "ex.com") so suffix matching
    # never sees a phantom empty label
    host = F.regexp_replace(host, r"\.+$", "")
    return F.when(scheme == "", F.lit("")).otherwise(host)


def host_suffixes_col(host: Column) -> Column:
    """All dot-suffixes of ``host``, longest first:
    ``a.b.com -> [a.b.com, b.com, com]``. Blocklist entries match any
    suffix, so blocking ``bad.com`` also blocks ``x.bad.com`` — the
    UT1/RefinedWeb domain-match semantics."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
        ),
        lambda s: s != "",
    )


def host_filter(
    df: DataFrame,
    blocklist,
    url_col: str = "url",
    *,
    mode: str = "block",
    out_col: str = "matched_domain",
    broadcast_max_rows: int = 10_000_000,
) -> DataFrame:
    """UT1-style domain blocklist filter — the first stage of web-scale
    curation pipelines (RefinedWeb, Penedo et al. 2023 §3.1, filters
    CommonCrawl against the UT1 adult/malware domain lists before any
    content work; the reference's closest surface is its raw-string
    ``URLFilter``, ``src/fundus/scraping/filter.py``, which cannot
    express "this domain and every subdomain").

    A URL is matched when ANY dot-suffix of its host equals a blocklist
    entry (``bad.com`` blocks ``x.bad.com`` but NOT ``notbad.com`` —
    label-boundary, never substring). ``out_col`` carries the LONGEST
    (most specific) matching entry, NULL when clean.

    ``mode``: ``"block"`` keeps clean rows only, ``"allow"`` keeps
    matched rows only (allowlist crawls), ``"annotate"`` keeps all rows
    with the evidence column — compose downstream.

    Scale shape, two regimes:

    * ``blocklist`` as a Python sequence (small curated lists): the
      match is a literal ``filter(suffixes, s -> s IN (...))`` array
      projection — ZERO shuffle, no join, whatever the corpus size.
      Matching avoids regex alternation entirely (no engine-semantics
      risk; the DuckDB oracle replays list algebra exactly).
    * ``blocklist`` as a single-column DataFrame (UT1 is ~3M domains):
      match DISTINCT hosts (≪ corpus rows), not corpus rows — explode
      each distinct host's ≤ label-count suffixes, equi-join on the
      suffix (broadcast under ``broadcast_max_rows``, shuffle join
      above), fold with one map-side-combinable ``max(struct)`` agg
      picking the longest match, and join the host→match relation
      back (AQE picks broadcast vs shuffle by its measured size).
      Never a cartesian, never a regex of 3M alternates, and row
      multiplicity of ``df`` is untouched.
    """
    if mode not in ("block", "allow", "annotate"):
        raise ValueError(f"mode must be block|allow|annotate, got {mode!r}")
    host = host_col(F.col(url_col))
    if isinstance(blocklist, DataFrame):
        dom_col = blocklist.columns[0]
        # normalize entries the way hosts are normalized: lowercase and
        # fold edge dots (UT1-style lists often carry ".domain.tld")
        domains = blocklist.select(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col(dom_col)), r"\.+$", ""), r"^\.+", ""
            ).alias("_blk_domain")
        ).distinct()
        # the guard count and the join share one materialization
        side = broadcast_if_small(domains, broadcast_max_rows)
        hosts = df.select(host.alias("_blk_host")).distinct()
        matches = (
            hosts.withColumn(
                "_blk_suffix", F.explode(host_suffixes_col(F.col("_blk_host")))
            )
            .join(side, F.col("_blk_suffix") == F.col("_blk_domain"))
            .groupBy("_blk_host")
            .agg(
                F.max(
                    F.struct(
                        F.length("_blk_domain").alias("l"),
                        F.col("_blk_domain").alias("d"),
                    )
                ).alias("_blk_best")
            )
            .select("_blk_host", F.col("_blk_best.d").alias(out_col))
        )
        annotated = (
            df.withColumn("_blk_host", host)
            .join(matches, "_blk_host", "left")
            .drop("_blk_host")
        )
    else:
        entries = sorted({str(d).lower().strip(".") for d in blocklist})
        suffixes = host_suffixes_col(host)
        matched = (
            F.filter(suffixes, lambda s: s.isin(*entries))
            if entries
            else F.array().cast("array<string>")
        )
        # suffixes are generated longest-first, so element 0 of the
        # filtered array IS the most specific match; F.get is NULL-safe
        # on the empty array under ANSI mode (element_at is not)
        annotated = df.withColumn(out_col, F.get(matched, 0))
    if mode == "annotate":
        return annotated
    if mode == "allow":
        return annotated.where(F.col(out_col).isNotNull())
    return annotated.where(F.col(out_col).isNull())


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    *,
    strip_www: bool = True,
    drop_params: Sequence[str] = TRACKING_PARAMS,
) -> DataFrame:
    """First-wins dedup on the CANONICAL url: one row per equivalence
    class ``(canonical_url, kept_id, n_variants)`` with the smallest id
    kept — deterministic, and the same ONE map-side-combinable
    ``min``/``count`` agg shape as ``exact_dedup`` (no window over a
    possibly-hot raw-URL key)."""
    normed = normalize_urls(
        df, url_col, "canonical_url", strip_www=strip_www, drop_params=drop_params
    )
    return normed.groupBy("canonical_url").agg(
        F.min(F.col(id_col)).alias("kept_id"),
        F.count(F.lit(1)).alias("n_variants"),
    )
