"""Bloom-filter deduplication (the Dolma "BFF" family, Soldaini et
al. 2024; Bloom 1970) — probabilistic seen-before filtering whose
state is O(bits) regardless of corpus size.

Why it exists next to the exact frozen store (``plans/frozen_store``):
the store keeps one row per frozen fingerprint/band — exact, but its
probe join moves O(batch) rows against an O(corpus)-sized bucketed
relation on disk. A Bloom filter compresses the ENTIRE frozen corpus's
membership into ``n_bits`` (e.g. 2^30 bits = 128 MB for ~10^8 docs at
1% false-positive rate), so at 100 TB the per-append probe is a join
against a fixed-size relation that fits in a broadcast — false
positives are possible (tunable via the standard
``fpp ≈ (1 - e^(-k·n/m))^k``), false NEGATIVES are not, so the filter
is safe as a *pre*-filter: docs it rejects are definitely novel; docs
it flags are confirmed (or not) by an exact join against only the
flagged slice (:func:`bloom_dedup_increment`).

Engine-exact by construction: bit positions derive from two 60-bit
md5 halves via Kirsch-Mitzenmacher double hashing
(``pos_i = (h1 + i·h2) mod n_bits``, Kirsch & Mitzenmacher 2006 — k
independent hashes are unnecessary), all in BIGINT column algebra that
DuckDB replays verbatim, so the driver oracle value-gates the filter
words themselves, not just probe outcomes.

Scale shape:
* build — explode ``n_hashes`` positions per doc (narrow), groupBy
  32-bit word index with ``bit_or`` (map-side combinable): ONE shuffle
  whose post-combine volume is ≤ ``n_bits/32`` rows however large the
  corpus. The filter relation is persistable parquet — mergeable
  across shards/days by another ``bit_or`` (the union of Bloom filters
  over the same parameters is the filter of the union).
* probe — positions exploded per probe doc, joined against the filter
  on ``word_idx`` (broadcast while the filter is under the guard —
  2^30 bits is 33.5M words ≈ 0.5 GB, so big filters fall back to a
  shuffle join), then a per-doc ``min(bit set)``: possibly-seen iff
  every position's bit is set. No O(corpus) term anywhere.

The reference has no incremental-dedup surface (its ``only_unique``
URL set is in-process, ``scraping/crawler.py:447-450``); this is the
cleaning-layer extension of that contract to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .adaptive import broadcast_if_small
from .dedup import normalized_text, text_fingerprint

#: bits per filter word. 32 (not 64) so the per-bit contribution
#: ``1 << bit`` stays strictly positive in a signed BIGINT in BOTH
#: engines — DuckDB's ``<<`` range-checks BIGINT and a 64-bit word's
#: sign bit would throw there, while Spark would wrap silently.
WORD_BITS = 32


def bloom_positions(key: Column, n_bits: int, n_hashes: int) -> Column:
    """Array of ``n_hashes`` bit positions in ``[0, n_bits)`` for a key.

    Kirsch-Mitzenmacher double hashing over the two 60-bit halves of
    one md5: ``pos_i = (h1 + i·h2) mod n_bits``. Both halves are
    reduced mod ``n_bits`` BEFORE the multiply so ``i·h2`` stays far
    from BIGINT overflow (ANSI mode would throw; n_hashes·n_bits ≤
    2^40-ish in any sane configuration). One md5 per key total.
    """
    if n_bits < 2 or n_hashes < 1:
        raise ValueError(f"need n_bits >= 2 and n_hashes >= 1, got {n_bits}/{n_hashes}")
    if n_hashes * n_bits >= 2**62:
        raise ValueError(f"n_hashes * n_bits = {n_hashes * n_bits} risks BIGINT overflow")
    h = F.md5(key)
    h1 = F.pmod(F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"), F.lit(n_bits))
    h2 = F.pmod(F.conv(F.substring(h, 16, 15), 16, 10).cast("bigint"), F.lit(n_bits))
    # bind h1/h2 via a one-element array so Catalyst can't inline the
    # md5 into every transform element (the word_shingles lesson)
    return F.transform(
        F.array(F.struct(h1.alias("h1"), h2.alias("h2"))),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda i: F.pmod(s["h1"] + i.cast("bigint") * s["h2"], F.lit(n_bits)),
        ),
    )[0]


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Build the filter relation ``(word_idx: long, word: long)`` from a
    corpus — only word indices with ≥ 1 set bit are present (sparse).

    ``word`` holds 32 filter bits (see :data:`WORD_BITS`); the whole
    filter is ≤ ``n_bits/32`` rows. Map-side ``bit_or`` combine means
    the shuffle after the explode carries at most
    ``partitions × n_bits/32`` rows regardless of corpus size.

    NULL policy (round-8): NULL-text docs have no content key and
    contribute no bits (they previously leaked one junk
    ``(NULL, NULL)`` word row into the filter relation).
    """
    key = normalized_text(text_col)
    pos = df.where(key.isNotNull()).select(
        F.explode(bloom_positions(key, n_bits, n_hashes)).alias("pos")
    )
    return (
        pos.select(
            # integer DIV, not float /: a double round-trip misplaces
            # word_idx once positions exceed 2^53 (the n_bits guard
            # allows ~2^59), and the DuckDB oracle's `pos // 32` is
            # exact integer math
            F.expr(f"pos DIV {WORD_BITS}").alias("word_idx"),
            # shiftleft's bit-count arg must be a column here, so expr()
            # (the python F.shiftleft only accepts an int literal)
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {WORD_BITS} AS INT))").alias("w"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("w").alias("word"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Union of Bloom filters built with the SAME (n_bits, n_hashes):
    one more ``bit_or`` groupBy. This is what makes the filter a
    per-shard/per-day mergeable artifact at 100 TB — each ingest slice
    builds its own filter locally and the daily merge is O(n_bits)."""
    if not filters:
        raise ValueError("bloom_merge needs at least one filter")
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def bloom_probe(
    batch: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    broadcast_max_rows: int = 10_000_000,
) -> DataFrame:
    """Probe a batch against a built filter.

    Output: ``(doc_id, possibly_seen)`` — ``possibly_seen = true`` iff
    ALL ``n_hashes`` bits are set. False negatives are impossible (a
    doc whose key went into the build always probes true); a true
    result is "possibly": confirm with an exact join when it matters
    (:func:`bloom_dedup_increment`).

    The filter is broadcast while under ``broadcast_max_rows`` (10M
    words = 2^25 bits comfortably; a 2^34-bit production filter falls
    back to a shuffle join on ``word_idx`` — same result). The count
    guard is one action over the (small, usually cached) filter.

    NULL policy (round-8, closing the round-7 verdict corner): a doc
    whose ``text_col`` is NULL has no content key — it cannot be in
    any filter (:func:`bloom_build` hashes nothing for it), so it
    probes ``possibly_seen = false`` EXPLICITLY rather than silently
    vanishing from the output (the old explode dropped its row).
    """
    key = normalized_text(text_col)
    pos = batch.where(key.isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.explode(bloom_positions(key, n_bits, n_hashes)).alias("pos"),
    ).select(
        "doc_id",
        # integer DIV — see bloom_build
        F.expr(f"pos DIV {WORD_BITS}").alias("word_idx"),
        (F.col("pos") % WORD_BITS).cast("int").alias("bit"),
    )
    # the (bounded, <= n_bits/32-row) filter is built once for the guard
    # count and the join; a stored filter (the production artifact, or
    # one shared across probe calls) is read as-is, never copied
    bloom_side = broadcast_if_small(bloom, broadcast_max_rows)
    hit = pos.join(bloom_side, "word_idx", "left").select(
        "doc_id",
        F.when(
            F.expr("shiftright(coalesce(word, CAST(0 AS BIGINT)), bit)").bitwiseAND(1) == 1,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("bit_set"),
    )
    probed = hit.groupBy("doc_id").agg(
        (F.min("bit_set") == 1).alias("possibly_seen"),
    )
    null_keyed = batch.where(key.isNull()).select(
        F.col(id_col).alias("doc_id"), F.lit(False).alias("possibly_seen")
    )
    return probed.unionByName(null_keyed)


def bloom_dedup_increment(
    frozen: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    bloom: DataFrame | None = None,
    broadcast_max_rows: int = 10_000_000,
    probed: DataFrame | None = None,
) -> DataFrame:
    """Exact novel-document selection with a Bloom pre-filter: the
    batch docs the filter clears are novel with NO exact work; only the
    flagged slice (true dups + false positives, ~fpp of the batch) is
    confirmed against the frozen corpus's exact fingerprints.

    Result is EXACTLY ``batch anti-join frozen`` on the normalized
    content fingerprint (pinned by test) — the filter only re-routes
    work: at 100 TB the exact join's probe side shrinks from the whole
    batch to the flagged sliver, and the frozen side is only scanned
    for fingerprints that can possibly match (a semi-join-friendly
    shape for a bucketed store).

    NULL policy (round-8): a NULL-text batch doc has a NULL
    fingerprint, which a plain anti-join can never match — it survives
    there, so it survives here too (it probes ``possibly_seen=false``
    and lands in the clear set). The ``≡ anti-join`` contract now
    holds for NULL text as well, where previously such docs vanished
    from the output entirely.

    Pass a pre-built ``bloom`` (the persisted artifact) to skip the
    build — the production path; building here is the convenience path.
    Pass ``probed`` (a :func:`bloom_probe` result over the SAME batch
    and filter) to reuse an existing probe instead of re-running the
    position-explode pipeline — the shape for callers that want both
    the probe bits and the exact novel set.
    """
    if bloom is None:
        bloom = bloom_build(frozen, text_col, n_bits, n_hashes)
    if probed is None:
        probed = bloom_probe(
            batch, bloom, text_col, id_col, n_bits, n_hashes, broadcast_max_rows
        )
    else:
        probed = probed.select("doc_id", "possibly_seen")
    batch_fp = batch.select(
        F.col(id_col).alias("doc_id"), text_fingerprint(text_col).alias("fp")
    ).join(probed, "doc_id")
    clear = batch_fp.where(~F.col("possibly_seen")).select("doc_id")
    flagged = batch_fp.where(F.col("possibly_seen"))
    frozen_fp = frozen.select(text_fingerprint(text_col).alias("fp")).distinct()
    confirmed_novel = flagged.join(frozen_fp, "fp", "left_anti").select("doc_id")
    return clear.unionByName(confirmed_novel)
