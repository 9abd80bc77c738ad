"""Bucketed, part-keyed on-disk store for the frozen-corpus dedup state.

The append-only curation contract (``plans/curate.py:curate_increment``,
``operators/dedup.py:incremental_assign``) probes two frozen-side
relations on EVERY append: the exact-dedup fingerprints ``(fp, part)``,
anti-joined on ``fp``, and the LSH band relation ``(doc_id, band, key,
part)``, equi-joined on ``(band, key)``. At the 100 TB shape these are
billions of rows while a daily batch is tiny; once a batch is too large
to broadcast (a bulk backfill, a re-crawl merge) the joins degrade to
sort-merge and BOTH sides shuffle — the whole frozen state moves once
per append. Storing both relations as tables bucketed on their join
keys removes that cost class: the probe reads the frozen buckets in
place (zero frozen-side Exchange, ``SelectedBucketsCount`` in the scan)
and only the new batch shuffles, O(batch) instead of O(corpus). This is
Spark's equivalent of the reference crawler's persistent URL-dedup
state (``crawler.py:447-450``), in the layout the probe join wants.

There is one store format: append-only tables whose rows are keyed by
the corpus part (per-batch directory / flat file) they derive from, plus
a manifest listing the absorbed parts. A whole-corpus freeze
(:func:`write_frozen_state`) is the store with one part, ``frozen``;
continuous curation appends a part per committed batch
(:func:`append_frozen_parts`) and probes only rows whose part is in the
corpus listing (:func:`stream_frozen_relations`), so

* a re-delivered trigger excludes its own part and its re-append writes
  byte-identical rows, harmless to the duplicate-insensitive probes;
* a crash between the corpus commit and the store append leaves a part
  with no store rows: the next trigger computes its relations on the
  fly and re-appends them (self-healing, no correctness window);
* stale rows of a part whose corpus directory was deleted drop out at
  the presence filter.

Bucketing is catalog metadata, not file layout alone, and the catalog is
per-session: the manifest records each table's DDL (the schema of the
first append) and every session re-registers the bucketed tables over
the parquet buckets on disk before reading or appending.

The manifest is ``{store_path}/_STREAM_PARTS.json``, next to the
``stream_fps``/``stream_bands`` directories, at any URI Spark can write
(``hdfs://``, ``s3a://``, ``file://`` or a plain path). It is the commit
point of every freeze, append and compaction, written by
:func:`plans.lake.write_text`: a temp sibling renamed over the old file,
so a reader sees the old part list or the new one, never a torn file,
and table rows written before a crashed commit belong to no listed part.
"""

from __future__ import annotations

import hashlib
import json
from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import band_relation, exact_dedup
from . import lake

_STREAM_PARTS = "_STREAM_PARTS.json"


def _ddl(df: DataFrame) -> str:
    # StructType.toDDL is JVM-side only in some pyspark lines; both
    # store tables are flat simple types, so simpleString is valid DDL
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)


def store_lsh(opts: dict) -> dict:
    """The LSH keywords of this module's functions from the curation
    chain's resolved options (:func:`plans.curate.chain_options`), so a
    store is built and probed with the chain's own banding."""
    keys = {"n_perm": "lsh_perm", "bands": "lsh_bands", "k": "shingle_k", "hash_mode": "hash_mode"}
    return {kw: opts[opt] for kw, opt in keys.items()}


def _stream_parts(spark: SparkSession, store_path: str) -> dict:
    text = lake.read_text(spark, f"{store_path}/{_STREAM_PARTS}")
    if text is None:
        return {"num_buckets": None, "lsh": None, "ddl": None, "parts": [], "generation": 0}
    manifest = json.loads(text)
    if "ddl" not in manifest:
        raise ValueError(f"frozen store at {store_path} records no table DDL; rebuild it")
    return manifest


def _commit_stream_parts(spark: SparkSession, store_path: str, manifest: dict) -> None:
    lake.write_text(spark, f"{store_path}/{_STREAM_PARTS}", json.dumps(manifest, indent=2))


def _stream_tables(spark: SparkSession, store_path: str, generation: int = 0) -> dict:
    # compaction bumps the generation: tables/dirs are suffixed so a
    # compacted store swaps in atomically at the manifest commit and a
    # crashed compaction leaves only orphan next-gen directories.
    # Catalog identifiers are per-session; the prefix hashes the
    # qualified store URI so re-registration is idempotent across
    # sessions and working directories.
    suffix = "" if generation == 0 else f"_g{generation}"
    root = lake.qualify(spark, store_path)
    prefix = "frozen_" + hashlib.md5(root.encode()).hexdigest()[:10] + "_stream"
    return {
        key: {
            "table": f"{prefix}_{key}{suffix}",
            "path": f"{root}/stream_{key}{suffix}",
            "bucket_cols": cols,
        }
        for key, cols in (("fps", ("fp",)), ("bands", ("band", "key")))
    }


def _register_stream_tables(spark: SparkSession, store_path: str, manifest: dict) -> dict:
    """The current generation's tables, registered in THIS session's
    catalog (idempotent). Before the first committed append there is
    no DDL and nothing to register: whatever a crashed first append left
    on disk is uncommitted, and the next append's ``saveAsTable``
    creates the tables over it."""
    tables = _stream_tables(spark, store_path, manifest["generation"])
    for key, spec in tables.items():
        if manifest["ddl"] is None or spark.catalog.tableExists(spec["table"]):
            continue
        cols = ", ".join(spec["bucket_cols"])
        spark.sql(
            f"CREATE TABLE {spec['table']} ({manifest['ddl'][key]}) USING PARQUET "
            f"CLUSTERED BY ({cols}) SORTED BY ({cols}) INTO {manifest['num_buckets']} BUCKETS "
            f"LOCATION '{spec['path']}'"
        )
    return tables


def _write_bucketed(df: DataFrame, spec: dict, num_buckets: int, mode: str) -> None:
    cols = spec["bucket_cols"]
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *cols).sortBy(*cols)
    writer.option("path", spec["path"]).saveAsTable(spec["table"])


def _check_lsh(manifest: dict, store_path: str, **lsh) -> dict:
    # the first append pins the banding: mixing band keys of different
    # LSH parameters would silently miss every cross-part candidate
    if manifest["lsh"] is not None and manifest["lsh"] != lsh:
        raise ValueError(
            f"frozen store at {store_path} was created with lsh={manifest['lsh']}, "
            f"requested lsh={lsh}"
        )
    return lsh


def _part_relations(docs: DataFrame, part: Column, lsh: dict) -> Tuple[DataFrame, DataFrame]:
    fps = exact_dedup(docs).select("fp").withColumn("part", part)
    return fps, band_relation(docs, **lsh).withColumn("part", part)


def append_frozen_parts(
    spark: SparkSession,
    store_path: str,
    part_docs: dict,
    n_perm: int = 8,
    bands: int = 4,
    k: int = 4,
    hash_mode: str = "md5",
    num_buckets: int = 64,
) -> dict:
    """Append the fp/band relations of the given corpus parts
    (``{part_name: docs DataFrame}`` with ``doc_id`` and ``text``
    columns) to the store and return its manifest. The first call
    creates the bucketed tables and pins the bucket count, the LSH
    parameters and the table DDL; later calls append with the same
    bucket spec, and an LSH mismatch raises rather than mixing
    incompatible band keys."""
    manifest = _stream_parts(spark, store_path)
    lsh = _check_lsh(manifest, store_path, n_perm=n_perm, bands=bands, k=k, hash_mode=hash_mode)
    manifest["num_buckets"] = manifest["num_buckets"] or num_buckets
    tables = _register_stream_tables(spark, store_path, manifest)
    for name, docs in part_docs.items():
        rels = dict(zip(("fps", "bands"), _part_relations(docs, F.lit(name), lsh)))
        manifest["ddl"] = manifest["ddl"] or {key: _ddl(df) for key, df in rels.items()}
        for key, df in rels.items():
            _write_bucketed(df, tables[key], manifest["num_buckets"], "append")
    manifest["lsh"] = lsh
    manifest["parts"] = sorted(set(manifest["parts"]) | set(part_docs))
    _commit_stream_parts(spark, store_path, manifest)
    return manifest


def write_frozen_state(
    frozen_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 8,
    bands: int = 4,
    k: int = 4,
    hash_mode: str = "md5",
    num_buckets: int = 64,
) -> dict:
    """Freeze a whole corpus: replace whatever store is at ``store_path``
    with one holding ``frozen_docs`` as its single part, ``frozen``.
    One-time cost per freeze; every later append probes these tables
    without shuffling them.

    ``num_buckets`` sizes the per-bucket file count — pick so a bucket
    is a few hundred MB at the target corpus size (100 TB of text →
    ~1 GB of band rows per bucket at 4096 buckets; the default 64 fits
    test/bench scale). Returns the manifest dict.
    """
    spark = frozen_docs.sparkSession
    for spec in _stream_tables(spark, store_path, _stream_parts(spark, store_path)["generation"]).values():
        spark.sql(f"DROP TABLE IF EXISTS {spec['table']}")
    lake.delete(spark, store_path)
    docs = frozen_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return append_frozen_parts(
        spark, store_path, {"frozen": docs}, n_perm=n_perm, bands=bands, k=k,
        hash_mode=hash_mode, num_buckets=num_buckets,
    )


def read_frozen_state(
    spark: SparkSession, store_path: str
) -> Tuple[DataFrame, DataFrame, dict]:
    """``(frozen_fps, frozen_bands, manifest)`` ready to pass to
    :func:`plans.curate.curate_increment` / ``incremental_assign``: the
    whole store, every part. Both are catalog-backed bucketed scans:
    metadata-cheap to count (the broadcast guard's requirement) and
    exchange-free on the frozen side of the probe joins."""
    manifest = _stream_parts(spark, store_path)
    if manifest["ddl"] is None:
        raise ValueError(f"no frozen store at {store_path}")
    tables = _register_stream_tables(spark, store_path, manifest)
    return spark.table(tables["fps"]["table"]), spark.table(tables["bands"]["table"]), manifest


def stream_frozen_relations(
    spark: SparkSession,
    store_path: str,
    corpus_parts: dict,
    n_perm: int = 8,
    bands: int = 4,
    k: int = 4,
    hash_mode: str = "md5",
) -> Tuple[Optional[DataFrame], Optional[DataFrame], list]:
    """Assemble ``(frozen_fps, frozen_bands, missing_parts)`` for the
    corpus parts in ``corpus_parts`` (``{part_name: docs DataFrame}``,
    already excluding the probing batch's own part). Parts present in
    the store read from the bucketed tables (filtered to exactly the
    live part set — stale rows of deleted parts drop out here); parts
    the store has not absorbed yet are computed from their text on the
    fly and unioned in (the self-heal path; callers re-append them at
    commit time). Returns ``(None, None, [])`` when there are no parts
    at all. When nothing is missing, the returned relations are pure
    bucketed scans — the probe joins run with zero frozen-side
    shuffle in the sort-merge regime."""
    if not corpus_parts:
        return None, None, []
    manifest = _stream_parts(spark, store_path)
    lsh = _check_lsh(manifest, store_path, n_perm=n_perm, bands=bands, k=k, hash_mode=hash_mode)
    stored = sorted(set(manifest["parts"]) & set(corpus_parts))
    missing = sorted(set(corpus_parts) - set(stored))
    fps = bnd = None
    if stored:
        tables = _register_stream_tables(spark, store_path, manifest)
        fps = spark.table(tables["fps"]["table"]).where(F.col("part").isin(stored))
        bnd = spark.table(tables["bands"]["table"]).where(F.col("part").isin(stored))
    for name in missing:
        mfps, mbnd = _part_relations(corpus_parts[name], F.lit(name), lsh)
        fps = mfps if fps is None else fps.unionByName(mfps)
        bnd = mbnd if bnd is None else bnd.unionByName(mbnd)
    return fps, bnd, missing


def compact_stream_store(
    spark: SparkSession, store_path: str, live_parts: Optional[list] = None
) -> dict:
    """Offline maintenance for the store: rewrite both tables keeping
    only rows of ``live_parts`` (default: the manifest's own part list)
    and dropping exact-duplicate rows left by re-delivered appends. Run
    while the stream is stopped.

    The rewrite lands in generation-suffixed tables/directories; the
    manifest commit (atomic rename) is the swap point — the stream's
    next trigger reads the new generation, probes are never exposed to
    a half-written rewrite, and a crash mid-compaction leaves only
    orphan next-generation directories (re-running cleans them by
    overwriting). Old-generation directories are deleted after the
    commit. Returns the new manifest."""
    manifest = _stream_parts(spark, store_path)
    if manifest["ddl"] is None:
        raise ValueError(f"no frozen store at {store_path}")
    live = sorted(set(manifest["parts"] if live_parts is None else live_parts))
    old_tables = _register_stream_tables(spark, store_path, manifest)
    new_tables = _stream_tables(spark, store_path, manifest["generation"] + 1)
    for key in ("fps", "bands"):
        rows = spark.table(old_tables[key]["table"]).where(F.col("part").isin(live)).dropDuplicates()
        spark.sql(f"DROP TABLE IF EXISTS {new_tables[key]['table']}")
        _write_bucketed(rows, new_tables[key], manifest["num_buckets"], "overwrite")
    manifest["generation"] += 1
    manifest["parts"] = live
    _commit_stream_parts(spark, store_path, manifest)  # the swap point
    for spec in old_tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {spec['table']}")
        lake.delete(spark, spec["path"])
    return manifest
