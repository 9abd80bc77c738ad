"""Continuous corpus curation: a Structured Streaming source of new
documents flows through :func:`plans.curate.curate_increment` against a
GROWING frozen corpus — the production loop a training-data pipeline
actually runs (crawl lands documents continuously; every micro-batch is
curated incrementally; survivors append to the corpus and become part
of the frozen side for the next batch).

Why ``foreachBatch`` and not a pure streaming DAG: the increment's
near-dup probe joins each batch against the WHOLE corpus-so-far — a
stream-batch join whose batch side must be re-read per trigger (the
corpus grew). ``foreachBatch`` is Spark's sanctioned shape for exactly
this: the micro-batch is a plain DataFrame, the corpus is re-read from
the lake each trigger, and the append is transactional-equivalent per
batch even on plain parquet: each trigger's survivors are written to a
staged path and atomically RENAMED to ``corpus/batch-<stream>-<id>``, and
a re-delivered trigger (crash between corpus commit and checkpoint
commit) excludes its OWN batch directory from the frozen side,
recomputes deterministically, and replaces the directory — so no
duplicate doc_ids can land and no dedup-on-read is needed. The corpus
is therefore a directory of per-batch subdirectories (plus any flat
files from direct non-streaming appends); read it with
:func:`read_corpus`, not a plain ``spark.read.parquet`` (which skips
nested directories).

Every file operation outside Spark's readers and writers goes through
:mod:`plans.lake` at the URI given: the corpus listing, the batch
directory's delete-then-rename commit, and the stream-id marker
``{checkpoint}/_curation_stream_id``, committed by
:func:`plans.lake.write_text` (temp sibling renamed over it), so it
exists complete or not at all.

Scale notes: every stage inside the batch function keeps its
documented 100 TB shape (banded probes, broadcast benchmark shingles,
narrow gates). Without a store the frozen side's fingerprints and band
keys are recomputed from the corpus text on every trigger;
``frozen_store_path`` (see :func:`curate_batch_into_corpus`) persists
them per corpus part in the bucketed tables of
:mod:`plans.frozen_store`, so a steady-state trigger probes that stored
state instead of recomputing corpus minhashes.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.adaptive import local_rows, materialize
from ..plans import lake
from ..plans.curate import chain_options, curate_increment

CORPUS_SCHEMA = "doc_id long, source string, text string"


def _corpus_parts(
    spark: SparkSession, corpus_path: str, exclude_batch: Optional[str] = None
) -> Dict[str, str]:
    """Top-level corpus members as ``{name: path}``: per-batch
    ``batch-N`` directories (streaming commits) plus any flat parquet
    files (direct non-streaming appends); empty when the corpus
    directory does not exist yet. Listing explicitly — instead of a
    recursive read — lets a re-delivered trigger exclude its OWN
    ``batch-<exclude_batch>`` directory from the frozen side, which is
    what makes the re-run idempotent (reading the crashed attempt's own
    survivors would make the recompute drop every batch doc and commit
    an empty batch)."""
    parts = lake.children(spark, corpus_path)
    if exclude_batch is not None:
        parts.pop(f"batch-{exclude_batch}", None)  # the full "<stream>-<id>" tag
    return parts


def _read_parts(spark: SparkSession, *paths: str) -> DataFrame:
    """The listed corpus parts, read with the corpus schema. A part
    that vanishes between the listing and the read raises: curating
    against a silently emptied frozen side would re-append every batch
    doc."""
    return spark.read.schema(CORPUS_SCHEMA).parquet(*paths)


def read_corpus(spark: SparkSession, corpus_path: str) -> Optional[DataFrame]:
    """Public corpus reader: the corpus is a directory of per-batch
    subdirectories plus possible flat files, which a plain
    ``spark.read.parquet(corpus_path)`` would silently skip. Returns
    None iff the corpus does not exist or is empty."""
    parts = _corpus_parts(spark, corpus_path)
    return _read_parts(spark, *parts.values()) if parts else None


def _stream_id(spark: SparkSession, checkpoint_path: str) -> str:
    """Stable per-checkpoint stream identity: a random marker persisted
    INSIDE the checkpoint directory. A restart of the same checkpoint
    reads the same id (so a re-delivered trigger replaces its own
    batch directory); a fresh checkpoint mints a new id (so its batch
    ids can never clobber a previous stream's committed directories in
    a shared corpus)."""
    import uuid

    marker = f"{checkpoint_path}/_curation_stream_id"
    # an EMPTY marker is a crash artifact (a torn copy, or a checkpoint
    # written before the marker commit was atomic): adopting it would
    # put this checkpoint in the "" namespace — shared with every other
    # torn checkpoint, which re-enables the cross-stream batch-directory
    # clobber the namespace exists to prevent. Treat as absent and
    # re-mint; lake.write_text commits the new marker complete or not
    # at all.
    sid = lake.read_text(spark, marker)
    if not sid:
        sid = uuid.uuid4().hex[:12]
        lake.write_text(spark, marker, sid)
    return sid


def curate_batch_into_corpus(
    spark: SparkSession,
    batch: DataFrame,
    corpus_path: str,
    benchmark: Optional[DataFrame] = None,
    batch_id: Optional[int] = None,
    stream_id: Optional[str] = None,
    frozen_store_path: Optional[str] = None,
    **curate_kwargs,
) -> int:
    """Curate one batch of new documents against the corpus at
    ``corpus_path`` and commit the survivors. Returns rows committed.
    Usable directly for scheduled (non-streaming) increments too.

    With ``batch_id`` (the streaming path) the commit is
    transactional-equivalent on plain parquet: survivors are written to
    ``corpus/_staging/batch-<tag>`` and atomically renamed to
    ``corpus/batch-<tag>``, and the frozen side EXCLUDES the batch's
    own directory — so a re-delivered trigger (crash after the rename
    but before the stream checkpoint commit) deterministically
    recomputes the same survivors against the same frozen side and
    replaces its own directory instead of appending duplicates.

    ``<tag>`` is ``<stream_id>-<batch_id>``: replace-on-redelivery is
    only safe while batch ids are unique per corpus, and Spark batch
    ids restart from 0 with every FRESH checkpoint — without the
    namespace, a pipeline restarted on a new checkpoint path against
    the same corpus would silently REPLACE (delete) the old stream's
    committed batch 0 (review finding). :func:`continuous_curation`
    derives a stable ``stream_id`` from a marker persisted inside the
    checkpoint directory, so redelivery within one checkpoint matches
    its own directory and a fresh checkpoint can never clobber a
    previous stream's commits. Direct callers may pass their own
    namespace or accept the "direct" default.

    Without ``batch_id`` (direct calls) the survivors append as flat
    files; re-running the SAME batch twice then appends nothing
    because the first run's survivors are in the frozen side and the
    exact-fingerprint stage drops them.

    ``frozen_store_path`` (streaming path only) switches the frozen
    fp/band probes to the append-only bucketed streaming store
    (:func:`plans.frozen_store.stream_frozen_relations`): each
    committed batch's relations are appended after the corpus commit,
    so steady-state triggers never recompute minhashes over corpus
    text and never shuffle the frozen side; corpus parts the store has
    not absorbed yet (a crash landed the corpus commit but not the
    store append, or pre-existing flat files) are computed on the fly
    for this trigger and re-appended at this trigger's commit —
    self-healing with no correctness window. Corpus text is still the
    verify-stage source, read only for band-candidate docs."""
    tag = None if batch_id is None else f"{stream_id or 'direct'}-{batch_id}"
    # ONE listing gives both the frozen side and the per-part reads. A
    # fresh corpus is an empty LocalRelation the optimizer can see
    # through, so the frozen-side subtree is pruned; an empty list
    # would plan as an opaque LogicalRDD, and that subtree would run on
    # nothing.
    parts = _corpus_parts(spark, corpus_path, exclude_batch=tag)
    frozen = _read_parts(spark, *parts.values()) if parts else local_rows(spark, [], CORPUS_SCHEMA)
    store_missing: list = []
    part_docs: dict = {}
    if frozen_store_path is not None and batch_id is not None:
        from ..plans.frozen_store import store_lsh, stream_frozen_relations

        lsh = store_lsh(chain_options(**curate_kwargs))
        part_docs = {name: _read_parts(spark, p) for name, p in parts.items()}
        fps, bnds, store_missing = stream_frozen_relations(
            spark, frozen_store_path, part_docs, **lsh
        )
        if fps is not None:
            curate_kwargs = {**curate_kwargs, "frozen_fps": fps, "frozen_bands": bnds}
    curated = curate_increment(batch, frozen, benchmark=benchmark, **curate_kwargs)
    # materialize the curated increment ONCE: count + write would
    # otherwise each execute the post-checkpoint stages
    # (contamination join, split, pack window) — twice per trigger
    out, n = materialize(curated.select("doc_id", "source", "text"))
    if batch_id is None:
        if n:
            out.write.mode("append").parquet(corpus_path)
        return n
    final = f"{corpus_path}/batch-{tag}"
    staged = f"{corpus_path}/_staging/batch-{tag}"
    if n:
        out.coalesce(max(1, min(out.rdd.getNumPartitions(), 32))).write.mode(
            "overwrite"
        ).parquet(staged)
    # a pre-existing final dir can only be a crashed or re-delivered
    # prior attempt of THIS batch (it was excluded from the frozen side
    # above), so replacing it (or, when the recompute contributes
    # nothing, clearing it) is the idempotent outcome. The rename is
    # the commit point: atomic on HDFS/local FS.
    lake.delete(spark, final)
    if n:
        lake.move(spark, staged, final)
    if frozen_store_path is not None:
        # absorb AFTER the corpus commit: this batch's survivors plus
        # any part the probe had to compute on the fly (self-heal). A
        # crash before this append leaves the corpus part un-absorbed,
        # which the next trigger detects and heals; a re-delivered
        # append writes byte-identical rows (deterministic recompute),
        # which the duplicate-insensitive probes ignore.
        from ..plans.frozen_store import append_frozen_parts

        to_absorb = {name: part_docs[name] for name in store_missing}
        if n:
            to_absorb[f"batch-{tag}"] = out
        if to_absorb:
            append_frozen_parts(spark, frozen_store_path, to_absorb, **lsh)
    return n


def continuous_curation(
    spark: SparkSession,
    input_path: str,
    corpus_path: str,
    checkpoint_path: str,
    benchmark: Optional[DataFrame] = None,
    max_files_per_trigger: int = 1,
    trigger: Optional[dict] = None,
    frozen_store_path: Optional[str] = None,
    **curate_kwargs,
):
    """readStream over a document drop directory -> per-micro-batch
    incremental curation -> append-only corpus. Returns the started
    ``StreamingQuery`` (caller awaits/stops it).

    Within-batch AND batch-vs-corpus dedup both happen inside
    ``curate_increment``; across RESTARTS the checkpoint prevents
    re-processing a committed trigger. A crash BETWEEN the corpus
    commit and the checkpoint commit re-runs the trigger, which
    excludes its own ``batch-<id>`` directory from the frozen side and
    atomically replaces it — exactly-once corpus content without
    dedup-on-read (see :func:`curate_batch_into_corpus`).

    ``frozen_store_path`` activates the append-only bucketed fp/band
    store for the frozen-side probes (see
    :func:`curate_batch_into_corpus`): steady-state triggers stop
    recomputing corpus minhashes and the probe joins stop shuffling
    the frozen side — the difference between O(batch) and O(corpus)
    work per trigger once the corpus dwarfs the batches.

    ``trigger`` is passed verbatim to ``DataStreamWriter.trigger``:
    the default ``{"availableNow": True}`` drains currently-available
    files and terminates (the test/backfill shape); a long-running
    deployment passes ``{"processingTime": "30 seconds"}`` for a
    genuinely continuous loop."""
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    stream_id = _stream_id(spark, checkpoint_path)

    def _process(batch: DataFrame, batch_id: int) -> None:
        curate_batch_into_corpus(
            batch.sparkSession,
            batch,
            corpus_path,
            benchmark=benchmark,
            batch_id=batch_id,
            stream_id=stream_id,
            frozen_store_path=frozen_store_path,
            **curate_kwargs,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )
