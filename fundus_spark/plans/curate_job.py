"""Resumable curation job: the curation chain of :mod:`plans.curate`
under its third boundary policy — each stage boundary is written to the
lake and committed in a manifest, so a re-submit resumes from the last
completed stage.

The chain, its stage order and its options are those of
:func:`plans.curate.curate_corpus`; only the boundary differs. The
in-session drivers materialize two boundaries (or none); this
job writes all four to ``{workdir}/{stage}`` and reads each back. The
policy receives each stage's builder, not its relation, so a committed
stage is read back without being rebuilt.

Why stage-level (vs the extraction job's bucket-level) resume: the
extraction stage is embarrassingly parallel, so a hash bucket is a
natural unit of commit/resume. Curation is NOT — exact dedup, the LSH
pair graph, connected components, and decontamination are corpus-global
(a pair can span any two buckets), so the honest unit of durability is
the stage: ``gated`` (quality filters), ``deduped`` (exact dedup and
CCNet tiering), ``survivors`` (near-dup components + survivor
selection, which subsumes the pair graph), and ``final`` (decontaminate
+ split + pack). At 10^12 docs each boundary is a table a re-submit can
read back instead of recomputing hours of upstream work.

Commit protocol mirrors ``run_extraction_job``: the stage's parquet
write lands first, the manifest commit is the commit point. A crash
between the two leaves a stage directory that the retry overwrites
idempotently; a stage is only ever read back when its manifest row
exists. The manifest is ``{workdir}/_curate_manifest.json``, one JSON
line per committed stage, rewritten whole by
:func:`plans.lake.write_text` at each commit (a temp sibling renamed
over the old file), so a crash mid-commit leaves the previous stage
list, never a torn line. ``workdir`` is any URI Spark can write; stage
directories and manifest land under it whatever the working directory.
Outputs are plain parquet here; on Iceberg each stage is a table and the
manifest is the catalog's snapshot log (same contract).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession

from . import lake
from .curate import _curate, chain_options


@dataclass
class CurateJobResult:
    workdir: str
    stages_run: List[str] = field(default_factory=list)
    stages_resumed: List[str] = field(default_factory=list)
    rows_out: int = 0
    frozen_store: Optional[str] = None


def run_curate_job(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    benchmark: Optional[DataFrame] = None,
    freeze_state: bool = False,
    freeze_buckets: int = 64,
    **options,
) -> CurateJobResult:
    """Runs the curation chain with each stage written to
    ``{workdir}/{stage}`` and committed to the job manifest; committed
    stages are read back, not recomputed. Deterministic inputs +
    parameters mean a resumed run produces the identical corpus.
    ``options`` are the chain's (every :func:`plans.curate.curate_corpus`
    option); a misspelled name raises ``TypeError`` before any Spark
    job.

    ``freeze_state=True`` adds a final committed stage that writes the
    curated corpus's dedup state (exact fingerprints + LSH band
    relation, same lsh/shingle/hash parameters as this run) to
    ``{workdir}/frozen_state`` as ``freeze_buckets`` bucketed tables via
    :mod:`plans.frozen_store` — the handoff that turns this full run
    into the frozen side of every later :func:`plans.curate.curate_increment`
    append without recomputing or re-shuffling corpus state."""
    opts = chain_options(**options)
    root = lake.qualify(spark, workdir)
    manifest = f"{root}/_curate_manifest.json"
    lines = (lake.read_text(spark, manifest) or "").splitlines()
    committed = [json.loads(line)["stage"] for line in lines if line.strip()]
    result = CurateJobResult(workdir=workdir)

    def commit(stage: str) -> None:
        committed.append(stage)
        lake.write_text(spark, manifest, "".join(json.dumps({"stage": s}) + "\n" for s in committed))
        result.stages_run.append(stage)

    def to_lake(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        path = f"{root}/{name}"
        if name in committed:
            result.stages_resumed.append(name)
        else:
            build().write.mode("overwrite").parquet(path)
            commit(name)
        return spark.read.parquet(path)

    final = _curate(docs, None, benchmark, to_lake, **opts)
    result.rows_out = final.count()

    if freeze_state:
        from .frozen_store import store_lsh, write_frozen_state

        store = f"{root}/frozen_state"
        if "frozen" in committed:
            result.stages_resumed.append("frozen")
        else:
            write_frozen_state(
                final,
                store,
                text_col=opts["text_col"],
                id_col=opts["id_col"],
                num_buckets=freeze_buckets,
                **store_lsh(opts),
            )
            commit("frozen")
        result.frozen_store = store
    return result
