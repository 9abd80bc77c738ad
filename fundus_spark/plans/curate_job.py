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
write lands first, the manifest append is the commit point. A crash
between the two leaves a stage directory that the retry overwrites
idempotently; a stage is only ever read back when its manifest row
exists. Outputs are plain parquet here; on Iceberg each stage is a
table and the manifest is the catalog's snapshot log (same contract).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession

from .curate import _curate, chain_options


@dataclass
class CurateJobResult:
    workdir: str
    stages_run: List[str] = field(default_factory=list)
    stages_resumed: List[str] = field(default_factory=list)
    rows_out: int = 0
    frozen_store: Optional[str] = None


def _manifest_path(workdir: str) -> str:
    return os.path.join(workdir, "_curate_manifest.json")


def _committed_stages(workdir: str) -> set:
    path = _manifest_path(workdir)
    if not os.path.exists(path):
        return set()
    with open(path) as fh:
        return {json.loads(line)["stage"] for line in fh if line.strip()}


def _commit_stage(workdir: str, stage: str) -> None:
    with open(_manifest_path(workdir), "a") as fh:
        fh.write(json.dumps({"stage": stage}) + "\n")


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
    os.makedirs(workdir, exist_ok=True)
    done = _committed_stages(workdir)
    result = CurateJobResult(workdir=workdir)

    def to_lake(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        path = os.path.join(workdir, name)
        if name in done:
            result.stages_resumed.append(name)
        else:
            build().write.mode("overwrite").parquet(path)
            _commit_stage(workdir, name)
            result.stages_run.append(name)
        return spark.read.parquet(path)

    final = _curate(docs, None, benchmark, to_lake, **opts)
    result.rows_out = final.count()

    if freeze_state:
        from .frozen_store import store_lsh, write_frozen_state

        store = os.path.join(workdir, "frozen_state")
        if "frozen" in done:
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
            _commit_stage(workdir, "frozen")
            result.stages_run.append("frozen")
        result.frozen_store = store
    return result
