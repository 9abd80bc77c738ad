"""Per-layer metrics of a traced run.

Every traced run prints every name in :data:`UNITS`. A layer the
workload does not call reads 0 (no ``run_extraction_job`` jobs in
``curate``, no ``curate_corpus`` call in ``append``, ...). Spark and
module figures are per unit: per pass for ``extract`` and ``curate``,
per batch for ``append``.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from pathlib import Path
from typing import Dict, List

import sparktrace

#: ``fundus_spark`` modules that launch Spark jobs in the workloads;
#: jobs from any other call site are summed under ``other``.
MODULES = (
    "plans.job", "plans.lineage", "plans.curate", "plans.frozen_store",
    "streaming.curate_stream", "operators.adaptive", "operators.dedup",
)

UNITS: Dict[str, str] = {
    "kernel.parse_us": "us",
    "kernel.meta_us": "us",
    "kernel.jsonld_us": "us",
    "kernel.rules_us": "us",
    "kernel.post_us": "us",
    "kernel.total_us": "us",
    "kernel.hw_control_us": "us",
    "kernel.vs_hw_control": "ratio",
    "extract_stage.task_us_per_turn": "us",
    "extract_stage.outside_kernel_us_per_turn": "us",
    "job.jobs": "count",
    "job.commit_s": "s",
    "job.output_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.driver_gap_s": "s",
    "curate.build_s": "s",
    "curate.build_jobs": "count",
    "curate.materialize_s": "s",
    "operators.lsh_candidates": "count",
    "operators.verified_pairs": "count",
    "operators.lsh_precision": "ratio",
    "append.jobs_per_batch": "count",
    "append.late_vs_early": "ratio",
    "append.write_mb_per_batch": "MB",
    "append.files_per_batch": "count",
    **{f"module_s.{m}": "s" for m in MODULES + ("other",)},
    **{f"module_jobs.{m}": "count" for m in MODULES + ("other",)},
    "peak_rss_mb": "MB",
    "memory.jvm_peak_mb": "MB",
    "trace.attributed_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def kernel_layer(sample_dir: Path) -> Dict[str, float]:
    """``kernel.*``: single-process replay of the kernel on the sample,
    reconciled against ``tools/hw_control.py`` at one process on the
    sample's generic turns (the rule that tool runs)."""
    import pyarrow.parquet as pq

    import gen
    import kernel_replay

    table = pq.read_table(str(sample_dir / "sample.parquet"))
    turns = list(zip(table.column("tool").to_pylist(), table.column("text").to_pylist(),
                     table.column("ts").to_pylist()))
    phases = kernel_replay.replay(turns)
    generic = table.filter(table.column("tool").to_numpy(zero_copy_only=False) == "generic")
    gen.write_table(generic, sample_dir / "generic" / "sample.parquet")
    generic_turns = [t for t in turns if t[0] == "generic"]
    generic_us = kernel_replay.replay(generic_turns, reps=1)["total_us"]
    hw_us = kernel_replay.hw_control_us(str(sample_dir / "generic"), n_docs=generic.num_rows, reps=5)
    out = {f"kernel.{k}": v for k, v in phases.items()}
    out["kernel.hw_control_us"] = hw_us
    out["kernel.vs_hw_control"] = generic_us / hw_us
    return out


LSH_METRICS = ("operators.lsh_candidates", "operators.verified_pairs", "operators.lsh_precision")


def lsh_layer(docs) -> Dict[str, float]:
    """``operators.*``: LSH candidates and Jaccard-verified pairs on the
    workload's documents after exact dedup, with the curate chain's
    default LSH parameters and ``_q_curate``'s threshold; precision is
    verified over candidates."""
    from pyspark.sql import functions as F

    from fundus_spark.operators import exact_dedup, lsh_candidate_pairs, ngram_jaccard_pairs

    import workloads

    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    deduped = docs.join(keep, "doc_id", "left_semi")
    cands = lsh_candidate_pairs(deduped, n_perm=8, bands=4, k=4)
    pairs = ngram_jaccard_pairs(
        deduped, k=4, threshold=workloads.CURATE_KWARGS["jaccard_threshold"], candidates=cands)
    n_cands = cands.count()
    n_pairs = pairs.count()
    return {
        "operators.lsh_candidates": float(n_cands),
        "operators.verified_pairs": float(n_pairs),
        "operators.lsh_precision": n_pairs / n_cands if n_cands else 0.0,
    }


def _python_stage(log: sparktrace.EventLog, job: sparktrace.Job) -> bool:
    """Whether the job ran the extraction stage's Arrow map."""
    return any("MapInArrow" in scope for sid in job.stage_ids
               for scope in log.stages.get(sid, sparktrace.Stage(-1)).scopes)


def spark_layers(workload: str, wl, units: list, log: sparktrace.EventLog):
    """Spark-engine, module and workload-layer metrics from the event
    log, per unit; also returns the call-site breakdown."""
    n = len(units)
    per_unit = [sparktrace.jobs_between(log, u.start * 1000, u.end * 1000) for u in units]
    all_jobs = [j for jobs in per_unit for j in jobs]
    tot = sparktrace.stage_totals(log, all_jobs)
    m: Dict[str, float] = {k: 0.0 for k in UNITS if not k.startswith(("kernel.", "operators."))}
    m.update({
        "spark.jobs": len(all_jobs) / n,
        "spark.stages": sum(sparktrace.run_stage_count(log, jobs) for jobs in per_unit) / n,
        "spark.tasks": tot.tasks / n,
        "spark.task_s": tot.task_ms / 1e3 / n,
        "spark.task_cpu_s": tot.cpu_ns / 1e9 / n,
        "spark.gc_s": tot.gc_ms / 1e3 / n,
        "spark.shuffle_write_mb": tot.shuffle_write_b / 1e6 / n,
        "spark.shuffle_read_mb": tot.shuffle_read_b / 1e6 / n,
        "spark.spill_mb": tot.spill_b / 1e6 / n,
        "spark.driver_gap_s": sum(u.wall_s - sparktrace.busy_ms(jobs) / 1e3
                                  for u, jobs in zip(units, per_unit)) / n,
    })

    by_site: Dict[str, List[float]] = defaultdict(lambda: [0, 0.0])
    job_s = attributed = 0.0
    unattributed = []  # (job, stage name, site of the job before it)
    for prev, j in zip([None] + all_jobs, all_jobs):
        secs = (j.end_ms - j.start_ms) / 1e3
        mod = sparktrace.site_module(j.site)
        key = mod if mod in MODULES else "other"
        m[f"module_s.{key}"] += secs / n
        m[f"module_jobs.{key}"] += 1 / n
        site = j.site or f"<no call site> {j.name}"
        by_site[site][0] += 1
        by_site[site][1] += secs
        job_s += secs
        if mod is None:
            unattributed.append([j.job_id, j.name, prev.site if prev else ""])
        else:
            attributed += secs
    m["trace.attributed_frac"] = attributed / job_s if job_s else 0.0

    if workload == "extract":
        task_ms = turns = 0.0
        for i, (u, jobs) in enumerate(zip(units, per_unit)):
            write = [j for j in jobs if _python_stage(log, j)]
            task_ms += sparktrace.stage_totals(log, write).task_ms
            turns += u.rows
            m["job.jobs"] += len(jobs) / n
            if write:
                m["job.commit_s"] += (u.end * 1000 - max(j.end_ms for j in write)) / 1e3 / n
            m["job.output_mb"] += wl.output_stats(i)[1] / n
        m["extract_stage.task_us_per_turn"] = task_ms * 1e3 / turns
    else:  # the plans.curate call: curate_corpus, or curate_increment inside a batch
        for u, jobs in zip(units, per_unit):
            start, end = u.marks["build_start"], u.marks["build_end"]
            m["curate.build_s"] += (end - start) / n
            m["curate.materialize_s"] += (u.end - end) / n
            m["curate.build_jobs"] += sum(1 for j in jobs if start * 1000 <= j.start_ms <= end * 1000) / n
    if workload == "append":
        m["append.jobs_per_batch"] = len(all_jobs) / n
        m["append.write_mb_per_batch"] = sum(u.marks["mb"] for u in units) / n
        m["append.files_per_batch"] = sum(u.marks["files"] for u in units) / n
        m["append.late_vs_early"] = late_vs_early(units)
    detail = {"call_sites": sorted(([s, c, round(t, 3)] for s, (c, t) in by_site.items()),
                                   key=lambda r: -r[2]),
              "unattributed_jobs": unattributed}
    return m, detail


def late_vs_early(units: list) -> float:
    """Median batch latency of the later half of the batch positions run
    over that of the earlier half (the middle one of an odd count is in
    neither)."""
    n = 1 + max(u.marks["batch"] for u in units)
    early = [u.wall_s for u in units if u.marks["batch"] < n // 2]
    late = [u.wall_s for u in units if u.marks["batch"] >= n - n // 2]
    return statistics.median(late) / statistics.median(early)
