"""Traced-run instrumentation, all from the benchmark's side.

* :class:`CallSites` wraps the PySpark methods that launch Spark jobs so
  that each job carries, as its ``callSite.short`` property, the
  innermost ``fundus_spark`` file and line that made the call (PySpark
  records a call site for ``collect`` but not for ``count``, writes or
  checkpoints, and AQE jobs inherit the property of the thread that
  started them).
* :func:`read_event_log` parses the Spark event log after the run: job
  and stage accounting comes from there, not from
  ``SparkContext.statusTracker()``, which only retains the last
  ``spark.ui.retainedJobs`` jobs.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

_PKG = os.sep + "fundus_spark" + os.sep

#: PySpark entry points that can launch a job (actions, writes,
#: checkpoints, partition-count probes that run AQE stages).
_JOB_METHODS = (
    ("pyspark.sql.classic.dataframe", "DataFrame", (
        "count", "collect", "localCheckpoint", "checkpoint", "toPandas", "take", "first",
        "head", "isEmpty", "show", "toLocalIterator", "foreach", "foreachPartition", "toArrow",
        "rdd",  # converting an adaptive plan to an RDD runs its shuffle stages
    )),
    ("pyspark.sql.readwriter", "DataFrameWriter", (
        "save", "parquet", "saveAsTable", "insertInto", "json", "csv", "orc", "text",
    )),
    # reads list files and infer schemas, which can launch jobs
    ("pyspark.sql.readwriter", "DataFrameReader", ("load", "parquet", "json", "csv", "orc", "table")),
    ("pyspark.sql.session", "SparkSession", ("sql", "table")),
    ("pyspark.rdd", "RDD", ("getNumPartitions", "collect", "count", "take", "first", "isEmpty")),
)


def module_of(path: str) -> Optional[str]:
    """``.../fundus_spark/plans/job.py`` -> ``plans.job``."""
    idx = path.rfind(_PKG)
    if idx < 0:
        return None
    rel = path[idx + len(_PKG) :]
    return rel[:-3].replace(os.sep, ".") if rel.endswith(".py") else None


def _innermost_site() -> Optional[str]:
    frame = sys._getframe(2)
    while frame is not None:
        fname = frame.f_code.co_filename
        if _PKG in fname:
            return f"{frame.f_code.co_name} at {fname}:{frame.f_lineno}"
        frame = frame.f_back
    return None


class CallSites:
    """Install/uninstall the call-site wrappers (traced runs only)."""

    def __init__(self) -> None:
        self._saved: List[Tuple[type, str, object]] = []
        self._label: Optional[str] = None

    def install(self) -> None:
        import importlib

        from pyspark import SparkContext
        from pyspark.traceback_utils import SCCallSiteSync

        owner = self

        def wrap(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                sc = SparkContext._active_spark_context
                if sc is None or SCCallSiteSync._spark_stack_depth:
                    return orig(*args, **kwargs)  # an outer call already set the site
                site = _innermost_site() or owner._label
                if site is None:
                    return orig(*args, **kwargs)
                # the depth counter stops PySpark's own call-site capture
                # (``collect``) from replacing ours with this wrapper's frame
                sc._jsc.setCallSite(site)
                SCCallSiteSync._spark_stack_depth += 1
                try:
                    return orig(*args, **kwargs)
                finally:
                    SCCallSiteSync._spark_stack_depth -= 1
                    sc._jsc.setCallSite(None)

            return wrapper

        for modname, clsname, methods in _JOB_METHODS:
            cls = getattr(importlib.import_module(modname), clsname)
            for name in methods:
                orig = cls.__dict__.get(name)
                if isinstance(orig, property):
                    new = property(wrap(orig.fget))
                elif isinstance(orig, functools.cached_property):
                    new = functools.cached_property(wrap(orig.func))
                    new.__set_name__(cls, name)
                elif callable(orig):
                    new = wrap(orig)
                else:
                    continue
                self._saved.append((cls, name, orig))
                setattr(cls, name, new)

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._saved):
            setattr(cls, name, orig)
        self._saved.clear()

    @contextmanager
    def label(self, site: str):
        """Call site for jobs the benchmark itself launches on a plan a
        ``fundus_spark`` function returned (e.g. the action on
        ``curate_corpus``'s result)."""
        prev, self._label = self._label, site
        try:
            yield
        finally:
            self._label = prev


@contextmanager
def timed_calls(module, name: str, spans: list):
    """Record ``(start, end)`` of every call to ``module.name`` made
    inside the block (the function is looked up there by its callers)."""
    orig = getattr(module, name)

    @functools.wraps(orig)
    def timed(*args, **kwargs):
        t0 = time.time()
        try:
            return orig(*args, **kwargs)
        finally:
            spans.append((t0, time.time()))

    setattr(module, name, timed)
    try:
        yield
    finally:
        setattr(module, name, orig)


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    site: str = ""
    stage_ids: List[int] = field(default_factory=list)
    name: str = ""  # the JVM-side call site of its first stage


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    task_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    spill_b: float = 0.0
    scopes: List[str] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: List[Job]
    stages: Dict[int, Stage]


def read_event_log(log_dir: str) -> EventLog:
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {files}")
    jobs: Dict[int, Job] = {}
    stages: Dict[int, Stage] = defaultdict(lambda: Stage(-1))
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    start_ms=ev["Submission Time"],
                    site=props.get("callSite.short") or "",
                    stage_ids=list(ev.get("Stage IDs", [])),
                    name=(ev.get("Stage Infos") or [{}])[0].get("Stage Name", ""),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages[info["Stage ID"]]
                st.stage_id = info["Stage ID"]
                st.scopes = [r.get("Scope", "") for r in info.get("RDD Info", [])]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages[ev["Stage ID"]]
                st.stage_id = ev["Stage ID"]
                st.tasks += 1
                st.task_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return EventLog(jobs=sorted(jobs.values(), key=lambda j: j.job_id), stages=dict(stages))


def jobs_between(log: EventLog, start_ms: float, end_ms: float) -> List[Job]:
    return [j for j in log.jobs if start_ms <= j.start_ms <= end_ms]


def busy_ms(jobs: List[Job]) -> float:
    """Length of the union of the jobs' [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((j.start_ms, j.end_ms) for j in jobs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def site_module(site: str) -> Optional[str]:
    """Module of a ``"<fn> at <file>:<line>"`` call site."""
    if " at " not in site:
        return None
    path = site.rsplit(" at ", 1)[1].rsplit(":", 1)[0]
    return module_of(path)


def stage_totals(log: EventLog, jobs: List[Job]) -> Stage:
    """Summed task metrics over the stages the jobs ran (a stage shared
    by two jobs, or skipped because its shuffle output was reused, is
    counted once / not at all)."""
    out = Stage(-1)
    seen = set()
    for j in jobs:
        for sid in j.stage_ids:
            st = log.stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            out.tasks += st.tasks
            out.task_ms += st.task_ms
            out.cpu_ns += st.cpu_ns
            out.gc_ms += st.gc_ms
            out.shuffle_write_b += st.shuffle_write_b
            out.shuffle_read_b += st.shuffle_read_b
            out.spill_b += st.spill_b
    return out


def run_stage_count(log: EventLog, jobs: List[Job]) -> int:
    return len({sid for j in jobs for sid in j.stage_ids if sid in log.stages})
