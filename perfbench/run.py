#!/usr/bin/env python3
"""The repo benchmark: one seeded, closed-loop workload per invocation.

    python3 perfbench/run.py --workload {extract,curate,append} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One driver process runs Spark at
``local[nproc]``; the next pass (``extract``, ``curate``) or batch
(``append``) starts only after the previous one has committed, for
``--seconds`` seconds and to the end of a pass. Inputs are generated
from ``--seed`` and written as parquet before anything is timed; the
program receives only those files. Every output is checked (see
``workloads.py``); a failed check makes the command exit 1.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` replays the
extraction kernel in-process, runs the workload's first unit untraced
and then a window with the Spark event log and call-site tagging on, and
prints the per-layer metrics parsed from the event log.

Detail (input properties, per-unit timings, the call-site breakdown)
goes to stderr and to ``.perfbench/<workload>-<trace>.json``; the last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import layers  # noqa: E402
import procs  # noqa: E402

KERNEL_SAMPLE_TURNS = 160
#: Seconds after a traced run starts past which its window ends at the
#: next unit once it holds ``min_units``: a run must end within three
#: minutes on a slow phase of a shared host too.
TRACE_DEADLINE_S = 120

END_TO_END = {
    "rows_per_s": "1/s",
    "batch_s": "s",
    "cpu_s_per_krow": "s",
    "setup_s": "s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "curate", "append"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """A fresh JVM and Spark session at ``local[nproc]`` whose scratch,
    warehouse and temp files stay inside ``work``. ``close`` ends the
    JVM and waits for it."""

    def __init__(self, work: Path, event_dir: Path | None = None):
        from fundus_spark.plans import build_session

        tmp = work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        }
        if event_dir is not None:
            event_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir.resolve().as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_session(app_name="perfbench", cores=nproc(), extra_conf=conf)

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — still running: end it
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def setup(args, work: Path, inputs: dict, event_dir: Path | None = None, sites=None):
    """Session start plus the workload's untimed warm-up (for ``extract``
    Python worker spawn and kernel import). Returns (session, workload,
    seconds)."""
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    sess = Session(work, event_dir)
    wl = WORKLOADS[args.workload](sess.spark, inputs, work / ("traced" if sites else "plain"), sites=sites)
    wl.warm_up()
    return sess, wl, time.perf_counter() - t0


def run_window(wl, seconds: float, deadline: float | None = None) -> list:
    """The closed loop: start the next unit only after the previous one
    returned, until ``seconds`` have passed and the last pass is
    complete (an ``append`` pass is all of its batches), or, past
    ``deadline``, once the window holds ``wl.min_units``."""
    units = []
    t0 = time.time()
    while time.time() - t0 < seconds or len(units) % wl.units_per_pass:
        if deadline is not None and time.time() > deadline and len(units) >= wl.min_units:
            break
        units.append(wl.step())
    return units


def untraced(args, work: Path, inputs: dict):
    sess, wl, setup_s = setup(args, work, inputs)
    try:
        meter = procs.TreeMeter(os.getpid())
        meter.start()
        try:
            units = run_window(wl, args.seconds)
        finally:
            cpu_s = meter.stop()
    finally:
        sess.close()
    rows = sum(u.rows for u in units)
    metrics = {
        "rows_per_s": statistics.median(u.rows / u.wall_s for u in units),
        "batch_s": statistics.median(u.wall_s for u in units),
        "cpu_s_per_krow": cpu_s / rows * 1000.0,
        "setup_s": setup_s,
    }
    return [wl], units, metrics, {"cpu_s": cpu_s}


def traced(args, work: Path, inputs: dict):
    """For ``extract``, the kernel replay and a first pass untraced; then
    a window traced (event log + call sites), each in a fresh JVM so
    neither inherits the other's JIT warmth. Returns the per-layer
    metrics. The overhead compares the two first passes; it reads 0 on
    the other workloads, whose second cold JVM does not fit the run's
    time limit beside six ``append`` batches."""
    import sparktrace

    deadline = time.time() + TRACE_DEADLINE_S
    metrics = {k: 0.0 for k in layers.UNITS if k.startswith("kernel.")}
    plain_runs, plain_unit = [], None
    if args.workload == "extract":
        sample, _, _ = gen.transcripts(args.seed, gen.ExtractShape(n_turns=KERNEL_SAMPLE_TURNS))
        gen.write_table(sample, work / "kernel" / "sample.parquet")
        metrics = layers.kernel_layer(work / "kernel")
        sess, plain_wl, _ = setup(args, work, inputs)
        try:
            plain_unit = plain_wl.step()
        finally:
            sess.close()
        plain_runs = [plain_wl]

    event_dir = work / "eventlog"
    sites = sparktrace.CallSites()
    sites.install()
    try:
        sess, wl, _ = setup(args, work, inputs, event_dir=event_dir, sites=sites)
        try:
            meter = procs.TreeMeter(os.getpid(), interval=2.0)
            meter.start()
            try:
                units = run_window(wl, args.seconds, deadline)
            finally:
                meter.stop()
            docs = wl.lsh_input()
            metrics.update(dict.fromkeys(layers.LSH_METRICS, 0.0) if docs is None else layers.lsh_layer(docs))
        finally:
            sess.close()
    finally:
        sites.uninstall()
    spark_metrics, detail = layers.spark_layers(
        args.workload, wl, units, sparktrace.read_event_log(str(event_dir)))
    metrics.update(spark_metrics)
    metrics["peak_rss_mb"] = meter.peak_pss / 1e6
    metrics["memory.jvm_peak_mb"] = meter.peak_jvm_pss / 1e6
    detail["peak_pss_parts_mb"] = meter.peak_parts
    if args.workload == "extract":
        metrics["extract_stage.outside_kernel_us_per_turn"] = (
            metrics["extract_stage.task_us_per_turn"] - metrics["kernel.total_us"]
        )
    metrics["trace.overhead_frac"] = units[0].wall_s / plain_unit.wall_s if plain_unit else 0.0
    return [wl, *plain_runs], units, metrics, detail


def main(argv=None) -> int:
    args = _args(argv)
    root = Path.cwd()
    if not (root / "fundus_spark" / "__init__.py").is_file() or not (root / "__spark_entry__.py").is_file():
        _log("no fundus_spark checkout in the working directory; run from the repository root")
        return 2
    sys.path.insert(0, str(root))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")]))

    base = root / ".perfbench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    try:
        inputs = gen.write_inputs(args.workload, args.seed, work / "inputs", traced=bool(args.trace))
        # the input properties a gain may depend on, beside the metrics
        print(f"inputs {args.workload} seed={args.seed}: {json.dumps(inputs['props'])}", flush=True)
        try:
            run = traced if args.trace else untraced
            runs, units, metrics, detail = run(args, work, inputs)
        except Exception:  # noqa: BLE001 — a unit raised: report it as failed
            _log("a pass raised:\n" + traceback.format_exc())
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1

        problems = runs[0].check(*runs[1:])
        for p in problems:
            _log(f"CHECK FAILED: {p}")
        attempted = sum(u.attempted for u in units)
        failed = sum(u.failed for u in units) + (1 if problems else 0)
        detail.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "inputs": inputs["props"], "problems": problems,
            "units": [{"rows": u.rows, "wall_s": u.wall_s, **u.marks} for u in units],
            "metrics": metrics,
        })
        (base / f"{args.workload}-{args.trace}.json").write_text(json.dumps(detail, indent=1))
        _log(f"{len(units)} units, walls (s): {[round(u.wall_s, 3) for u in units]}")
        names = layers.UNITS if args.trace else END_TO_END
        print(json.dumps({
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in names.items()},
        }))
        return 0 if not problems else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
