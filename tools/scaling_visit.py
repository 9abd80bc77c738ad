"""One visit to a parallelism level for the north-rule scaling run.

Runs as a SUBPROCESS of bench.py so the visit can pin the ENTIRE
process tree — this driver, the JVM it launches, and the Python workers
the JVM forks — to exactly `cores` CPUs via ``sched_setaffinity``
(children inherit the mask; the JVM's ``availableProcessors`` respects
it, so GC/JIT thread pools size themselves for the pinned budget too).

Why pinning: ``local[8]`` UNPINNED on a 32-CPU host is not an 8-core
node — it is an 8-task-slot job on 32 cores, where the JVM's parquet
scan/Arrow-serialize/GC threads and the OS run on the 24 idle cores for
free, while ``local[32]`` oversubscribes the same silicon (32 task
threads + 32 Python kernel workers + JVM service threads). That
asymmetry deflates the measured N->4N ratio below what a real cluster
of N-core executors would show, where BOTH levels run at the same
slots-to-silicon ratio. Pinning each level to its own core budget
restores the symmetry the north rule's two-cluster-size criterion
assumes. The no-Spark hardware control (tools/hw_control.py) is pinned
identically, so the normalization stays apples-to-apples.

Usage: python tools/scaling_visit.py <cores> <transcripts_path> <n_turns> <timed_runs>
Prints one JSON line: {"cores": N, "rates": [turns_per_sec, ...]}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def pin_to_cores(cores: int) -> bool:
    """Pin the calling process (and all future children) to `cores`
    CPUs. Returns False when unsupported or disabled via
    SPARK_GRAFT_PIN_CPUS=0."""
    if os.environ.get("SPARK_GRAFT_PIN_CPUS", "1") == "0":
        return False
    if not hasattr(os, "sched_setaffinity"):
        return False
    available = sorted(os.sched_getaffinity(0))
    if len(available) < cores:
        return False
    os.sched_setaffinity(0, set(available[:cores]))
    return True


# The scaled corpus is written as `cores_hi * 8` small files; with the
# default maxPartitionBytes=128MB the scan would pack them into ~`cores`
# splits -> one task wave, so the slowest task gates the stage and the
# tail idles the machine. Sizing splits so each file is its own task
# gives ~8 waves/core at the high level (~32 at the low level) and
# stragglers overlap. At 100 TB the same knob sizes row-group splits of
# 128MB-1GB files; the default already yields thousands of waves there.
SCAN_SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(512 * 1024),
    "spark.sql.files.openCostInBytes": "65536",
}


def run_visit(cores: int, transcripts_path: str, n_turns: int, timed_runs: int) -> list:
    """Fresh SparkContext at local[cores] (pinned), one full warm-up
    pass (JIT + Python worker spawn + kernel import + page cache), then
    `timed_runs` timed passes of the scan->map_rows extraction stage
    (zero shuffles in the plan). Returns turns/sec per timed pass."""
    from fundus_spark.plans import build_session, extract_articles

    spark = build_session(
        app_name=f"bench-scaling-{cores}",
        cores=cores,
        shuffle_partitions=max(cores, 8),
        extra_conf=SCAN_SPLIT_CONF,
    )
    try:
        transcripts = spark.read.parquet(transcripts_path)
        extract_articles(transcripts).count()  # warm-up, never timed
        rates = []
        for _ in range(timed_runs):
            started = time.time()
            n_out = extract_articles(transcripts).count()
            elapsed = time.time() - started
            assert n_out == n_turns
            rates.append(n_turns / elapsed)
        return rates
    finally:
        spark.stop()


def main() -> None:
    cores = int(sys.argv[1])
    transcripts_path = sys.argv[2]
    n_turns = int(sys.argv[3])
    timed_runs = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    pinned = pin_to_cores(cores)
    rates = run_visit(cores, transcripts_path, n_turns, timed_runs)
    print(json.dumps({"cores": cores, "pinned": pinned, "rates": rates}))


if __name__ == "__main__":
    main()
