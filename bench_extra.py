"""Round-8 optimization harness (bench.py is frozen for measurement).

Reproduces bench.py's exact timed methodology — shared session, the
same untimed warm-up, then ``fn(spark, sf_dir).count()`` — but adds the
instrumentation the optimization loop needs:

* time each query N times (first = cold, like the driver's bench; rest
  show the steady-state execution cost with plans/JIT warm);
* split plan-build time (the Python call) from execution time;
* count Spark jobs launched per query (each job is a driver round-trip
  and usually a materialization barrier — the cheapest thing to remove).

Usage:
    python bench_extra.py [query ...]          # time (default: headline list)
    python bench_extra.py --reps 3 curate_corpus
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

from bench import HEADLINE  # noqa: E402  (frozen list, import only)


def _warmup(spark, sf_dir):
    from fundus_spark.plans import extract_articles
    from fundus_spark.sources.doc_html import documents_as_transcripts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(64)
    extract_articles(documents_as_transcripts(docs).drop("doc_id")).count()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from fundus_spark.plans import build_session

    names = args.queries or HEADLINE
    qs = {**entrymod.queries(), **entrymod.extra_queries()}

    spark = build_session(app_name="bench-extra", cores=CPUS)
    sc = spark.sparkContext
    _warmup(spark, SF_DIR)

    results = {}
    for name in names:
        samples = []
        for rep in range(args.reps):
            tracker = sc.statusTracker()
            jobs_before = len(tracker.getJobIdsForGroup(None) or [])
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            t_build = time.time() - t0
            n = df.count()
            t_total = time.time() - t0
            jobs_after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            samples.append(
                {
                    "total": round(t_total, 3),
                    "build": round(t_build, 3),
                    "exec": round(t_total - t_build, 3),
                    "jobs": jobs_after - jobs_before,
                    "rows": n,
                }
            )
            sc.setJobDescription(None)
        results[name] = samples
        print(name, json.dumps(samples), flush=True)
    total_first = sum(s[0]["total"] for s in results.values())
    print(json.dumps({"value_first": round(total_first, 3), "n": len(results)}))
    spark.stop()


if __name__ == "__main__":
    main()
