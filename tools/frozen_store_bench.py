"""One-off measurement: bucketed frozen-store probe vs plain parquet
in the BACKFILL regime (batch too large to broadcast, sort-merge
probe joins). The structural claim — the bucketed side joins with
zero frozen-side Exchange — is pinned by tests/test_frozen_store.py;
this records the wall/CPU effect AND the measured shuffle volume
(bytes + records, from the Spark status REST API) at a bench-scale
corpus for BASELINE.md, so the O(corpus) -> O(batch) shuffled-volume
claim has a number, not only a plan diff.

Usage: python tools/frozen_store_bench.py [frozen_factor] [batch_factor]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fundus_spark.operators.adaptive import materialize  # noqa: E402
from fundus_spark.operators.dedup import _same_bucket, band_relation, incremental_assign  # noqa: E402
from fundus_spark.plans import build_session, read_frozen_state, write_frozen_state  # noqa: E402
from tools.scale_corpus import materialize_scaled_corpus  # noqa: E402


_UI_PORT = 4057


def _shuffle_totals() -> dict:
    """Cumulative shuffle read/write across all completed stages, from
    the status REST API (localhost UI — enabled just for this tool;
    the engine keeps it off). Deltas around a probe give that probe's
    shuffled volume."""
    import urllib.request

    base = f"http://127.0.0.1:{_UI_PORT}/api/v1"
    with urllib.request.urlopen(f"{base}/applications", timeout=10) as r:
        app_id = json.load(r)[0]["id"]
    with urllib.request.urlopen(f"{base}/applications/{app_id}/stages?status=complete", timeout=10) as r:
        stages = json.load(r)
    tot = {"read_bytes": 0, "read_records": 0, "write_bytes": 0, "write_records": 0}
    for st in stages:
        tot["read_bytes"] += st.get("shuffleReadBytes", 0)
        tot["read_records"] += st.get("shuffleReadRecords", 0)
        tot["write_bytes"] += st.get("shuffleWriteBytes", 0)
        tot["write_records"] += st.get("shuffleWriteRecords", 0)
    return tot


def _cpu_seconds() -> float:
    # driver process + children (the local-mode JVM runs in-process
    # workers; python workers are children) — wall is noisy on this
    # shared host, CPU is the comparable number
    self_u = resource.getrusage(resource.RUSAGE_SELF)
    kids = resource.getrusage(resource.RUSAGE_CHILDREN)
    return self_u.ru_utime + self_u.ru_stime + kids.ru_utime + kids.ru_stime


def main() -> None:
    frozen_factor = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    batch_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name="frozen-store-bench",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(_UI_PORT)},
    )
    for k in ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold"):
        spark.conf.set(k, "-1")

    tmp_root = os.environ.get("TMPDIR", "/tmp")
    frozen_dir = os.path.join(tmp_root, f"fundus_spark_scale_x{frozen_factor}_frozen")
    batch_dir = os.path.join(tmp_root, f"fundus_spark_scale_x{batch_factor}_frozen")
    materialize_scaled_corpus(spark, sf_dir, frozen_dir, frozen_factor, tables=("documents",))
    materialize_scaled_corpus(spark, sf_dir, batch_dir, batch_factor, tables=("documents",))
    frozen = spark.read.parquet(os.path.join(frozen_dir, "documents.parquet"))
    # shift batch ids above the frozen id space (monotone-id contract)
    batch = spark.read.parquet(os.path.join(batch_dir, "documents.parquet")).selectExpr(
        "doc_id + 1000000000000 as doc_id", "source", "text"
    )
    n_frozen, n_batch = frozen.count(), batch.count()

    tmp = tempfile.mkdtemp(prefix="frozen_store_bench_")
    store = os.path.join(tmp, "store")
    t0 = time.monotonic()
    write_frozen_state(frozen, store, num_buckets=32)
    freeze_s = time.monotonic() - t0
    _, bands_bucketed, _ = read_frozen_state(spark, store)
    plain_path = os.path.join(tmp, "plain_bands")
    bands_bucketed.write.mode("overwrite").parquet(plain_path)
    bands_plain = spark.read.parquet(plain_path)

    def probe(frozen_bands):
        # broadcast_max_rows=0 forces the BACKFILL regime this tool
        # exists to measure: a sandbox-scale frozen state always fits
        # the 10M-row broadcast guard, so without this both arms
        # explicitly broadcast the band relation and the sort-merge
        # shuffle difference never engages (round-7 finding: identical
        # shuffle volume measured either side until forced).
        out = incremental_assign(
            batch, frozen, frozen_bands=frozen_bands, broadcast_max_rows=0
        )
        return out.count()

    # isolated band-probe join — the join the zero-frozen-side-Exchange
    # claim is about, measured alone so the operator's identical
    # phase-2 work (new-new dedup, verify joins) doesn't drown the
    # frozen-side shuffle difference in the totals
    nb = materialize(band_relation(batch))[0]

    def probe_join_only(frozen_bands):
        return _same_bucket(nb, frozen_bands).distinct().count()

    join_results = {"bucketed": [], "plain": []}
    jrows = {}
    for _ in range(3):
        for name, rel in (("bucketed", bands_bucketed), ("plain", bands_plain)):
            w0, s0 = time.monotonic(), _shuffle_totals()
            jrows[name] = probe_join_only(rel)
            s1 = _shuffle_totals()
            join_results[name].append(
                {
                    "wall": time.monotonic() - w0,
                    "shuffle_write_bytes": s1["write_bytes"] - s0["write_bytes"],
                    "shuffle_write_records": s1["write_records"] - s0["write_records"],
                }
            )
    assert jrows["bucketed"] == jrows["plain"]

    results = {"bucketed": [], "plain": []}
    rows = {}
    for _ in range(3):  # interleave reps so host drift hits both arms
        for name, rel in (("bucketed", bands_bucketed), ("plain", bands_plain)):
            w0, c0, s0 = time.monotonic(), _cpu_seconds(), _shuffle_totals()
            rows[name] = probe(rel)
            s1 = _shuffle_totals()
            results[name].append(
                {
                    "wall": time.monotonic() - w0,
                    "cpu": _cpu_seconds() - c0,
                    "shuffle_write_bytes": s1["write_bytes"] - s0["write_bytes"],
                    "shuffle_write_records": s1["write_records"] - s0["write_records"],
                    "shuffle_read_bytes": s1["read_bytes"] - s0["read_bytes"],
                    "shuffle_read_records": s1["read_records"] - s0["read_records"],
                }
            )
    assert rows["bucketed"] == rows["plain"]

    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    summary = {
        "n_frozen": n_frozen,
        "n_batch": n_batch,
        "freeze_write_s": round(freeze_s, 2),
        "probe_rows": rows["bucketed"],
        "bucketed_wall_s": round(med([r["wall"] for r in results["bucketed"]]), 2),
        "plain_wall_s": round(med([r["wall"] for r in results["plain"]]), 2),
        "bucketed_cpu_s": round(med([r["cpu"] for r in results["bucketed"]]), 2),
        "plain_cpu_s": round(med([r["cpu"] for r in results["plain"]]), 2),
        "bucketed_shuffle_write_mb": round(med([r["shuffle_write_bytes"] for r in results["bucketed"]]) / 1e6, 1),
        "plain_shuffle_write_mb": round(med([r["shuffle_write_bytes"] for r in results["plain"]]) / 1e6, 1),
        "bucketed_shuffle_write_records": med([r["shuffle_write_records"] for r in results["bucketed"]]),
        "plain_shuffle_write_records": med([r["shuffle_write_records"] for r in results["plain"]]),
        "probe_join_rows": jrows["bucketed"],
        "join_bucketed_shuffle_write_mb": round(med([r["shuffle_write_bytes"] for r in join_results["bucketed"]]) / 1e6, 2),
        "join_plain_shuffle_write_mb": round(med([r["shuffle_write_bytes"] for r in join_results["plain"]]) / 1e6, 2),
        "join_bucketed_shuffle_write_records": med([r["shuffle_write_records"] for r in join_results["bucketed"]]),
        "join_plain_shuffle_write_records": med([r["shuffle_write_records"] for r in join_results["plain"]]),
        "join_bucketed_wall_s": round(med([r["wall"] for r in join_results["bucketed"]]), 2),
        "join_plain_wall_s": round(med([r["wall"] for r in join_results["plain"]]), 2),
        "join_reps": join_results,
        "reps": results,
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
