"""Tests of the benchmark itself (no Spark session needed):

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import sparktrace  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("extract", "curate", "append")


def _digests(root: Path) -> dict:
    return {p.relative_to(root).as_posix(): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*.parquet"))}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = gen.write_inputs(workload, 7, tmp_path / "a")
    b = gen.write_inputs(workload, 7, tmp_path / "b")
    c = gen.write_inputs(workload, 8, tmp_path / "c")
    da, db, dc = _digests(tmp_path / "a"), _digests(tmp_path / "b"), _digests(tmp_path / "c")
    assert da and da == db
    assert a["props"] == b["props"]
    assert set(da) == set(dc)
    assert all(da[name] != dc[name] for name in da)


def test_generator_properties_are_recorded():
    _, _, props = gen.transcripts(3)
    assert props["skew_exponent"] == gen.ExtractShape().skew
    assert 0.1 < props["rich_share"] < 0.2 and props["html_bytes_per_turn"] > 500
    _, props = gen.corpus(3)
    assert 0.05 < props["exact_dup_share"] < 0.15 and 0.05 < props["near_dup_share"] < 0.15
    _, _, props = gen.append_batches(3)
    assert props["batches"] == gen.AppendShape().n_batches
    assert props["batch_size"] == gen.AppendShape().batch_size


def test_every_printed_metric_is_declared_with_its_unit():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS) == set(workloads.WORKLOADS)


def test_no_checkout_exits_nonzero_without_a_result(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "extract", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""


# --- the correctness checks reject corrupted outputs -----------------------


class _Res:
    def __init__(self, n):
        self.input_turns = self.output_turns = n
        self.parse_failures = 0


def _extract_pass(tmp_path, drop: int):
    inputs = gen.write_inputs("extract", 5, tmp_path / "inputs")
    expected = pq.read_table(inputs["expected"])
    rows = expected.to_pylist()[drop:]
    out = tmp_path / "extract-0"
    table = pa.table({
        "conv_id": [r["conv_id"] for r in rows],
        "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
        "title": [r["title"] for r in rows],
        "parse_ok": [True] * len(rows),
    })
    gen.write_table(table, out / "output" / "bucket=0" / "part-0.parquet")
    wl = workloads.Extract(None, inputs, tmp_path)
    wl.results.append((out, _Res(len(rows))))
    return wl


def test_extract_check_passes_intact_output(tmp_path):
    assert _extract_pass(tmp_path, drop=0).check() == []


def test_extract_check_fails_on_a_dropped_row(tmp_path):
    assert _extract_pass(tmp_path, drop=1).check()


def test_curate_check_against_duckdb(tmp_path):
    inputs = gen.write_inputs("curate", 5, tmp_path)
    wl = workloads.Curate(None, inputs, tmp_path)
    oracle = workloads.curate_oracle(inputs["documents"])
    assert oracle[0] > 0
    wl.hashes = [oracle]
    assert wl.check() == []
    import duckdb

    sql = workloads._entry_module()._curate_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{inputs['documents']}')")
    rows = con.execute(f"SELECT {', '.join(workloads.CURATE_COLS)} FROM ({sql}) LIMIT 1").fetchall()
    con.close()
    n, a, b = oracle
    one = workloads._row_hashes(rows)
    wl.hashes = [(n - 1, a - one[1], b - one[2])]  # the same output minus one row
    assert wl.check()


def _append_pass(tmp_path, ids_per_batch):
    inputs = gen.write_inputs("append", 5, tmp_path / "inputs")
    wl = workloads.Append(None, inputs, tmp_path)
    wl.committed = [[len(ids) for ids in ids_per_batch]]
    for b, ids in enumerate(ids_per_batch):
        table = pa.table({"doc_id": pa.array(ids, pa.int64())})
        gen.write_table(table, wl.batch_dir(0, b) / "part-0.parquet")
    return wl


def test_append_check_passes_distinct_ids(tmp_path):
    assert _append_pass(tmp_path, [[1, 2, 3], [4, 5]]).check() == []


def test_append_check_fails_on_a_doc_committed_twice(tmp_path):
    assert _append_pass(tmp_path, [[1, 2, 3], [3, 5]]).check()


# --- event-log accounting ---------------------------------------------------


def test_event_log_jobs_stages_and_sites(tmp_path):
    site = "count at /x/fundus_spark/plans/curate.py:94"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Stage Infos": [{"Stage Name": "count at X.java:1"}], "Properties": {"callSite.short": site}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 30, "Executor CPU Time": 2e7, "JVM GC Time": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "RDD Info": []}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1300, "Stage IDs": [2],
         "Stage Infos": [], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    log = sparktrace.read_event_log(str(tmp_path))
    assert [j.job_id for j in log.jobs] == [0, 1]
    assert sparktrace.site_module(log.jobs[0].site) == "plans.curate"
    assert sparktrace.site_module(log.jobs[1].site) is None
    assert sparktrace.busy_ms(log.jobs) == 600  # [1000, 1600], overlapping
    tot = sparktrace.stage_totals(log, log.jobs)
    assert (tot.tasks, tot.task_ms, tot.shuffle_read_b) == (1, 30, 5)
    assert sparktrace.run_stage_count(log, log.jobs) == 1  # stage 0 was skipped


def test_late_vs_early_uses_batch_position():
    def unit(b, wall):
        return workloads.Unit(rows=1, wall_s=wall, start=0, end=wall, marks={"batch": b})

    units = [unit(0, 10), unit(1, 12), unit(2, 15), unit(3, 15), unit(0, 10)]
    assert layers.late_vs_early(units) == pytest.approx(15 / 10)
    units = [unit(0, 10), unit(1, 99), unit(2, 20)]  # the middle batch is in neither half
    assert layers.late_vs_early(units) == pytest.approx(20 / 10)
