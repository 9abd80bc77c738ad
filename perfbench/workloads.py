"""The three closed-loop workloads. Each exposes ``warm_up()`` (the
untimed part of set-up), ``step()`` — run the next unit (one pass for
``extract`` and ``curate``, one batch for ``append``) and return its
:class:`Unit` — and ``check(*others)``, the correctness verdict over
everything it and ``others`` (other runs of the same inputs) committed,
run after timing ends.
"""

from __future__ import annotations

import importlib.util
import time
import zlib
from contextlib import ExitStack
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List

import pyarrow.dataset as pads

CURATE_COLS = ("doc_id", "source", "split", "n_tokens", "pack_offset", "pack_bin")
#: ``_q_curate``'s parameters; ``src0`` is the held-out benchmark.
CURATE_KWARGS = dict(min_chars=20, max_dup_gram_frac=0.9, jaccard_threshold=0.01,
                     contamination_k=8, pack_budget=4096)
N_BUCKETS = 8


@dataclass
class Unit:
    rows: int
    wall_s: float
    start: float
    end: float
    failed: int = 0  # failed operations inside the unit
    attempted: int = 1
    marks: Dict[str, float] = field(default_factory=dict)  # layer timings


def _dir_stats(path: Path):
    files = [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return len(files), sum(p.stat().st_size for p in files) / 1e6


def _row_hashes(rows) -> tuple:
    """Order-independent (count, sum crc32, sum salted crc32)."""
    a = b = 0
    n = 0
    for row in rows:
        s = "|".join(str(v) for v in row)
        a += zlib.crc32(s.encode())
        b += zlib.crc32(("#" + s).encode())
        n += 1
    return n, a, b


def spark_row_hashes(df) -> tuple:
    """The same triple computed by one Spark aggregation over ``df``."""
    from pyspark.sql import functions as F

    s = F.concat_ws("|", *[F.col(c).cast("string") for c in df.columns])
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(s.cast("binary"))).alias("a"),
        F.sum(F.crc32(F.concat(F.lit("#"), s).cast("binary"))).alias("b"),
    ).collect()[0]
    return int(r["n"]), int(r["a"] or 0), int(r["b"] or 0)


class Extract:
    """``plans.run_extraction_job`` over the seeded transcripts; every
    pass writes to fresh output, metrics and manifest directories."""

    units_per_pass = min_units = 1

    def __init__(self, spark, inputs: dict, work: Path, sites=None):
        self.spark, self.inputs, self.work, self.sites = spark, inputs, work, sites
        self.n_rows = inputs["props"]["turns"]
        self.results: List[tuple] = []

    def _job(self, transcripts, out: Path, run_id: str):
        from fundus_spark.plans import run_extraction_job

        return run_extraction_job(
            self.spark, transcripts,
            str(out / "output"), str(out / "metrics"), str(out / "manifest"),
            run_id=run_id, n_buckets=N_BUCKETS,
        )

    def warm_up(self) -> None:
        """Python worker spawn, kernel import and the job's code paths:
        one job over a few turns."""
        self._job(self.spark.read.parquet(self.inputs["warm"]), self.work / "extract-warm", "warm")
        self.transcripts = self.spark.read.parquet(self.inputs["transcripts"])

    def step(self) -> Unit:
        i = len(self.results)
        out = self.work / f"extract-{i}"
        t0 = time.time()
        res = self._job(self.transcripts, out, f"pass{i}")
        t1 = time.time()
        self.results.append((out, res))
        return Unit(rows=self.n_rows, wall_s=t1 - t0, start=t0, end=t1,
                    failed=int(res.parse_failures), attempted=int(res.input_turns))

    def check(self, *others: "Extract") -> List[str]:
        expected = pads.dataset(self.inputs["expected"]).to_table().to_pylist()
        want = {(r["conv_id"], r["turn_idx"]): r["title"] for r in expected}
        problems = []
        for out, res in [r for wl in (self, *others) for r in wl.results]:
            if not (res.input_turns == res.output_turns == len(want)):
                problems.append(f"{out.name}: {res.input_turns} in, {res.output_turns} out, {len(want)} generated")
            got = pads.dataset(str(out / "output"), format="parquet", partitioning="hive").to_table(
                columns=["conv_id", "turn_idx", "title", "parse_ok"]
            ).to_pylist()
            if len(got) != len(want):
                problems.append(f"{out.name}: {len(got)} rows written, {len(want)} generated")
            bad_ok = sum(1 for r in got if r["parse_ok"] is not True)
            if bad_ok:
                problems.append(f"{out.name}: {bad_ok} rows without parse_ok")
            wrong = sum(1 for r in got if want.get((r["conv_id"], r["turn_idx"])) != r["title"])
            if wrong:
                problems.append(f"{out.name}: {wrong} titles differ from the generated ones")
        return problems

    def output_stats(self, i: int):
        return _dir_stats(self.results[i][0] / "output")

    def lsh_input(self):
        return None


def _entry_module():
    path = Path.cwd() / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def curate_oracle(documents: str) -> tuple:
    """Row count and order-independent hash of ``_curate_sql`` run in
    DuckDB on the generated documents (computed once, untimed)."""
    import duckdb

    sql = _entry_module()._curate_sql()
    # DuckDB inlines CTEs into the recursive step, re-running the LSH
    # verify per iteration; materializing them leaves the result as is
    for cte in ("ded", "pairs", "edges"):
        sql = sql.replace(f"\n{cte} AS (", f"\n{cte} AS MATERIALIZED (", 1)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}')")
        cur = con.execute(f"SELECT {', '.join(CURATE_COLS)} FROM ({sql})")
        return _row_hashes(cur.fetchall())
    finally:
        con.close()


class Curate:
    """``plans.curate_corpus`` in the ``_q_curate`` shape over the seeded
    corpus, then one action over the full output."""

    units_per_pass = min_units = 1

    def __init__(self, spark, inputs: dict, work: Path, sites=None):
        self.spark, self.inputs, self.work, self.sites = spark, inputs, work, sites
        self.n_rows = inputs["props"]["docs"]
        self.hashes: List[tuple] = []

    def _curate(self, docs):
        """(start, end of the ``curate_corpus`` call, end of the action,
        (rows, hash, hash2))."""
        from pyspark.sql import functions as F

        from fundus_spark.plans import curate_corpus

        t0 = time.time()
        out = curate_corpus(
            docs.where(F.col("source") != "src0"),
            benchmark=docs.where(F.col("source") == "src0"),
            **CURATE_KWARGS,
        ).select(*CURATE_COLS)
        t1 = time.time()
        if self.sites is not None:
            import fundus_spark.plans.curate as layer

            with self.sites.label(f"curate_corpus at {layer.__file__}:0"):
                h = spark_row_hashes(out)
        else:
            h = spark_row_hashes(out)
        return t0, t1, time.time(), h

    def warm_up(self) -> None:
        """The chain's code paths: one pass over a small corpus."""
        self._curate(self.spark.read.parquet(self.inputs["warm"]))
        self.documents = self.spark.read.parquet(self.inputs["documents"])

    def step(self) -> Unit:
        t0, t1, t2, h = self._curate(self.documents)
        self.hashes.append(h)
        return Unit(rows=self.n_rows, wall_s=t2 - t0, start=t0, end=t2,
                    marks={"build_start": t0, "build_end": t1})

    def lsh_input(self):
        from pyspark.sql import functions as F

        return self.documents.where(F.col("source") != "src0")

    def check(self, *others: "Curate") -> List[str]:
        oracle = curate_oracle(self.inputs["documents"])
        hashes = [h for wl in (self, *others) for h in wl.hashes]
        return [f"pass {i}: (rows, hash, hash2) {h} != DuckDB {oracle}"
                for i, h in enumerate(hashes) if h != oracle]


class Append:
    """``streaming.curate_stream.curate_batch_into_corpus`` with
    ``batch_id`` and ``frozen_store_path``: K seeded batches into an
    empty corpus per pass; the next pass starts a fresh corpus."""

    min_units = 4  # two batches in each half of the pass

    def __init__(self, spark, inputs: dict, work: Path, sites=None):
        self.spark, self.inputs, self.work, self.sites = spark, inputs, work, sites
        self.n_rows = inputs["props"]["batch_size"]
        self.k = self.units_per_pass = len(inputs["batches"])
        self.done = 0  # batches committed over all passes
        self.committed: List[List[int]] = []  # rows returned, per pass
        self.written = (0, 0.0)

    def warm_up(self) -> None:
        """The batch's code paths: one small batch into a throwaway
        corpus, so the timed batches all run in a warm JVM."""
        from fundus_spark.streaming.curate_stream import curate_batch_into_corpus

        self.benchmark = self.spark.read.parquet(self.inputs["benchmark"])
        warm = self.work / "append-warm"
        curate_batch_into_corpus(
            self.spark, self.spark.read.parquet(self.inputs["warm"]), str(warm / "corpus"),
            benchmark=self.benchmark, batch_id=0, stream_id="warm", frozen_store_path=str(warm / "store"),
        )
        self.batches = [self.spark.read.parquet(b) for b in self.inputs["batches"]]

    def _paths(self, p: int):
        return self.work / f"append-{p}" / "corpus", self.work / f"append-{p}" / "store"

    def step(self) -> Unit:
        from fundus_spark.streaming.curate_stream import curate_batch_into_corpus

        p, b = divmod(self.done, self.k)
        if b == 0:
            self.committed.append([])
        corpus, store = self._paths(p)
        spans: list = []
        t0 = time.time()
        with ExitStack() as stack:
            if self.sites is not None:  # time the plans.curate call inside the batch
                import fundus_spark.streaming.curate_stream as layer
                from sparktrace import timed_calls

                stack.enter_context(timed_calls(layer, "curate_increment", spans))
            n = curate_batch_into_corpus(
                self.spark, self.batches[b], str(corpus),
                benchmark=self.benchmark, batch_id=b, stream_id="bench", frozen_store_path=str(store),
            )
        t1 = time.time()
        self.committed[p].append(n)
        self.done += 1
        marks = {"batch": b, "pass": p}
        if self.sites is not None:  # bytes this batch added to corpus + store
            marks["build_start"], marks["build_end"] = spans[0]
            files, mb = _dir_stats(corpus.parent)
            marks["files"], marks["mb"] = files - self.written[0], mb - self.written[1]
            self.written = (files, mb) if b + 1 < self.k else (0, 0.0)
        return Unit(rows=self.n_rows, wall_s=t1 - t0, start=t0, end=t1, marks=marks)

    def lsh_input(self):
        from functools import reduce

        return reduce(lambda a, b: a.unionByName(b), self.batches)

    def batch_dir(self, p: int, b: int) -> Path:
        return self._paths(p)[0] / f"batch-bench-{b}"

    def check(self, *others: "Append") -> List[str]:
        problems = []
        first: Dict[int, list] = {}
        passes = [(wl, p) for wl in (self, *others) for p in range(len(wl.committed))]
        for n_pass, (wl, p) in enumerate(passes):
            seen: set = set()
            for b, n in enumerate(wl.committed[p]):
                d = wl.batch_dir(p, b)
                ids = pads.dataset(str(d), format="parquet").to_table(columns=["doc_id"]).column(
                    "doc_id").to_pylist() if d.exists() else []
                if len(ids) != n:
                    problems.append(f"pass {n_pass} batch {b}: returned {n} rows, committed {len(ids)}")
                if seen.intersection(ids) or len(set(ids)) != len(ids):
                    problems.append(f"pass {n_pass} batch {b}: a doc_id is committed twice")
                seen.update(ids)
                ids = sorted(ids)
                if b in first and first[b] != ids:
                    problems.append(f"pass {n_pass} batch {b}: committed doc set differs from pass 0")
                first.setdefault(b, ids)
        return problems


WORKLOADS = {"extract": Extract, "curate": Curate, "append": Append}
