"""The Python-worker door: every row-wise Python stage is a generator
run by ``operators/adaptive.py::map_rows`` on the Arrow boundary.

Pinned here: the door is the one ``mapInArrow(`` in the package (no
``mapInPandas(`` row loops, no hand-written Arrow schemas), its row
contract (any number of output rows per input row, exact across an
output-batch cut, ``None`` as NULL, empty in -> empty out), its batch
bound, and that a stage's bad argument fails when the plan is built.
"""

from __future__ import annotations

from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "fundus_spark"


def _sources():
    return {p.relative_to(PACKAGE).as_posix(): p.read_text(encoding="utf-8") for p in PACKAGE.rglob("*.py")}


def test_python_stage_door_has_one_home():
    sources = _sources()
    homes = {name: src.count("mapInArrow(") for name, src in sources.items() if "mapInArrow(" in src}
    assert homes == {"operators/adaptive.py": 1}, homes
    for token in ("mapInPandas(", "pa.schema(", "pa.field("):
        stray = sorted(name for name, src in sources.items() if token in src)
        assert stray == [], (token, stray)


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield 2
    spark.conf.set(key, saved)


def _fanout(rows):
    """0, 1 or 3 output rows per input row, by ``i % 3``; the array
    and the second int are NULL on every other output row."""
    for i, tags in rows:
        for k in range((0, 1, 3)[i % 3]):
            yield i, k if k % 2 == 0 else None, tags if k % 2 == 0 else None


def test_map_rows_contract(spark, small_batches):
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StringType, StructField, StructType

    from fundus_spark.operators.adaptive import map_rows

    schema = StructType(
        [
            StructField("i", LongType()),
            StructField("k", IntegerType()),
            StructField("tags", ArrayType(StringType())),
        ]
    )
    rows = [(i, ["t%d" % i] if i % 4 else None) for i in range(9)]
    src = spark.createDataFrame(rows, "i long, tags array<string>").coalesce(1)
    got = sorted((tuple(r) for r in map_rows(src, _fanout, schema).collect()), key=repr)
    want = sorted(_fanout(iter(rows)), key=repr)
    # 0 + 1 + 3 rows per three inputs: more output rows than one batch holds
    assert len(want) == 12 > small_batches
    assert got == want
    assert (2, None, None) in got and (4, 0, None) in got

    empty = map_rows(src.where("i < 0"), _fanout, schema)
    assert empty.collect() == []


def test_map_rows_cuts_batches_at_the_session_bound(spark, small_batches, monkeypatch):
    """The door's Arrow body, run on the driver over one 5-row input
    batch of a 1:3 stage: 15 rows leave in batches of at most the
    session's bound, in order, typed from the Spark schema."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from fundus_spark.operators.adaptive import map_rows

    df = spark.range(1)
    captured = {}
    monkeypatch.setattr(type(df), "mapInArrow", lambda self, fn, schema: captured.setdefault("fn", fn))

    def triple(rows):
        for (i,) in rows:
            yield from ((i, j) for j in range(3))

    map_rows(df, triple, StructType([StructField("i", LongType()), StructField("j", IntegerType())]))
    batch = pa.RecordBatch.from_pydict({"i": pa.array(range(5), pa.int64())})
    out = list(captured["fn"](iter([batch])))
    assert [b.num_rows for b in out] == [2] * 7 + [1]
    assert [(i, j) for b in out for i, j in zip(*(c.to_pylist() for c in b.columns))] == [
        (i, j) for i in range(5) for j in range(3)
    ]
    assert out[0].schema.field("j").type == pa.int32()


def test_media_frame_sample_rejects_a_nonpositive_step_at_plan_time(spark):
    """A step of 0 (or less) never advances the schedule past the
    duration, so a worker would grow its output without bound. The
    plan build raises instead, and runs no job."""
    from fundus_spark.operators.multimodal import media_frame_sample

    media = spark.createDataFrame(
        [(1, "audio", bytearray(b"RIFF"), "audio/wav")],
        "media_id long, kind string, payload binary, mime string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("frame_sample_step", "frame_sample_step")
    try:
        for step in (0, -40):
            with pytest.raises(ValueError, match="every_ms"):
                media_frame_sample(media, every_ms=step)
    finally:
        sc.setJobGroup("default", "")
    assert list(sc.statusTracker().getJobIdsForGroup("frame_sample_step")) == []


def test_forget_zip_importers_drops_only_zip_entries(tmp_path):
    """The helper the door runs after a task's rows: no ``zipimporter``
    stays cached, a module from the zip still imports, and every other
    cached finder is the same object as before."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from fundus_spark.operators.adaptive import _forget_zip_importers

    archive = tmp_path / "zipped_mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipdoor_pkg/__init__.py", "")
        zf.writestr("zipdoor_pkg/first.py", "VALUE = 1\n")
        zf.writestr("zipdoor_pkg/second.py", "VALUE = 2\n")
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("zipdoor_pkg.first").VALUE == 1
        cache = sys.path_importer_cache
        assert any(isinstance(f, zipimport.zipimporter) for f in cache.values())
        others = {p: f for p, f in cache.items() if not isinstance(f, zipimport.zipimporter)}
        _forget_zip_importers()
        assert not any(isinstance(f, zipimport.zipimporter) for f in cache.values())
        assert {p: f for p, f in cache.items() if p in others} == others
        assert importlib.import_module("zipdoor_pkg.second").VALUE == 2
        del sys.modules["zipdoor_pkg.first"]
        assert importlib.import_module("zipdoor_pkg.first").VALUE == 1
    finally:
        sys.path.remove(str(archive))
        for name in [m for m in sys.modules if m.startswith("zipdoor_pkg")]:
            del sys.modules[name]
        _forget_zip_importers()


_ZIP_CACHE_JOB = """
import json, os, sys, zipimport
from pyspark.sql.types import IntegerType, LongType, StructField, StructType
from fundus_spark.operators.adaptive import map_rows
from fundus_spark.plans import build_session

def cached_zip_importers(rows):
    n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for (i,) in rows:
        yield i, n, os.getpid()

spark = build_session(app_name="zip-cache", cores=1, shuffle_partitions=1)
schema = StructType([StructField("i", LongType()), StructField("n", IntegerType()), StructField("pid", LongType())])
rows = map_rows(spark.range(0, 3, 1, 3), cached_zip_importers, schema).collect()
print(json.dumps(sorted(tuple(r) for r in rows)))
spark.stop()
"""


def test_reused_worker_starts_each_task_without_zip_importers(tmp_path):
    """A ``local[1]`` session runs a three-partition ``map_rows`` job on
    one reused Python worker. Each task records how many zipimporters
    are cached when its rows start: the second and third task see none,
    because the door dropped them when the task before ran out of rows,
    so the worker's ``importlib.invalidate_caches()`` re-read no archive.
    The check is vacuous where the workers do not import pyspark from a
    zip (``$SPARK_HOME/python/lib/pyspark.zip``)."""
    import json
    import os
    import subprocess
    import sys

    repo = str(PACKAGE.parent)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_CACHE_JOB], env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert [i for i, _, _ in rows] == [0, 1, 2]
    assert len({pid for _, _, pid in rows}) == 1  # one reused worker
    assert [n for _, n, _ in rows][1:] == [0, 0]
