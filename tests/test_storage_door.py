"""The storage door (`plans/lake.py`): every file the package reads or
commits outside Spark's own readers and writers goes through Hadoop's
``FileSystem`` at the URI given. A store, a curate workdir and a
streaming corpus at ``file://`` URIs therefore keep their manifests
beside their tables, whatever the Python working directory.
"""

from __future__ import annotations

import re
from pathlib import Path

from fundus_spark.plans import lake
from tests.test_frozen_store import _frozen_docs, _new_docs


def _workdirs(tmp_path, monkeypatch):
    """Two empty working directories; the process starts in the first."""
    cwds = [tmp_path / "cwd1", tmp_path / "cwd2"]
    for cwd in cwds:
        cwd.mkdir()
    monkeypatch.chdir(cwds[0])
    return cwds


def test_storage_has_one_door():
    """``plans/lake.py`` is the one module that opens a Hadoop file
    system, and the storage modules use no local-only file API."""
    import fundus_spark

    root = Path(fundus_spark.__file__).parent
    local_api = re.compile(r"os\.path|os\.makedirs|os\.replace|shutil|(?<![\w.])open\(")
    for path in sorted(root.rglob("*.py")) + [root.parent / "__spark_entry__.py"]:
        rel = path.relative_to(root.parent).as_posix()
        src = path.read_text()
        assert src.count("getFileSystem(") == (1 if rel == "fundus_spark/plans/lake.py" else 0), rel
        if rel.startswith(("fundus_spark/plans/", "fundus_spark/streaming/")):
            assert not local_api.search(src), (rel, local_api.search(src))


def test_lake_text_commit_replaces_in_place(spark, tmp_path):
    """``write_text`` replaces an existing file (and its checksum
    sidecar, so a later read verifies) and leaves no temp sibling;
    missing files and directories read as ``None`` and ``{}``."""
    uri = f"file://{tmp_path}/d/m.json"
    assert lake.read_text(spark, uri) is None
    assert lake.children(spark, f"file://{tmp_path}/d") == {}
    lake.write_text(spark, uri, "first, longer content\n")
    lake.write_text(spark, uri, "ünïcode\n")
    assert lake.read_text(spark, uri) == "ünïcode\n"
    assert sorted(p.name for p in (tmp_path / "d").iterdir()) == [".m.json.crc", "m.json"]
    assert lake.children(spark, str(tmp_path / "d")) == {"m.json": f"file:{tmp_path}/d/m.json"}
    lake.move(spark, uri, f"{tmp_path}/d/n.json")
    assert lake.exists(spark, f"{tmp_path}/d/n.json") and not lake.exists(spark, uri)
    lake.delete(spark, f"file://{tmp_path}/d")
    lake.delete(spark, f"file://{tmp_path}/d")
    assert not (tmp_path / "d").exists()


def test_frozen_store_at_file_uri_from_any_working_directory(spark, tmp_path, monkeypatch):
    """A store written from one working directory is read and appended
    from another: its manifest sits under the store path, and neither
    working directory gains a file."""
    from fundus_spark.plans import append_frozen_parts, read_frozen_state, write_frozen_state

    cwds = _workdirs(tmp_path, monkeypatch)
    store = f"file://{tmp_path}/store"
    write_frozen_state(_frozen_docs(spark), store, num_buckets=4)
    monkeypatch.chdir(cwds[1])
    assert read_frozen_state(spark, store)[2]["parts"] == ["frozen"]
    manifest = append_frozen_parts(spark, store, {"batch-1": _new_docs(spark)}, num_buckets=4)
    assert manifest["parts"] == ["batch-1", "frozen"]
    assert (tmp_path / "store" / "_STREAM_PARTS.json").is_file()
    assert read_frozen_state(spark, store)[2]["parts"] == ["batch-1", "frozen"]
    assert [list(cwd.iterdir()) for cwd in cwds] == [[], []]


def test_curate_job_at_file_uri_resumes_from_another_working_directory(spark, tmp_path, monkeypatch):
    """A curate job at a ``file://`` workdir, re-submitted from another
    working directory, resumes all four committed stages."""
    from fundus_spark.plans import run_curate_job

    cwds = _workdirs(tmp_path, monkeypatch)
    wd = f"file://{tmp_path}/wd"
    first = run_curate_job(spark, _frozen_docs(spark), wd, jaccard_threshold=0.2)
    assert first.stages_run == ["gated", "deduped", "survivors", "final"]
    monkeypatch.chdir(cwds[1])
    again = run_curate_job(spark, _frozen_docs(spark), wd, jaccard_threshold=0.2)
    assert again.stages_run == [] and again.stages_resumed == first.stages_run
    assert again.rows_out == first.rows_out
    assert (tmp_path / "wd" / "_curate_manifest.json").is_file()
    assert [list(cwd.iterdir()) for cwd in cwds] == [[], []]


def test_streaming_corpus_at_file_uri_from_any_working_directory(spark, tmp_path, monkeypatch):
    """Two streaming commits from two working directories into a
    ``file://`` corpus and store: the second probes the part the first
    absorbed, and both parts are in the store's manifest."""
    from fundus_spark.plans.frozen_store import _stream_parts
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus

    cwds = _workdirs(tmp_path, monkeypatch)
    corpus, store = f"file://{tmp_path}/corpus", f"file://{tmp_path}/store"
    new = _new_docs(spark)
    kw = dict(stream_id="s", frozen_store_path=store, jaccard_threshold=0.2)
    n0 = curate_batch_into_corpus(spark, new.where("doc_id < 200"), corpus, batch_id=0, **kw)
    monkeypatch.chdir(cwds[1])
    n1 = curate_batch_into_corpus(spark, new, corpus, batch_id=1, **kw)
    assert (n0, n1) == (4, 6)
    assert _stream_parts(spark, store)["parts"] == ["batch-s-0", "batch-s-1"]
    assert read_corpus(spark, corpus).count() == 10
    assert [list(cwd.iterdir()) for cwd in cwds] == [[], []]
