"""The package's one door to the lake's file system.

Spark's own readers and writers reach storage through Hadoop's
``FileSystem`` by URI. This module is the only place the package does
the same for the files it reads and commits itself: the frozen store's
part manifest (:mod:`plans.frozen_store`), the curate job's stage
manifest (:mod:`plans.curate_job`), the extraction job's manifest check
(:mod:`plans.lineage`), and the streaming stream-id marker, corpus
listing and batch-directory commit (:mod:`streaming.curate_stream`).

Every argument is a path or URI resolved as Spark resolves it
(``/abs``, ``file:///abs``, ``hdfs://…``, ``s3a://…``; a relative path
against the JVM's working directory), so a manifest lands beside the
tables it describes whatever the Python process's working directory.

:func:`write_text` is the one small-file commit: it writes a temp
sibling, then renames it over the target with
``FileContext.rename(…, OVERWRITE)``. On HDFS and the local FS that
rename replaces the file atomically, as a POSIX rename does (the local
FS carries the ``.crc`` sidecar with it): a reader sees the old content
or the new, never a torn file. On an object store the rename is the
connector's copy-then-delete and the catalog is the commit point.
"""

from __future__ import annotations

import uuid
from typing import Dict, Optional

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, uri: str):
    """``(FileSystem, qualified Path)`` of ``uri``."""
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(path)


def qualify(spark: SparkSession, uri: str) -> str:
    """``uri`` fully qualified (scheme, authority, absolute path)."""
    return _fs(spark, uri)[1].toString()


def exists(spark: SparkSession, uri: str) -> bool:
    fs, path = _fs(spark, uri)
    return fs.exists(path)


def children(spark: SparkSession, uri: str) -> Dict[str, str]:
    """The directory's visible members as ``{name: uri}`` (names
    starting with ``_`` or ``.`` are markers, staging and sidecars);
    ``{}`` when the directory is missing."""
    fs, path = _fs(spark, uri)
    if not fs.exists(path):
        return {}
    members = spark._jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(fs.listStatus(path))
    named = ((member.getName(), member) for member in members)
    return {name: member.toString() for name, member in named if not name.startswith(("_", "."))}


def read_text(spark: SparkSession, uri: str) -> Optional[str]:
    """The whole file as UTF-8 text, or ``None`` when it is missing."""
    fs, path = _fs(spark, uri)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(spark: SparkSession, uri: str, text: str) -> None:
    """Replace the file's content with ``text`` in one rename."""
    jvm = spark._jvm
    fs, path = _fs(spark, uri)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path.toString()}.tmp-{uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    overwrite = spark.sparkContext._gateway.new_array(rename, 1)
    overwrite[0] = rename.OVERWRITE
    context = jvm.org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri(), fs.getConf())
    context.rename(tmp, path, overwrite)


def move(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``; raises ``IOError`` when the file
    system refuses."""
    fs, source = _fs(spark, src)
    if not fs.rename(source, _fs(spark, dst)[1]):
        raise IOError(f"rename {src} -> {dst} refused")


def delete(spark: SparkSession, uri: str) -> None:
    """Remove ``uri`` recursively; a missing path is a no-op."""
    fs, path = _fs(spark, uri)
    fs.delete(path, True)
