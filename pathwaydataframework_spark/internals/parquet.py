"""The package's one parquet loader, and the file version that decides when
a snapshot of an input is stale.

``spark.read.parquet`` re-lists its path and runs one Spark job to infer
the schema on every call, and a caller's casts are analyzed again each
time.  ``read_parquet`` builds a path's frame once and hands back that same
resolved frame while the path's version holds, the way a static read in
the reference is one snapshot of its input.  The version is:

- the (path, mtime, size) of every file at or under the path, read through
  the Hadoop ``FileSystem`` (``file_version``), so remote URIs work;
- the session confs that change what schema parquet inference gives;
- the ``finish`` step applied to the raw frame.

One frame is kept per (session, path); a changed version replaces it, and a
frame is never handed to another session.  A hit stats the files and
starts no Spark job.  A rewrite that keeps both the size and the
millisecond mtime of every file is not seen (DEVIATIONS.md #12).
"""

from __future__ import annotations

import threading
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

# the session confs that change the schema parquet inference gives
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

_lock = threading.Lock()
_frames: dict[tuple[SparkSession, str], tuple[tuple, DataFrame]] = {}
# org.apache.hadoop.fs.Path per JVM gateway: py4j resolves a class name
# with one reflection round trip per package segment
_path_classes: dict[object, object] = {}


def file_version(spark: SparkSession, names: Iterable[str]) -> tuple:
    """The sorted (path, mtime, size) of every file at or under each of
    ``names`` (a file, a directory or a glob), read through the Hadoop
    ``FileSystem`` of each name.  A file added, removed or rewritten since
    the last call changes the version; a name that matches nothing adds
    nothing."""
    gateway = spark.sparkContext._gateway
    path_of = _path_classes.get(gateway)
    if path_of is None:
        path_of = _path_classes[gateway] = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    files = []
    for name in names:
        pattern = path_of(name)
        fs = pattern.getFileSystem(conf)
        # listStatus, not listFiles: a located listing costs ~10x a stat
        statuses = list(fs.globStatus(pattern) or ())
        while statuses:
            status = statuses.pop()
            if status.isDirectory():
                statuses.extend(fs.listStatus(status.getPath()))
            else:
                files.append(
                    (status.getPath().toString(), status.getModificationTime(), status.getLen())
                )
    return tuple(sorted(files))


def read_parquet(
    spark: SparkSession,
    path: str,
    finish: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """``spark.read.parquet(path)``, passed through ``finish`` when given,
    built once per version of the path and session (module docstring)."""
    key = (spark, path)
    version = (
        file_version(spark, [path]),
        tuple(spark.conf.get(name) for name in _SCHEMA_CONFS),
        finish,
    )
    cached = _frames.get(key)
    if cached is not None and cached[0] == version:
        return cached[1]
    df = spark.read.parquet(path)
    if finish is not None:
        df = finish(df)
    with _lock:
        # frames of stopped sessions can never be handed out again
        for stale in [k for k in _frames if k[0]._sc._jsc is None]:
            del _frames[stale]
        _frames[key] = (version, df)
    return df
