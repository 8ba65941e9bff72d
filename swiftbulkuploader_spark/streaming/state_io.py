"""Frozen-state reads for jobs that maintain their own parquet state
(frontier slots, attempt logs, cluster labels): the foreachBatch sinks
and the batch upload pipeline (plans/upload.py).

The round-10 ADVICE defect class this module closes: a bare
``except Exception`` around the state read — intended only for the
"first batch, no state yet" case — also swallows transient IO errors,
corrupted footers, and permission failures, silently treating REAL
state as empty. For the frontier that meant re-admitting every URL
from slot 0 and permanently corrupting the contiguity / never-re-admit
invariants; for the attempt log it meant re-uploading done files.

``read_state_or_none`` distinguishes the two cases explicitly: it
checks path existence through the Hadoop FileSystem of the path itself
(works for local dirs in tests and object stores in production — the
same resolution ``spark.read`` uses), returns ``None`` only when the
state genuinely does not exist yet (no path, or a directory holding no
committed data file), and lets EVERY other failure
propagate so the foreachBatch attempt fails and the checkpoint replays
the batch against intact state.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path`, resolved exactly like
    spark.read would (local, HDFS, or an object store). The Path class is
    named in one Py4J call: walking ``_jvm.org.apache...`` costs a round
    trip per package segment, on every fingerprint and state read."""
    sc = spark.sparkContext
    jpath = JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def state_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff `path` exists on its own filesystem. Failures of the
    existence CHECK itself propagate: an unreachable filesystem is not
    "no state"."""
    fs, jpath = _fs_path(spark, path)
    return bool(fs.exists(jpath))


def _has_data_files(fs, jpath) -> bool:
    """True iff the directory `jpath` holds a committed data file: one
    whose name, and the name of every directory between it and `jpath`,
    starts with neither '_' nor '.' — the entries spark.read itself
    skips (`_temporary/`, `_SUCCESS`, `.crc` checksums)."""
    for st in fs.listStatus(jpath):
        if st.getPath().getName().startswith(("_", ".")):
            continue
        if not st.isDirectory() or _has_data_files(fs, st.getPath()):
            return True
    return False


def read_state_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """spark.read.parquet(path), or None ONLY if there is no state yet:
    the path does not exist, or it is a directory with no committed data
    file (a first job that failed before its commit leaves exactly that —
    an empty directory, or one holding only `_temporary/`). Any other
    read failure (IO error, corrupt footer, permissions) raises, failing
    the batch so the streaming checkpoint replays it — state is never
    silently treated as empty."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return None
    if fs.getFileStatus(jpath).isDirectory() and not _has_data_files(fs, jpath):
        return None
    return spark.read.parquet(path)
