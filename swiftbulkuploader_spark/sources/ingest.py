"""Distributed directory ingest -> manifest DataFrame (SURVEY.md §2.1 S1/S5).

The reference walks a directory tree single-threaded and INSERTs one MySQL
row per file with a commit per row (prepareupload.py:21-60, olrcdb.py:54-70).
Here the walk itself is distributed: a seed list of directories fans out over
an RDD and each task `os.scandir`s its subtree breadth-first, so a tree with
millions of files is listed by the whole cluster, not one driver thread
(the reference's "millions of files" design scale, readme.md:3).

Differences from the reference, by design (SURVEY.md §7.4):
* symlink cycles are guarded (st_dev/st_ino dedup per task + no follow);
  the reference recurses unboundedly (prepareupload.py:58-60).
* unreadable entries become quarantine rows instead of error-log lines
  (prepareupload.py:46-49) — the listing is total, failures are data.
* ids are stable content-free keys: xxhash64(path) (auto-increment has no
  distributed equivalent; olrcdb.py:40 -> SURVEY.md §7.4 item 10).

`ingest_listing` is the metadata-only path: no file bytes move until
the upload reads them.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("size", T.LongType(), True),
    T.StructField("mtime", T.TimestampType(), True),
    T.StructField("error", T.StringType(), True),
])


def _walk_partition(dirs: Iterator[str]) -> Iterator[tuple]:
    """Per-task iterative walk (no recursion-depth limit, cycle-safe)."""
    import datetime

    seen: set[tuple[int, int]] = set()
    for root in dirs:
        stack = [root]
        while stack:
            d = stack.pop()
            try:
                entries = list(os.scandir(d))
            except OSError as e:
                yield (d, None, None, f"scandir: {e}")
                continue
            for ent in entries:
                try:
                    if ent.is_symlink():
                        continue  # no-follow: symlink cycles can't recurse
                    if ent.is_dir(follow_symlinks=False):
                        st = ent.stat(follow_symlinks=False)
                        key = (st.st_dev, st.st_ino)
                        if key in seen:
                            continue
                        seen.add(key)
                        stack.append(ent.path)
                    elif ent.is_file(follow_symlinks=False):
                        st = ent.stat(follow_symlinks=False)
                        yield (
                            ent.path,
                            st.st_size,
                            datetime.datetime.fromtimestamp(
                                st.st_mtime, tz=datetime.timezone.utc
                            ).replace(tzinfo=None),
                            None,
                        )
                except OSError as e:
                    yield (ent.path, None, None, f"stat: {e}")


def ingest_listing(spark: SparkSession, root: str, fanout: int | None = None) -> DataFrame:
    """List a directory tree into a manifest DataFrame.

    The first two levels of subdirectories become the seed set so the walk
    parallelizes even when the root has few direct children; each seed is a
    separate task. On object stores / HDFS the equivalent is the
    `binaryFile` reader, which Spark already lists in parallel.
    """
    seeds: list[str] = []
    top_files: list[tuple] = []
    import datetime

    def _stat_row(p: str) -> tuple:
        st = os.stat(p, follow_symlinks=False)
        return (
            p,
            st.st_size,
            datetime.datetime.fromtimestamp(st.st_mtime, tz=datetime.timezone.utc).replace(tzinfo=None),
            None,
        )

    for ent in os.scandir(root):
        if ent.is_dir(follow_symlinks=False):
            sub = [e for e in os.scandir(ent.path)]
            subdirs = [e.path for e in sub if e.is_dir(follow_symlinks=False)]
            seeds.extend(subdirs or [])
            if not subdirs:
                seeds.append(ent.path)
            else:
                top_files.extend(
                    _stat_row(e.path) for e in sub if e.is_file(follow_symlinks=False)
                )
        elif ent.is_file(follow_symlinks=False):
            top_files.append(_stat_row(ent.path))

    if fanout is None:
        fanout = max(spark.sparkContext.defaultParallelism, 1)
    walked = spark.sparkContext.parallelize(seeds or [], max(min(len(seeds), fanout), 1)).mapPartitions(
        _walk_partition
    )
    df = spark.createDataFrame(walked, MANIFEST_SCHEMA)
    if top_files:
        df = df.unionByName(spark.createDataFrame(top_files, MANIFEST_SCHEMA))
    return df.select(
        F.xxhash64("path").alias("id"),
        "path",
        "size",
        "mtime",
        F.lit(False).alias("uploaded"),
        "error",
    )


def write_manifest(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist the manifest as parquet (the engine's CREATE TABLE, S5).
    Set-oriented append replaces the reference's row-at-a-time INSERT+commit
    (olrcdb.py:54-70) — no quoting, no per-row round trips."""
    df.write.mode(mode).parquet(path)
