"""Session memo: the one store for everything the engine builds once per
session and shares between queries — persisted substrate frames (the
allpairs pair graph, cluster assignments), trained models (GD weights,
BPE merges, Lloyd centroids), driver-side scalars (counts, query
vectors) and the parquet schemas the catalog inferred.

Why one module: a memo is only sound while its inputs are unchanged,
and that rule belongs in one place instead of being re-implemented (and
left out) at every cache. ``get(spark, tag, args, build)`` keys an entry
on (applicationId, tag, args), so a stopped and re-created session
misses. While ``build()`` runs, every parquet path read through
``record`` — ``catalog.load_table`` and ``catalog.read_parquet`` do —
becomes an input of the entry with its fingerprint: the name, length and
mtime of the path, or of every file under it. A hit on a nested memo
passes its inputs on to the enclosing build, and a DataFrame argument
(keyed on its plan's ``semanticHash()``) adds the files it reads, so
call sites never list their tables. A lookup serves an entry only while
every input still has its recorded fingerprint; otherwise the entry's
frames are unpersisted, Spark's cached plans over the changed paths are
refreshed, and it is built again. A table rewritten in place is thus
never answered from its old data, and nothing has to be invalidated by
hand.
"""

from __future__ import annotations

import threading
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from swiftbulkuploader_spark.streaming.state_io import _fs_path

# (applicationId, tag, args) -> (value, {input path: fingerprint})
_STORE: dict[tuple, tuple[object, dict[str, tuple]]] = {}


class _Builds(threading.local):
    """Per thread, the inputs of each build in progress, innermost last
    (a foreachBatch callback builds on its own thread); two threads that
    miss one key at once both build, and the later store wins."""

    def __init__(self) -> None:
        self.stack: list[dict[str, tuple]] = []


_BUILDS = _Builds()


def _fingerprint(spark: SparkSession, path: str) -> tuple:
    """(name, length, mtime) of `path`, or of every file under it, read
    through the path's own Hadoop FileSystem: rewriting the table in place
    changes it. A single file (the driver tables' layout) costs one
    getFileStatus; the recursive listing costs about three times that."""
    fs, jpath = _fs_path(spark, path)
    st = fs.getFileStatus(jpath)
    if not st.isDirectory():
        return ((path, st.getLen(), st.getModificationTime()),)
    files = fs.listFiles(jpath, True)
    out = []
    while files.hasNext():
        f = files.next()
        out.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return tuple(sorted(out))


def _note(inputs: dict[str, tuple]) -> None:
    """Add `inputs` to the innermost build in progress, if any."""
    if _BUILDS.stack:
        _BUILDS.stack[-1].update(inputs)


def record(spark: SparkSession, path: str) -> None:
    """Make `path`, as it is now, an input of the builds in progress."""
    _note({path: _fingerprint(spark, path)})


def _changed(spark: SparkSession, inputs: dict[str, tuple]) -> list[str]:
    out = []
    for path, fp in inputs.items():
        try:
            now = _fingerprint(spark, path)
        except Py4JJavaError:  # the input is gone
            now = None
        if now != fp:
            out.append(path)
    return out


def _unpersist(value: object) -> None:
    if isinstance(value, DataFrame):
        value.unpersist()
    elif isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)


def get(spark: SparkSession, tag: str, args: tuple, build: Callable[[], object]):
    """The value `build()` returns for (this session, `tag`, `args`),
    built at most once while its recorded inputs are unchanged."""
    frames = [a for a in args if isinstance(a, DataFrame)]
    key = (
        spark.sparkContext.applicationId, tag,
        tuple(("DataFrame", a.semanticHash()) if isinstance(a, DataFrame)
              else a for a in args),
    )
    entry = _STORE.get(key)
    if entry is not None:
        value, inputs = entry
        changed = _changed(spark, inputs)
        if not changed:
            _note(inputs)
            return value
        del _STORE[key]
        _unpersist(value)
        for path in changed:
            spark.catalog.refreshByPath(path)
    inputs: dict[str, tuple] = {}
    _BUILDS.stack.append(inputs)
    try:
        for df in frames:
            for path in df.inputFiles():
                record(spark, path)
        value = build()
    finally:
        _BUILDS.stack.pop()
    _STORE[key] = (value, inputs)
    _note(inputs)
    return value


def clear(tag: str | None = None) -> None:
    """Drop every entry (of `tag`), unpersisting its frames."""
    for key in [k for k in _STORE if tag is None or k[1] == tag]:
        _unpersist(_STORE.pop(key)[0])
