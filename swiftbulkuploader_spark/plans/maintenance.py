"""Operational maintenance for the pipeline tables: incremental re-crawls,
attempt-log compaction, and as-of snapshots.

The reference's answer to all three was "re-run it and let `uploaded=0`
sort it out" (readme.md:42) — workable for a mutable row store, not for an
append-only log. These are the three jobs that keep the append-only model
operable indefinitely:

* `manifest_delta`    — diff two crawls: what appeared, vanished, changed.
                        Feeds incremental upload (only added/modified).
* `compact_attempts`  — bound the attempt log: keep each key's latest and
                        latest ok row (plus, optionally, its failure
                        history), rewrite.
* `status_asof`       — time travel: the uploaded-state of every file as of
                        time T, derived by filtering the log before merging
                        (the append-only model gives snapshots for free —
                        the reference's UPDATE destroyed history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def manifest_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Diff two manifest crawls by path: (path, change, id, size, mtime)
    with change in {'added', 'removed', 'modified'}. Unchanged files are
    omitted — the result IS the incremental work list."""
    o = old.select("path", F.col("id").alias("old_id"), F.col("size").alias("old_size"),
                   F.col("mtime").alias("old_mtime"))
    n = new.select("path", "id", "size", "mtime")
    joined = n.join(o, "path", "full_outer")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("old_id").isNull(), "added")
            .when(F.col("id").isNull(), "removed")
            .when((F.col("size") != F.col("old_size"))
                  | (F.col("mtime") != F.col("old_mtime")), "modified"),
        )
        .filter(F.col("change").isNotNull())
        .select("path", "change", "id", "size", "mtime")
    )


def compact_attempts(attempts: DataFrame, keep_failures: bool = True) -> DataFrame:
    """Bound the attempt log: per (id, key) — a whole file, or one of its
    parts — the latest attempt and the latest ok attempt survive; with
    `keep_failures`, every failed row of keys that never succeeded also
    survives (the error-report surface, A5). Those two rows decide both
    the mtime-aware resume rule and "every logged key ok", so
    `apply_attempts` and `pending_work` answer the same on the compacted
    log. Run periodically and rewrite — storage tracks live files, not
    total attempt history."""
    w = Window.partitionBy("id", "key")
    newest = (F.col("ts").desc(), F.col("try_no").desc())
    keep = (
        (F.row_number().over(w.orderBy(*newest)) == 1)
        | (F.col("ok") & (F.row_number().over(w.orderBy(F.col("ok").desc(), *newest)) == 1))
    )
    if keep_failures:
        keep = keep | ~F.max("ok").over(w)
    return attempts.withColumn("_keep", keep).filter("_keep").drop("_keep")


def status_asof(manifest: DataFrame, attempts: DataFrame, ts) -> DataFrame:
    """Snapshot: each file's uploaded-state as of `ts` (inclusive) — the
    append-only log replayed up to T. `ts` may be a literal or Column.

    Replayed with ``mtime_aware=False``: the manifest's mtimes are CURRENT,
    and gating a historical log on them would rewrite history — a file
    uploaded at t1 then re-crawled later must still read uploaded in the
    as-of-t1 snapshot. Replayed with ``trust_prior=False``: the manifest's
    durable `uploaded` flag reflects NOW (it may have been written by a
    compaction after `ts`), so the snapshot derives purely from the
    time-filtered log — the append-only-log-replayed-up-to-T contract."""
    from swiftbulkuploader_spark.plans.upload import apply_attempts

    cut = attempts.filter(F.col("ts") <= ts)
    return apply_attempts(manifest, cut, mtime_aware=False, trust_prior=False)
