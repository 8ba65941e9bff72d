"""The upload stage: manifest -> work units -> object store -> attempt log
(SURVEY.md §3.2's Spark lifecycle replacement).

The reference fans out N OS processes over a shared Manager list with a lock
(bulkupload.py:407-440); here the *only* orchestration is a DataFrame plan:

    units    = manifest explode(sequence(0, n_parts - 1))           (S11)
    pending  = units LEFT ANTI JOIN successes ON (id, key)          (Q7 resume)
    attempts = pending mapInPandas upload_batch                     (S6 sink)
    summary  = manifest x attempts -> per-file outcome counts       (A9)

* a unit is a whole file (offset 0, read to EOF, PUT under its key) or, for
  a file above `segment_size`, one byte range PUT as `key/part-NNNN` — the
  wiring the reference's SEGMENT_SIZE (bulkupload.py:12) never got. A 10 GB
  file is 100 parallel 100 MB units instead of one straggler, and no task
  holds more than one unit's bytes in memory
* every unit goes through the one loop: one ObjectStore connection per
  partition (vs per-call, bulkupload.py:236+), bounded in-task retries,
  one attempt ROW per try (A4/A5) — the mutable counters and the
  `uploaded` point-UPDATE (U2) become append-only data
* at-least-once with idempotent keys: a task retried by Spark re-PUTs the
  same key (same guarantee as the reference's PUT->flag gap, SURVEY.md §2.7)
* Arrow-batched mapInPandas: rows stream through the Python worker in
  columnar batches; file bytes never collect on the driver

`upload_manifest` is the one driver (resume read -> upload -> append ->
summary) behind both `run_pipeline` and `cli upload`.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swiftbulkuploader_spark.functions.paths import object_key
from swiftbulkuploader_spark.sources.objectstore import StoreFactory, connect_with_backoff
from swiftbulkuploader_spark.streaming.state_io import read_state_or_none

ATTEMPTS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("path", T.StringType()),
    T.StructField("key", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("try_no", T.IntegerType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("error", T.StringType()),
])


def work_units(manifest: DataFrame, cutoff: str = "", segment_size: int = 0) -> DataFrame:
    """The manifest exploded into upload units: every manifest column plus
    `key`, `seg_offset` and `seg_length` (-1 = read to EOF).

    With `segment_size` 0, or a file at or under it, the file is one unit
    under its plain key. A larger file becomes ceil(size / segment_size)
    units `key/part-NNNN` at offsets NNNN * segment_size; the last part
    reads to EOF. Zero-byte and size-less rows are one whole-file unit, so
    a manifest without a `size` column works when segment_size is 0."""
    n_parts = (
        F.greatest(F.ceil(F.col("size") / F.lit(segment_size)), F.lit(1)).cast("int")
        if segment_size else F.lit(1)
    )
    key = object_key(F.col("path"), cutoff)
    part = F.col("_part")
    return manifest.withColumn("_part", F.explode(F.sequence(F.lit(0), n_parts - 1))).select(
        *manifest.columns,
        F.when(n_parts > 1, F.format_string("%s/part-%04d", key, part))
        .otherwise(key).alias("key"),
        (part.cast("long") * segment_size).alias("seg_offset"),
        F.when(part == n_parts - 1, F.lit(-1).cast("long"))
        .otherwise(F.lit(segment_size).cast("long")).alias("seg_length"),
    )


def pending_work(work: DataFrame, attempts: DataFrame | None) -> DataFrame:
    """Q7 — resume as a left-anti join against prior successes. Rows
    flagged `uploaded` are skipped whole; with no attempt log yet,
    everything else is pending.

    A row is a unit (it carries `key`, see `work_units`) or, for a raw
    manifest, a whole file. It is pending unless an ok attempt for its
    (id, key) — its id, for a raw manifest — is no older than the file's
    mtime (both are UTC-naive instants): ids are stable `xxhash64(path)`,
    so without the mtime comparison a re-crawled MODIFIED file would be
    skipped as already-uploaded — the incremental-recrawl workflow (cli
    recrawl -> upload) depends on stale successes not masking fresh
    bytes. Per-unit resume means a file with 99 of 100 parts uploaded
    retries only the missing part. Rows without an mtime column (not
    produced by this engine's ingest) fall back to the pure anti-join."""
    pending = work.filter(~F.col("uploaded")) if "uploaded" in work.columns else work
    if attempts is None:
        return pending
    on = ["id", "key"] if "key" in pending.columns else ["id"]
    ok = attempts.filter(F.col("ok"))
    if "mtime" not in pending.columns:
        return pending.join(ok.select(*on).distinct(), on, "left_anti")
    last_ok = ok.groupBy(*on).agg(F.max("ts").alias("_last_ok_ts"))
    return (
        pending.join(last_ok, on, "left")
        .filter(F.col("_last_ok_ts").isNull() | (F.col("_last_ok_ts") < F.col("mtime")))
        .drop("_last_ok_ts")
    )


def _upload_batches(store_factory: StoreFactory, max_attempts: int,
                    auth_base_sleep: float = 0.5):
    """Builds the mapInPandas function; one store per partition, reused
    across that partition's Arrow batches. The per-partition connect runs
    under `connect_with_backoff` (capped exponential), so a transient auth
    outage delays the partition instead of failing the task — the
    reference's re-auth loop (bulkupload.py:94-107) as a connection
    policy, not recursion."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        store = None
        try:
            for pdf in batches:
                out = {k: [] for k in ATTEMPTS_SCHEMA.fieldNames()}
                for row in pdf.itertuples(index=False):
                    if store is None:
                        store = connect_with_backoff(
                            store_factory.build, base_sleep=auth_base_sleep
                        )
                    for try_no in range(1, max_attempts + 1):
                        ts = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
                        ok, err = True, None
                        try:
                            with open(row.path, "rb") as fh:
                                fh.seek(row.seg_offset)
                                data = fh.read(row.seg_length)
                            store.put(row.key, data)
                        except Exception as e:  # noqa: BLE001 - each failure becomes a row
                            ok, err = False, f"{type(e).__name__}: {e}"
                        out["id"].append(row.id)
                        out["path"].append(row.path)
                        out["key"].append(row.key)
                        out["ts"].append(ts)
                        out["try_no"].append(try_no)
                        out["ok"].append(ok)
                        out["error"].append(err)
                        if ok:
                            break
                yield pd.DataFrame(out)
        finally:
            if store is not None:
                store.close()

    return fn


def upload(manifest: DataFrame, store_factory: StoreFactory,
           prior_attempts: DataFrame | None = None, cutoff: str = "",
           max_attempts: int = 5, parallelism: int | None = None,
           segment_size: int = 0, auth_base_sleep: float = 0.5) -> DataFrame:
    """Run the upload stage; returns the attempt-log DataFrame (lazy — write
    it to the attempts table to execute), one row per PUT try.

    `segment_size` > 0 splits files above it into parts (`work_units`);
    0 uploads whole files. `parallelism` repartitions the pending units:
    upload is IO-bound per row, so width = cluster slots, independent of
    input file splits (the same reasoning as the reference's "increase N
    processes", readme.md:39-42, minus the manual queue).
    """
    pend = pending_work(work_units(manifest, cutoff, segment_size), prior_attempts).select(
        "id", "path", "key", "seg_offset", "seg_length"
    )
    if parallelism:
        pend = pend.repartition(parallelism)
    fn = _upload_batches(store_factory, max_attempts, auth_base_sleep)
    return pend.mapInPandas(fn, ATTEMPTS_SCHEMA)


def _file_outcomes(manifest: DataFrame, attempts: DataFrame, mtime_aware: bool = True,
                   trust_prior: bool = True) -> DataFrame:
    """(id, uploaded, failed), one row per manifest id — the per-file
    outcome `apply_attempts` documents, in one join and one aggregation."""
    prior = (
        F.coalesce(F.col("uploaded"), F.lit(False))
        if trust_prior and "uploaded" in manifest.columns else F.lit(False)
    )
    mtime_aware = mtime_aware and "mtime" in manifest.columns
    files = manifest.select("id", prior.alias("_prior"), *(["mtime"] if mtime_aware else []))
    cond = F.col("id") == F.col("_aid")
    if mtime_aware:
        cond = cond & (F.col("mtime").isNull() | (F.col("ts") >= F.col("mtime")))
    logged = attempts.select(F.col("id").alias("_aid"), "key", "ts", "ok")
    per_file = files.join(logged, cond, "left").groupBy("id").agg(
        F.max("_prior").alias("_prior"),
        F.size(F.collect_set("key")).alias("_n_keys"),
        F.size(F.collect_set(F.when(F.col("ok"), F.col("key")))).alias("_n_ok"),
    )
    uploaded = F.col("_prior") | ((F.col("_n_keys") > 0) & (F.col("_n_ok") == F.col("_n_keys")))
    return per_file.select(
        "id", uploaded.alias("uploaded"),
        (~uploaded & (F.col("_n_ok") < F.col("_n_keys"))).alias("failed"),
    )


def apply_attempts(manifest: DataFrame, attempts: DataFrame,
                   mtime_aware: bool = True,
                   trust_prior: bool = True) -> DataFrame:
    """Materialize the mutable view: the manifest plus per-file `uploaded`
    and `failed` flags derived from the attempt log (U2's `UPDATE ... SET
    uploaded=1` as a batch join — the engine's MERGE INTO; run it when
    compacting the manifest table).

    A file is uploaded when every key logged for it (its whole-file key,
    or each of its parts) has an ok attempt: one failed part keeps the
    whole file pending. Once any attempt on a key succeeded the key is
    done, regardless of later failed re-attempts. `failed` is disjoint
    from `uploaded`: a file not uploaded with a logged key that has no ok
    attempt. A manifest row already flagged uploaded=True STAYS uploaded
    even if the log was compacted/rotated since — the flag is the durable
    record, the log the incremental one (pending_work trusts the flag the
    same way).

    ``mtime_aware`` (default) applies `pending_work`'s modification rule:
    only attempts no older than the file's current mtime count (NULL mtime:
    all count), so a success before a re-crawl does NOT mark the file
    uploaded (the store hasn't seen its fresh bytes) and `status` and the
    next `upload` agree on what is pending. Pass False when replaying the
    log for a PAST instant (`status_asof`): comparing a historical log
    against CURRENT mtimes would silently rewrite history whenever a later
    recrawl bumps a file's mtime.

    ``trust_prior`` (default) ORs the manifest's durable `uploaded` flag
    into the result. Pass False when the attempt log is AUTHORITATIVE for
    the requested view — `status_asof` does: a durable flag written by a
    compaction AFTER the as-of instant must not leak into a historical
    snapshot, which should derive purely from the time-filtered log."""
    return manifest.drop("uploaded").join(
        _file_outcomes(manifest, attempts, mtime_aware, trust_prior), "id"
    )


def summarize(manifest: DataFrame, attempts: DataFrame | None) -> dict:
    """A9/S10 — reconciliation against the CURRENT manifest:
    {total, uploaded, failed, pct_done} over `apply_attempts`' per-file
    outcome. Files no longer in the manifest do not count, whatever the
    log holds; `attempts` None (no log yet) leaves only flagged files
    uploaded."""
    if attempts is None:
        attempts = manifest.sparkSession.createDataFrame([], ATTEMPTS_SCHEMA)
    r = _file_outcomes(manifest, attempts).agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("uploaded"), 1)).alias("uploaded"),
        F.count(F.when(F.col("failed"), 1)).alias("failed"),
    ).first()
    total, done = r["total"], r["uploaded"]
    return {
        "total": total,
        "uploaded": done,
        "failed": r["failed"],
        "pct_done": round(100.0 * done / total, 8) if total else 100.0,
    }


def upload_manifest(manifest: DataFrame, store_factory: StoreFactory,
                    attempts_path: str, cutoff: str = "", max_attempts: int = 5,
                    parallelism: int | None = None, segment_size: int = 0) -> dict:
    """Resume-read the attempt log -> upload the pending units -> append
    their attempt rows -> `summarize` the log against `manifest`. The
    append is the first job; the summary reads the log only after it has
    committed. Returns summary counters (driver-side smalls only)."""
    spark = manifest.sparkSession
    prior = read_state_or_none(spark, attempts_path)
    upload(manifest, store_factory, prior, cutoff, max_attempts, parallelism,
           segment_size).write.mode("append").parquet(attempts_path)
    return summarize(manifest, read_state_or_none(spark, attempts_path))


def run_pipeline(spark, source_dir: str, store_factory: StoreFactory,
                 attempts_path: str, cutoff: str = "", max_attempts: int = 5,
                 parallelism: int | None = None) -> dict:
    """End-to-end: ingest -> `upload_manifest` (whole files)."""
    from swiftbulkuploader_spark.sources.ingest import ingest_listing

    # cache: the manifest feeds the upload AND the summary — without it
    # every action re-executes the distributed walk
    manifest = ingest_listing(spark, source_dir).filter(F.col("error").isNull()).cache()
    try:
        return upload_manifest(manifest, store_factory, attempts_path, cutoff,
                               max_attempts, parallelism)
    finally:
        manifest.unpersist()
