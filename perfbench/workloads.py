"""The workloads. Each one owns its inputs and knows how to run one
operation, check its output, and say how much work (items, MB) it did.

An operation is one call into the program's public entry points:

* upload workloads: one ``plans.upload.run_pipeline`` over a source tree;
* query workloads: one ``registry.QUERIES[name]`` build forced with a noop
  write (the way ``bench.py`` times queries).

``prepare`` makes the inputs before Spark starts; ``prepare_spark`` makes
the inputs that need the program (the half-done attempt log and the
expected object keys) once the first session is up.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import sys
import time

import datagen
from benchstore import BenchStoreFactory

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from verify_local import table_hash  # noqa: E402  (the contract verifier's value hash)

MAX_ATTEMPTS = 3          # covers the twice-failing keys; a held key fails every try
TRANSIENT = {"_t1.": 1, "_t2.": 2}


class Failure(Exception):
    """An operation's output did not match what the benchmark expected."""


def _tree_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _bucket_keys(bucket: str) -> set[str]:
    keys = set()
    for d, dirs, files in os.walk(bucket):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        keys.update(os.path.relpath(os.path.join(d, f), bucket) for f in files)
    return keys


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha1(fh.read()).hexdigest()


def _flip_one(bucket: str) -> None:
    """Seeded corruption for the self-test: flip the bytes of one object."""
    path = os.path.join(bucket, sorted(_bucket_keys(bucket))[0])
    with open(path, "rb") as fh:
        data = bytes(b ^ 0xFF for b in fh.read())
    with open(path, "wb") as fh:
        fh.write(data)


class UploadResume:
    """Resume a half-done upload. The tree holds 6,000 sub-KB files and
    20 MB-sized ones; set-up runs the pipeline once with a store that fails
    every key under ``held/`` on every try, which leaves a half-done attempt
    log. Each operation then gets a fresh bucket and a fresh copy of that
    log, runs ``run_pipeline`` once (1 % of the small files fail once or
    twice before they succeed), and is checked: ``failed == 0``, the bucket
    holds exactly the held keys, and every object is byte-identical to its
    source file."""

    name = "upload_resume"
    kind = "upload"
    cutoff = "src"
    settle_passes = 1

    def __init__(self, work: str, seed: int, tiny: bool, corrupt: str | None):
        self.work, self.seed, self.tiny, self.corrupt = work, seed, tiny, corrupt
        self.src = os.path.join(work, "in", "src")
        self.parallelism = os.cpu_count() or 1
        self.n_pass = 0
        self.expected: dict[str, str] = {}     # object key -> source path
        self.digests: dict[str, str] = {}      # source path -> sha1
        self.base_log = os.path.join(work, "base", "attempts")
        self.last_pass: tuple[str, str] | None = None

    def op_names(self) -> list[str]:
        return ["run_pipeline"]

    def prepare(self) -> None:
        n_small, n_big = (600, 4) if self.tiny else (6000, 20)
        self.paths = datagen.make_upload_tree(self.src, n_small, n_big, self.seed)
        self.n_files = len(self.paths)
        self.pending = [p for p in self.paths if "/held/" in p]
        self.items = len(self.pending)
        self.mb = _tree_bytes(self.pending) / 2**20

    def prepare_spark(self, spark) -> float:
        """Build the half-done log. That pipeline run is the first set-up's
        warm-up; its wall time is returned."""
        from pyspark.sql import functions as F

        from swiftbulkuploader_spark.functions.paths import object_key
        from swiftbulkuploader_spark.plans.upload import run_pipeline
        from swiftbulkuploader_spark.sources.objectstore import StoreFactory

        bucket = os.path.join(self.work, "base", "bucket")
        factory = StoreFactory("localfs", root=bucket, fail_substring="held/",
                               fail_times=MAX_ATTEMPTS)
        t0 = time.perf_counter()
        res = run_pipeline(spark, self.src, factory, self.base_log, cutoff=self.cutoff,
                           max_attempts=MAX_ATTEMPTS, parallelism=self.parallelism)
        elapsed = time.perf_counter() - t0
        if res["uploaded"] != self.n_files - self.items or res["failed"] != self.items:
            raise RuntimeError(f"half-done log set-up went wrong: {res}")
        shutil.rmtree(bucket)
        df = spark.createDataFrame([(p,) for p in self.pending], "path string")
        rows = df.select("path", object_key(F.col("path"), self.cutoff).alias("key")).collect()
        self.expected = {r["key"]: r["path"] for r in rows}
        self.digests = {p: _digest(p) for p in self.pending}
        return elapsed

    def run_op(self, spark, name: str, cpu, stats_dir: str | None = None) -> dict:
        """One pipeline run; ``cpu`` is the worker's ``ProgramCpu`` meter,
        read around the call alone."""
        from swiftbulkuploader_spark.plans.upload import run_pipeline

        if self.last_pass:
            shutil.rmtree(os.path.dirname(self.last_pass[0]), ignore_errors=True)
        self.n_pass += 1
        d = os.path.join(self.work, "passes", f"p{self.n_pass:03d}")
        bucket, log = os.path.join(d, "bucket"), os.path.join(d, "attempts")
        shutil.copytree(self.base_log, log)
        factory = BenchStoreFactory(bucket, TRANSIENT, stats_dir)
        c0 = cpu.start()
        start, t0 = time.time(), time.perf_counter()
        res = run_pipeline(spark, self.src, factory, log, cutoff=self.cutoff,
                           max_attempts=MAX_ATTEMPTS, parallelism=self.parallelism)
        elapsed = time.perf_counter() - t0
        cpu_s = cpu.stop() - c0
        self.last_pass = (bucket, log)
        return {"elapsed": elapsed, "cpu": cpu_s, "span": (start, start + elapsed),
                "result": res, "bucket": bucket, "log": log}

    def check(self, out: dict) -> None:
        res, bucket = out["result"], out["bucket"]
        if self.corrupt == "bucket":   # the first checked pass only
            self.corrupt = None
            _flip_one(bucket)
        if res["failed"] != 0 or res["uploaded"] != res["total"] or res["total"] != self.n_files:
            raise Failure(f"run_pipeline reported {res}")
        keys = _bucket_keys(bucket)
        if keys != set(self.expected):
            raise Failure(f"bucket holds {len(keys)} keys, expected {len(self.expected)}")
        for key, path in self.expected.items():
            if _digest(os.path.join(bucket, key)) != self.digests[path]:
                raise Failure(f"object {key} differs from {path}")

    def noop_rerun(self, spark) -> float:
        """Re-run the pipeline over the last pass's log and bucket; it must
        add no successful attempt rows. Returns its wall time."""
        from swiftbulkuploader_spark.plans.upload import run_pipeline

        bucket, log = self.last_pass
        ok_rows = lambda: spark.read.parquet(log).filter("ok").count()  # noqa: E731
        before = ok_rows()
        t0 = time.perf_counter()
        res = run_pipeline(spark, self.src, BenchStoreFactory(bucket), log, cutoff=self.cutoff,
                           max_attempts=MAX_ATTEMPTS, parallelism=self.parallelism)
        elapsed = time.perf_counter() - t0
        if ok_rows() != before or res["failed"] != 0:
            raise Failure(f"no-op re-run added successful attempts: {res}")
        return elapsed


class QueryFloor:
    """Ten cheap contract queries, each a few hundred milliseconds at
    sf0.1: Python build, Py4J, Catalyst and job launch dominate, and
    execution is small. Nine touch no session memo; x6_calibration_bins
    reads the session-memoized quality model and its persisted features.
    None is in ``bench.MEMOIZED_OUTPUT``, so no warm sample times a cache
    readback.

    The tables are generated with a fixed seed, so their oracle values are
    the same on every run; ``--seed`` picks the round-robin order."""

    name = "query_floor"
    kind = "query"
    settle_passes = 2
    names = (
        "a7_progress_pct", "q7_resume_anti_join", "w1_latest_attempt",
        "x5_q6_revenue_delta", "x6_global_shuffle", "a8_rate_window",
        "x5_semi_join_high_value", "s11_segment_plan", "x9_frame_sample_plan",
        "x6_calibration_bins",
    )
    tiny_names = ("a7_progress_pct", "q7_resume_anti_join", "x6_calibration_bins")

    def __init__(self, work: str, seed: int, tiny: bool, corrupt: str | None):
        self.work, self.seed, self.tiny, self.corrupt = work, seed, tiny, corrupt
        self.sf_dir = os.path.join(work, "in", "sf")
        self.queries = list(self.tiny_names if tiny else self.names)
        self.input_mb: dict[str, float] = {}
        self.items = 1

    def op_names(self) -> list[str]:
        return list(self.queries)

    def prepare(self) -> None:
        import duckdb

        from swiftbulkuploader_spark import registry
        from swiftbulkuploader_spark.catalog import TABLES

        datagen.make_tables(self.sf_dir, 0.01 if self.tiny else 0.1, seed=42)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.expected = {}
        for q in self.queries:
            tables = [t for t in TABLES if re.search(rf"\b{t}\b", registry.ORACLES[q])]
            self.input_mb[q] = sum(os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
                                   for t in tables) / 2**20
            res = con.execute(registry.ORACLES[q])
            cols = [d[0] for d in res.description]
            self.expected[q] = table_hash(res.fetchall(), cols)
        con.close()
        if self.corrupt == "oracle":
            self.expected[self.queries[0]] = "0" * 64

    def prepare_spark(self, spark) -> None:
        pass

    def build(self, spark, name: str):
        from swiftbulkuploader_spark import registry

        return registry.QUERIES[name](spark, self.sf_dir)

    def check_query(self, spark, name: str) -> float:
        """Force the query with collect() and compare its value hash with
        the oracle's. Returns the forcing time (hashing excluded)."""
        t0 = time.perf_counter()
        df = self.build(spark, name)
        rows = [tuple(r) for r in df.collect()]
        elapsed = time.perf_counter() - t0
        if table_hash(rows, df.columns) != self.expected[name]:
            raise Failure(f"{name}: value hash differs from the DuckDB oracle")
        return elapsed


WORKLOADS = {w.name: w for w in (UploadResume, QueryFloor)}
