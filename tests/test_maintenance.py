"""Operational maintenance: manifest delta (incremental crawl), attempt-log
compaction (bounded storage), as-of snapshots (time travel).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from swiftbulkuploader_spark.plans.maintenance import (
    compact_attempts,
    manifest_delta,
    status_asof,
)
from swiftbulkuploader_spark.plans.upload import ATTEMPTS_SCHEMA

M_SCHEMA = "id: long, path: string, size: long, mtime: timestamp, uploaded: boolean, error: string"


def _ts(h):
    return datetime.datetime(2024, 1, 1, h)


class TestManifestDelta:
    def test_added_removed_modified(self, spark):
        old = spark.createDataFrame(
            [(1, "/a", 10, _ts(0), False, None),
             (2, "/b", 20, _ts(0), False, None),
             (3, "/c", 30, _ts(0), False, None)], M_SCHEMA)
        new = spark.createDataFrame(
            [(1, "/a", 10, _ts(0), False, None),        # unchanged
             (2, "/b", 25, _ts(1), False, None),        # modified (size+mtime)
             (4, "/d", 40, _ts(2), False, None)], M_SCHEMA)  # added; /c removed
        delta = {r["path"]: r["change"] for r in manifest_delta(old, new).collect()}
        assert delta == {"/b": "modified", "/c": "removed", "/d": "added"}


class TestCompaction:
    def _log(self, spark):
        rows = [
            (1, "/a", "a", _ts(1), 1, True, None),
            (1, "/a", "a", _ts(2), 1, True, None),          # later re-upload
            (2, "/b", "b", _ts(1), 1, False, "x"),
            (2, "/b", "b", _ts(1), 2, False, "y"),          # never succeeded
            (3, "/c", "c", _ts(1), 1, False, "z"),
            (3, "/c", "c", _ts(2), 1, True, None),          # eventually ok
        ]
        return spark.createDataFrame(rows, ATTEMPTS_SCHEMA)

    def test_latest_kept_failures_of_never_ok_kept(self, spark):
        out = compact_attempts(self._log(spark)).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r["id"], []).append(r)
        assert len(by_id[1]) == 1 and by_id[1][0]["ts"] == _ts(2)
        assert len(by_id[2]) == 2          # latest (= a failure) + history
        assert len(by_id[3]) == 1 and by_id[3][0]["ok"]  # success only

    def test_compaction_preserves_derived_status(self, spark):
        from swiftbulkuploader_spark.plans.upload import apply_attempts

        manifest = spark.createDataFrame(
            [(1, "/a", 1, _ts(0), False, None),
             (2, "/b", 1, _ts(0), False, None),
             (3, "/c", 1, _ts(0), False, None)], M_SCHEMA)
        full, compacted = self._log(spark), compact_attempts(self._log(spark))
        s_full = {r["id"]: r["uploaded"] for r in apply_attempts(manifest, full).collect()}
        s_comp = {r["id"]: r["uploaded"] for r in apply_attempts(manifest, compacted).collect()}
        assert s_full == s_comp == {1: True, 2: False, 3: True}

    def test_latest_and_latest_ok_kept_per_key(self, spark):
        log = spark.createDataFrame([
            (5, "/e", "e/part-0000", _ts(1), 1, True, None),
            (5, "/e", "e/part-0000", _ts(3), 1, False, "late"),   # failed re-PUT
            (5, "/e", "e/part-0001", _ts(1), 1, False, "p"),
            (5, "/e", "e/part-0001", _ts(1), 2, False, "q"),      # never ok
        ], ATTEMPTS_SCHEMA)
        kept = sorted((r["key"], r["ts"].hour, r["try_no"])
                      for r in compact_attempts(log).collect())
        assert kept == [("e/part-0000", 1, 1), ("e/part-0000", 3, 1),
                        ("e/part-0001", 1, 1), ("e/part-0001", 1, 2)]
        latest_only = sorted((r["key"], r["ts"].hour, r["try_no"])
                             for r in compact_attempts(log, keep_failures=False).collect())
        assert latest_only == [("e/part-0000", 1, 1), ("e/part-0000", 3, 1),
                               ("e/part-0001", 1, 2)]

    def test_compaction_keeps_every_part(self, spark, tmp_path):
        """Compaction is per (id, key): after a full 3-part segmented
        upload, status and resume read the compacted log as they read the
        full one — no part is dropped and re-PUT."""
        from swiftbulkuploader_spark.plans.upload import (
            apply_attempts, pending_work, upload, work_units,
        )
        from swiftbulkuploader_spark.sources.ingest import ingest_listing
        from swiftbulkuploader_spark.sources.objectstore import StoreFactory

        src = tmp_path / "src"
        src.mkdir()
        (src / "big.bin").write_bytes(bytes(range(256)) * 48)  # 12288 -> 3 parts
        (src / "small.bin").write_bytes(b"s" * 100)
        manifest = ingest_listing(spark, str(src)).filter(F.col("error").isNull()).cache()
        factory = StoreFactory("localfs", root=str(tmp_path / "bucket"))
        upload(manifest, factory, segment_size=4096, cutoff="src").write.parquet(
            str(tmp_path / "att"))
        full = spark.read.parquet(str(tmp_path / "att"))
        compacted = compact_attempts(full)

        def status(log):
            return sorted((r["path"], r["uploaded"], r["failed"])
                          for r in apply_attempts(manifest, log).collect())

        def pending(log):
            units = work_units(manifest, "src", 4096)
            return sorted(r["key"] for r in pending_work(units, log).collect())

        assert status(compacted) == status(full)
        assert all(uploaded for _, uploaded, _ in status(full))
        assert pending(compacted) == pending(full) == []
        assert compacted.count() == 4      # one ok row per key
        manifest.unpersist()


class TestAsOf:
    def test_snapshot_before_and_after(self, spark):
        manifest = spark.createDataFrame(
            [(1, "/a", 1, _ts(0), False, None),
             (3, "/c", 1, _ts(0), False, None)], M_SCHEMA)
        attempts = spark.createDataFrame(
            [(1, "/a", "a", _ts(1), 1, True, None),
             (3, "/c", "c", _ts(1), 1, False, "z"),
             (3, "/c", "c", _ts(5), 1, True, None)], ATTEMPTS_SCHEMA)
        at2 = {r["id"]: r["uploaded"]
               for r in status_asof(manifest, attempts, F.lit(_ts(2))).collect()}
        at6 = {r["id"]: r["uploaded"]
               for r in status_asof(manifest, attempts, F.lit(_ts(6))).collect()}
        assert at2 == {1: True, 3: False}   # /c hadn't succeeded yet at T=2
        assert at6 == {1: True, 3: True}    # history replayed through T=6

    def test_snapshot_immune_to_later_recrawl_mtime(self, spark):
        """Time travel must not be rewritten by the present: a file uploaded
        at t1 and re-crawled later (manifest mtime now t4 > t1) still reads
        uploaded in the as-of-t2 snapshot — the historical log is replayed
        without gating on CURRENT mtimes."""
        manifest = spark.createDataFrame(
            [(1, "/a", 1, _ts(4), False, None)], M_SCHEMA)  # recrawled at t4
        attempts = spark.createDataFrame(
            [(1, "/a", "a", _ts(1), 1, True, None)], ATTEMPTS_SCHEMA)
        at2 = {r["id"]: r["uploaded"]
               for r in status_asof(manifest, attempts, F.lit(_ts(2))).collect()}
        assert at2 == {1: True}

    def test_snapshot_immune_to_later_compaction_flag(self, spark):
        """The dual of the recrawl test: a durable uploaded=True flag written
        by a compaction AFTER the as-of instant must not leak into the
        historical snapshot. The as-of view derives purely from the
        time-filtered log (trust_prior=False) — at t2, before /a's only
        success at t3, the snapshot reads NOT uploaded even though the
        manifest's current flag says True."""
        manifest = spark.createDataFrame(
            [(1, "/a", 1, _ts(0), True, None),    # flag written at t5 compaction
             (2, "/b", 1, _ts(0), False, None)], M_SCHEMA)
        attempts = spark.createDataFrame(
            [(1, "/a", "a", _ts(3), 1, True, None),
             (2, "/b", "b", _ts(1), 1, True, None)], ATTEMPTS_SCHEMA)
        at2 = {r["id"]: r["uploaded"]
               for r in status_asof(manifest, attempts, F.lit(_ts(2))).collect()}
        at4 = {r["id"]: r["uploaded"]
               for r in status_asof(manifest, attempts, F.lit(_ts(4))).collect()}
        assert at2 == {1: False, 2: True}   # flag post-dates T=2: ignored
        assert at4 == {1: True, 2: True}    # log itself proves it by T=4


class TestPriorFlag:
    def test_compacted_flag_survives_log_rotation(self, spark):
        """A manifest row already flagged uploaded=True (compaction wrote the
        durable flag) stays uploaded even when the attempt log has been
        rotated away — status and pending_work agree the file is done."""
        from swiftbulkuploader_spark.plans.upload import apply_attempts, pending_work

        manifest = spark.createDataFrame(
            [(1, "/a", 1, _ts(0), True, None),
             (2, "/b", 1, _ts(0), False, None)], M_SCHEMA)
        empty_log = spark.createDataFrame([], ATTEMPTS_SCHEMA)
        flagged = {r["id"]: r["uploaded"]
                   for r in apply_attempts(manifest, empty_log).collect()}
        assert flagged == {1: True, 2: False}
        assert {r["id"] for r in pending_work(manifest, empty_log).collect()} == {2}
