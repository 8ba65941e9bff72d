"""S11 segmentation: plan invariants (FIXTURES.md) + ranged-read integrity
(`concat(segments) == content`, byte semantics — SURVEY.md §7.4 item 3).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from swiftbulkuploader_spark.sources.segments import read_segments, segment_plan


def _manifest(spark, rows):
    return spark.createDataFrame(rows, "path: string, size: long")


class TestPlan:
    def test_invariants(self, spark):
        m = _manifest(spark, [("/f/a.bin", 250), ("/f/b.bin", 100), ("/f/c.bin", 1), ("/f/zero.bin", 0)])
        plan = segment_plan(m, size=100).collect()
        by_path = {}
        for r in plan:
            by_path.setdefault(r["path"], []).append(r)
        assert [r["seg_length"] for r in sorted(by_path["/f/a.bin"], key=lambda r: r["seg_no"])] == [100, 100, 50]
        assert [r["seg_length"] for r in by_path["/f/b.bin"]] == [100]
        assert [r["seg_length"] for r in by_path["/f/c.bin"]] == [1]
        assert [r["seg_length"] for r in by_path["/f/zero.bin"]] == [0]
        for rows in by_path.values():
            rows = sorted(rows, key=lambda r: r["seg_no"])
            # contiguous non-overlapping offsets
            assert rows[0]["seg_offset"] == 0
            for prev, cur in zip(rows, rows[1:]):
                assert cur["seg_offset"] == prev["seg_offset"] + prev["seg_length"]

    def test_segment_names(self, spark):
        m = _manifest(spark, [("/f/a.bin", 250)])
        names = [r["seg_name"] for r in segment_plan(m, size=100).orderBy("seg_no").collect()]
        assert names == ["a.bin-0000.txt", "a.bin-0001.txt", "a.bin-0002.txt"]

    @settings(max_examples=20, deadline=None)
    @given(size=st.integers(1, 10**9), seg=st.integers(1, 10**8))
    def test_plan_laws(self, size, seg):
        # pure-python mirror of the plan arithmetic
        n = (max(size, 1) - 1) // seg + 1
        lengths = [min(seg, size - i * seg) for i in range(n)]
        assert sum(lengths) == size or (size == 0 and lengths == [0])
        assert all(0 < l <= seg for l in lengths) or size == 0


class TestRangedReads:
    def test_concat_equals_content(self, spark, tmp_path):
        data = bytes(range(256)) * 10  # 2560 bytes, binary (not UTF-8 safe)
        p = tmp_path / "blob.bin"
        p.write_bytes(data)
        m = _manifest(spark, [(str(p), len(data))])
        segs = read_segments(segment_plan(m, size=1000), parallelism=4).orderBy("seg_no").collect()
        assert len(segs) == 3
        assert b"".join(bytes(r["content"]) for r in segs) == data
        assert all(len(bytes(r["content"])) == r["seg_length"] for r in segs)

    def test_binary_files_do_not_crash(self, spark, tmp_path):
        # the reference's text-mode read raises UnicodeDecodeError here
        data = b"\xff\xfe\x00\x80" * 50
        p = tmp_path / "nasty.bin"
        p.write_bytes(data)
        m = _manifest(spark, [(str(p), len(data))])
        segs = read_segments(segment_plan(m, size=64)).collect()
        assert b"".join(bytes(r["content"]) for r in sorted(segs, key=lambda r: r["seg_no"])) == data


class TestSegmentedUpload:
    def test_big_files_multipart_small_files_whole(self, spark, tmp_path):
        from swiftbulkuploader_spark.plans.upload import upload
        from swiftbulkuploader_spark.sources.ingest import ingest_listing
        from swiftbulkuploader_spark.sources.objectstore import LocalFSObjectStore, StoreFactory
        from pyspark.sql import functions as F

        src = tmp_path / "src"
        src.mkdir()
        big = bytes(range(256)) * 40      # 10240 bytes -> 3 parts @ 4096
        small = b"tiny"
        (src / "big.bin").write_bytes(big)
        (src / "small.bin").write_bytes(small)

        manifest = ingest_listing(spark, str(src)).filter(F.col("error").isNull())
        factory = StoreFactory("localfs", root=str(tmp_path / "bucket"))
        attempts = upload(manifest, factory, segment_size=4096, cutoff="src").cache()

        rows = attempts.collect()
        assert all(r["ok"] for r in rows)
        keys = sorted(r["key"] for r in rows)
        assert keys == [
            "big.bin/part-0000", "big.bin/part-0001", "big.bin/part-0002",
            "small.bin",
        ]
        store = LocalFSObjectStore(str(tmp_path / "bucket"))
        reassembled = b"".join(
            store.get(f"big.bin/part-{i:04d}") for i in range(3)
        )
        assert reassembled == big
        assert store.get("small.bin") == small
        # part sizes: full, full, remainder
        assert [len(store.get(k)) for k in keys[:3]] == [4096, 4096, 2048]
        attempts.unpersist()

    def test_per_part_resume(self, spark, tmp_path):
        """Resume retries only missing/failed parts, not whole files."""
        from swiftbulkuploader_spark.plans.upload import upload
        from swiftbulkuploader_spark.sources.ingest import ingest_listing
        from swiftbulkuploader_spark.sources.objectstore import LocalFSObjectStore, StoreFactory
        from pyspark.sql import functions as F

        src = tmp_path / "src2"
        src.mkdir()
        (src / "big.bin").write_bytes(bytes(range(256)) * 48)  # 12288 -> 3 parts @ 4096
        manifest = ingest_listing(spark, str(src)).filter(F.col("error").isNull())
        bucket = str(tmp_path / "bucket2")
        # run 1: part-0001 fails every one of its 5 tries (injected), others succeed
        f1 = StoreFactory("localfs", root=bucket, fail_substring="part-0001", fail_times=5)
        att1 = upload(manifest, f1, segment_size=4096, cutoff="src2")
        att1.write.parquet(str(tmp_path / "att"))
        prior = spark.read.parquet(str(tmp_path / "att"))
        assert prior.filter("ok").count() == 2
        # run 2 with per-part resume: exactly ONE attempt row, for part-0001
        f2 = StoreFactory("localfs", root=bucket)
        att2 = upload(manifest, f2, segment_size=4096, cutoff="src2",
                      prior_attempts=prior).collect()
        assert [r["key"] for r in att2] == ["big.bin/part-0001"]
        assert att2[0]["ok"]
        store = LocalFSObjectStore(bucket)
        data = b"".join(store.get(f"big.bin/part-{i:04d}") for i in range(3))
        assert data == bytes(range(256)) * 48

    def test_failed_part_retries_inside_the_loop(self, spark, tmp_path):
        """Parts share the whole-file PUT loop: a part that fails once
        succeeds on try 2, and both tries are logged."""
        from swiftbulkuploader_spark.plans.upload import upload
        from swiftbulkuploader_spark.sources.ingest import ingest_listing
        from swiftbulkuploader_spark.sources.objectstore import LocalFSObjectStore, StoreFactory

        src = tmp_path / "src3"
        src.mkdir()
        data = bytes(range(256)) * 48      # 12288 -> 3 parts @ 4096
        (src / "big.bin").write_bytes(data)
        manifest = ingest_listing(spark, str(src)).filter(F.col("error").isNull())
        bucket = str(tmp_path / "bucket3")
        factory = StoreFactory("localfs", root=bucket, fail_substring="part-0001", fail_times=1)
        rows = upload(manifest, factory, segment_size=4096, cutoff="src3").collect()
        tries = sorted((r["key"], r["try_no"], r["ok"]) for r in rows)
        assert tries == [
            ("big.bin/part-0000", 1, True),
            ("big.bin/part-0001", 1, False),
            ("big.bin/part-0001", 2, True),
            ("big.bin/part-0002", 1, True),
        ]
        store = LocalFSObjectStore(bucket)
        assert b"".join(store.get(f"big.bin/part-{i:04d}") for i in range(3)) == data

    def test_touched_big_file_makes_every_part_pending(self, spark, tmp_path):
        """Part resume honours mtime like whole files do: after a full
        segmented upload, touching the file makes all of its parts pending."""
        import os
        import time

        from swiftbulkuploader_spark.plans.upload import pending_work, upload, work_units
        from swiftbulkuploader_spark.sources.ingest import ingest_listing
        from swiftbulkuploader_spark.sources.objectstore import StoreFactory

        src = tmp_path / "src4"
        src.mkdir()
        (src / "big.bin").write_bytes(bytes(range(256)) * 40)  # 10240 -> 3 parts
        (src / "small.bin").write_bytes(b"tiny")
        factory = StoreFactory("localfs", root=str(tmp_path / "bucket4"))
        log = str(tmp_path / "att4")
        manifest = ingest_listing(spark, str(src)).filter(F.col("error").isNull())
        upload(manifest, factory, segment_size=4096, cutoff="src4").write.parquet(log)
        prior = spark.read.parquet(log)
        assert pending_work(work_units(manifest, "src4", 4096), prior).count() == 0

        time.sleep(0.05)
        os.utime(src / "big.bin")
        manifest = ingest_listing(spark, str(src)).filter(F.col("error").isNull())
        pending = pending_work(work_units(manifest, "src4", 4096), prior)
        assert sorted(r["key"] for r in pending.collect()) == [
            "big.bin/part-0000", "big.bin/part-0001", "big.bin/part-0002",
        ]
