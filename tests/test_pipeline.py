"""End-to-end pipeline (SURVEY.md §5 item 2): ingest a synthetic tree,
upload to the local-FS fake with injected failures, assert resume semantics
(Q7), exactly-once-per-file success, and report reconciliation (A1/A4/A5/A9).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from swiftbulkuploader_spark.plans.upload import (
    pending_work,
    run_pipeline,
    summarize,
    upload,
)
from swiftbulkuploader_spark.sources.ingest import ingest_listing
from swiftbulkuploader_spark.sources.objectstore import LocalFSObjectStore, StoreFactory


@pytest.fixture()
def tree(tmp_path):
    """Synthetic source tree incl. the reference's adversarial cases."""
    files = {
        "a/one.txt": b"one",
        "a/two.bin": b"\x00\x01\x02" * 100,
        "a/deep/three.txt": b"three",
        "b/it's got quotes.txt": b"quoted",
        'b/say "hi".txt': b"double",
        "b/文件.txt": "unicode ☃".encode("utf-8"),
        "c/empty.dat": b"",
        "flaky/will_fail.dat": b"flaky content",
    }
    for rel, data in files.items():
        p = tmp_path / "src" / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    # symlink cycle: must not hang or duplicate
    os.symlink(str(tmp_path / "src/a"), str(tmp_path / "src/a/deep/loop"))
    return tmp_path, files


class TestIngest:
    def test_lists_every_file_once(self, spark, tree):
        tmp_path, files = tree
        m = ingest_listing(spark, str(tmp_path / "src"))
        rows = m.collect()
        good = [r for r in rows if r["error"] is None]
        assert len(good) == len(files)
        assert len({r["path"] for r in good}) == len(files)
        assert len({r["id"] for r in good}) == len(files)  # xxhash64 keys unique
        by_path = {r["path"]: r for r in good}
        src = str(tmp_path / "src")
        assert by_path[f"{src}/a/two.bin"]["size"] == 300
        assert by_path[f"{src}/c/empty.dat"]["size"] == 0
        assert not any(r["uploaded"] for r in good)

    def test_unicode_and_quotes_survive(self, spark, tree):
        tmp_path, files = tree
        m = ingest_listing(spark, str(tmp_path / "src"))
        paths = {r["path"] for r in m.collect()}
        src = str(tmp_path / "src")
        assert f"{src}/b/it's got quotes.txt" in paths
        assert f'{src}/b/say "hi".txt' in paths
        assert f"{src}/b/文件.txt" in paths


class TestUploadResume:
    def test_full_pipeline_with_failures_and_resume(self, spark, tree, tmp_path):
        tmp_path_src, files = tree
        store_root = str(tmp_path / "store")
        attempts_path = str(tmp_path / "attempts")
        src = str(tmp_path_src / "src")
        # injected: keys containing 'will_fail' fail their first 6 attempts
        # -> run 1 exhausts its 5 retries (A5), run 2 succeeds on try 2
        factory = StoreFactory("localfs", root=store_root,
                               fail_substring="will_fail", fail_times=6)

        res1 = run_pipeline(spark, src, factory, attempts_path,
                            cutoff=os.path.basename(src))
        assert res1["total"] == len(files)
        assert res1["uploaded"] == len(files) - 1
        assert res1["failed"] == 1

        # resume: only the failed file is retried (Q7 anti-join)
        manifest = ingest_listing(spark, src).filter(F.col("error").isNull())
        prior = spark.read.parquet(attempts_path)
        pend = pending_work(manifest, prior)
        assert [os.path.basename(r["path"]) for r in pend.collect()] == ["will_fail.dat"]

        res2 = run_pipeline(spark, src, factory, attempts_path,
                            cutoff=os.path.basename(src))
        assert res2["uploaded"] == len(files)
        assert res2["failed"] == 0
        assert res2["pct_done"] == 100.0

        # content integrity incl. adversarial names, via derived keys
        store = LocalFSObjectStore(store_root)
        for rel, data in files.items():
            assert store.get(rel) == data, rel

        # attempt log reconciles: one success row per file, failures logged
        log = spark.read.parquet(attempts_path)
        ok_per_id = log.filter("ok").groupBy("id").count().collect()
        assert all(r["count"] == 1 for r in ok_per_id)  # exactly-once success
        assert len(ok_per_id) == len(files)
        n_failed_rows = log.filter(~F.col("ok")).count()
        assert n_failed_rows == 6  # 5 exhausted (run 1) + 1 (run 2, try 1)

    def test_summary_counts_final_outcome(self, spark, tree, tmp_path):
        tmp_path_src, files = tree
        src = str(tmp_path_src / "src")
        factory = StoreFactory("localfs", root=str(tmp_path / "store2"),
                               fail_substring="will_fail", fail_times=6)
        manifest = ingest_listing(spark, src).filter(F.col("error").isNull())
        attempts = upload(manifest, factory, cutoff=os.path.basename(src))
        attempts_rows = attempts.cache()
        # 5 failed tries of will_fail.dat are one failed file, not five
        assert summarize(manifest, attempts_rows) == {
            "total": len(files), "uploaded": len(files) - 1, "failed": 1,
            "pct_done": round(100.0 * (len(files) - 1) / len(files), 8),
        }
        attempts_rows.unpersist()

    def test_summary_counts_only_the_current_manifest(self, spark, tree, tmp_path):
        """Files removed from the tree since an earlier run drop out of the
        summary: their old successes no longer count as uploaded."""
        tmp_path_src, files = tree
        src = str(tmp_path_src / "src")
        factory = StoreFactory("localfs", root=str(tmp_path / "store3"))
        attempts_path = str(tmp_path / "attempts3")
        cutoff = os.path.basename(src)
        assert run_pipeline(spark, src, factory, attempts_path, cutoff=cutoff)["uploaded"] == len(files)
        os.remove(os.path.join(src, "a", "one.txt"))
        os.remove(os.path.join(src, "c", "empty.dat"))
        res = run_pipeline(spark, src, factory, attempts_path, cutoff=cutoff)
        assert res == {"total": len(files) - 2, "uploaded": len(files) - 2,
                       "failed": 0, "pct_done": 100.0}


class TestAttemptLogReads:
    """The attempt log is read through state_io.read_state_or_none: only
    a log with no committed data file yet reads as "no state"."""

    def test_uncommitted_directories_read_as_no_state(self, spark, tmp_path):
        from swiftbulkuploader_spark.streaming.state_io import read_state_or_none

        empty = tmp_path / "empty"
        empty.mkdir()
        assert read_state_or_none(spark, str(empty)) is None
        # a first job that died before its commit: only _temporary/ holds data
        uncommitted = tmp_path / "uncommitted"
        spark.range(3).write.parquet(str(uncommitted / "_temporary" / "0"))
        assert read_state_or_none(spark, str(uncommitted)) is None

    def test_corrupt_part_file_raises(self, spark, tmp_path):
        from swiftbulkuploader_spark.streaming.state_io import read_state_or_none

        log = tmp_path / "attempts"
        log.mkdir()
        (log / "part-00000.parquet").write_bytes(b"not a parquet footer")
        with pytest.raises(Exception, match="(?i)parquet|footer"):
            read_state_or_none(spark, str(log))


class TestStoreSafety:
    def test_traversal_key_rejected(self, tmp_path):
        store = LocalFSObjectStore(str(tmp_path / "s"))
        with pytest.raises(ValueError):
            store.put("../escape.txt", b"x")

    def test_put_is_idempotent_overwrite(self, tmp_path):
        store = LocalFSObjectStore(str(tmp_path / "s"))
        store.put("k/a.txt", b"v1")
        store.put("k/a.txt", b"v2")
        assert store.get("k/a.txt") == b"v2"


class TestBackoff:
    def test_capped_backoff_raises_after_max_attempts(self, monkeypatch):
        """SURVEY §7.4 item 9: the reference retries auth forever with
        linearly growing sleeps (bulkupload.py:94-107); ours is capped."""
        import time as _time

        from swiftbulkuploader_spark.sources.objectstore import connect_with_backoff

        sleeps: list[float] = []
        monkeypatch.setattr(_time, "sleep", lambda s: sleeps.append(s))
        calls = {"n": 0}

        def flaky():
            calls["n"] += 1
            raise OSError("auth down")

        with pytest.raises(ConnectionError, match="after 4 attempts"):
            connect_with_backoff(flaky, max_attempts=4, base_sleep=0.5)
        assert calls["n"] == 4
        # exponential, not linear; no sleep after the terminal failure
        assert sleeps == [0.5, 1.0, 2.0]

    def test_backoff_caps_sleep(self):
        """The schedule is CAPPED exponential: doubling stops at max_sleep
        (the property the reference's unbounded recursion lacks)."""
        from swiftbulkuploader_spark.sources.objectstore import connect_with_backoff

        sleeps: list[float] = []

        def always_down():
            raise OSError("auth down")

        with pytest.raises(ConnectionError):
            connect_with_backoff(always_down, max_attempts=6, base_sleep=8.0,
                                 sleep=sleeps.append)
        assert sleeps == [8.0, 16.0, 30.0, 30.0, 30.0]

    def test_backoff_recovers_inside_upload_partition(self, spark, tmp_path):
        """Failure-injection e2e (VERDICT r3 item 5): the store's
        CONSTRUCTOR fails twice (injected auth outage) before succeeding;
        the upload partition must re-auth under backoff and still upload
        every file, with the injected-failure sentinels proving the path
        actually fired inside the executor."""
        import os as _os

        src = tmp_path / "src"
        src.mkdir()
        for i in range(6):
            (src / f"f{i}.dat").write_bytes(b"x" * (i + 1))
        manifest = spark.createDataFrame(
            [(i, str(src / f"f{i}.dat")) for i in range(6)], "id: long, path: string"
        )
        root = str(tmp_path / "bucket")
        factory = StoreFactory("localfs", root=root, auth_fail_times=2)
        rows = upload(manifest, factory, cutoff="src", parallelism=2,
                      auth_base_sleep=0.01).collect()
        assert len(rows) == 6 and all(r["ok"] for r in rows)
        store = LocalFSObjectStore(root)
        # cutoff="src" truncates through the component: keys are bare names
        assert all(store.exists(f"f{i}.dat") for i in range(6))
        # exactly two auth failures were injected and absorbed by backoff
        assert len(_os.listdir(_os.path.join(root, ".auth_failures"))) == 2

    def test_backoff_returns_first_success(self, monkeypatch):
        import time as _time

        from swiftbulkuploader_spark.sources.objectstore import connect_with_backoff

        monkeypatch.setattr(_time, "sleep", lambda s: None)
        attempts = {"n": 0}

        def eventually():
            attempts["n"] += 1
            if attempts["n"] < 3:
                raise OSError("not yet")
            return "conn"

        assert connect_with_backoff(eventually) == "conn"
        assert attempts["n"] == 3
