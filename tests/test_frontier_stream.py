"""Incremental frontier admission invariants (the x1_incremental_clusters
discipline — arrival-order politeness is NOT the batch frontier
re-sorted, so the pins assert the incremental contract instead):
per-domain slots contiguous and duplicate-free across batches, frozen
rows byte-identical after new batches, re-crawled URLs not re-admitted,
replay idempotent.
"""

from __future__ import annotations

from collections import defaultdict

from swiftbulkuploader_spark.streaming.frontier_stream import (
    _admit_batch,
    read_frontier,
    stream_frontier_admission,
)

SCHEMA = ("doc_id: long, text: string, lang: string, source: string, "
          "n_chars: long")


def _docs(ids):
    return [(i, "t", "en", f"src{i % 3}", 1) for i in ids]


def _rows(df):
    return {
        r["canonical_url"]: (
            r["registered_domain"], r["keeper_doc"], r["slot"],
            r["sched_offset_ms"],
        )
        for r in df.collect()
    }


def _assert_contiguous(rows):
    by_dom = defaultdict(list)
    for dom, _kd, slot, off in rows.values():
        by_dom[dom].append((slot, off))
    for dom, slots in by_dom.items():
        ss = sorted(s for s, _ in slots)
        assert ss == list(range(len(ss))), (dom, ss)
        assert all(off == s * 500 for s, off in slots)


class TestFrontierAdmission:
    def test_two_batches_freeze_and_extend(self, spark, tmp_path):
        src = str(tmp_path / "docs")
        # doc 100 appears in BOTH batches: admitted once, never re-slotted
        spark.createDataFrame(_docs(range(100, 110)), SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
        spark.createDataFrame(_docs(list(range(105, 115))), SCHEMA) \
            .coalesce(1).write.mode("append").parquet(src)

        delta = str(tmp_path / "frontier")
        stream = (
            spark.readStream.schema(SCHEMA.replace(":", ""))
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_frontier_admission(stream, delta, str(tmp_path / "cp"))
        assert q.awaitTermination(120)

        rows = _rows(read_frontier(spark, delta))
        _assert_contiguous(rows)
        # every distinct canonical URL admitted exactly once
        assert len(rows) == len(set(rows))
        # overlap docs (105-109) kept their batch-1 keeper/slot: re-run
        # batch 1 alone and compare its rows inside the final state
        delta1 = str(tmp_path / "frontier_b1")
        _admit_batch(delta1)(
            spark.createDataFrame(_docs(range(100, 110)), SCHEMA), 0
        )
        b1 = _rows(read_frontier(spark, delta1))
        for url, row in b1.items():
            assert rows[url] == row        # frozen rows byte-identical

    def test_replay_is_idempotent(self, spark, tmp_path):
        delta = str(tmp_path / "frontier")
        fn = _admit_batch(delta)
        b1 = spark.createDataFrame(_docs(range(100, 110)), SCHEMA)
        b2 = spark.createDataFrame(_docs(range(108, 118)), SCHEMA)
        fn(b1, 0)
        fn(b2, 1)
        once = _rows(read_frontier(spark, delta))
        fn(b2, 1)  # at-least-once replay: same frozen prefix -> same rows
        assert _rows(read_frontier(spark, delta)) == once
        _assert_contiguous(once)

    def test_delta_partition_contains_only_new_urls(self, spark, tmp_path):
        """Batch-proportional admission made concrete: batch 2's delta
        partition holds ONLY the URLs batch 2 introduced — overlap
        URLs stay in batch 1's partition, untouched."""
        delta = str(tmp_path / "frontier")
        fn = _admit_batch(delta)
        fn(spark.createDataFrame(_docs(range(100, 110)), SCHEMA), 0)
        fn(spark.createDataFrame(_docs(range(105, 115)), SCHEMA), 1)
        df = spark.read.parquet(delta)
        b0 = {r["keeper_doc"] for r in df.filter("batch_id = 0").collect()}
        b1 = {r["keeper_doc"] for r in df.filter("batch_id = 1").collect()}
        assert b0 == set(range(100, 110))
        assert b1 == set(range(110, 115))     # only the genuinely new docs
        assert not (b0 & b1)

    def test_corrupted_state_fails_batch_not_silently_empty(
        self, spark, tmp_path
    ):
        """The r10 ADVICE defect class: a state-read failure that is NOT
        'no state yet' must FAIL the batch (so the checkpoint replays
        it), never be treated as empty state — empty-state fallback
        here would re-admit every URL from slot 0 and permanently
        corrupt the never-re-admit invariant."""
        import pytest

        delta = str(tmp_path / "frontier")
        fn = _admit_batch(delta)
        fn(spark.createDataFrame(_docs(range(100, 110)), SCHEMA), 0)
        before = _rows(read_frontier(spark, delta))
        # corrupt the existing state: a parquet-suffixed file with a
        # garbage footer inside the state dir
        (tmp_path / "frontier" / "batch_id=0" / "part-junk.parquet") \
            .write_bytes(b"not a parquet footer")
        with pytest.raises(Exception):
            fn(spark.createDataFrame(_docs(range(108, 118)), SCHEMA), 1)
        # the frozen partition is untouched: no batch-1 rows were written
        df = spark.read.option("ignoreCorruptFiles", "true").parquet(delta)
        assert {r["batch_id"] for r in df.select("batch_id").collect()} \
            == {0}
        # and the intact rows are byte-identical to before the failure
        good = df.filter("batch_id = 0")
        assert {
            r["canonical_url"]: (
                r["registered_domain"], r["keeper_doc"], r["slot"],
                r["sched_offset_ms"],
            ) for r in good.collect()
        } == before

    def test_state_io_distinguishes_missing_from_broken(
        self, spark, tmp_path
    ):
        from swiftbulkuploader_spark.streaming.state_io import (
            read_state_or_none,
            state_path_exists,
        )
        missing = str(tmp_path / "nope")
        assert not state_path_exists(spark, missing)
        assert read_state_or_none(spark, missing) is None
        live = str(tmp_path / "live")
        spark.range(3).write.parquet(live)
        assert state_path_exists(spark, live)
        assert read_state_or_none(spark, live).count() == 3

    def test_fs_path_resolves_like_spark_read(self, spark, tmp_path):
        from urllib.parse import urlparse

        from swiftbulkuploader_spark.streaming.state_io import _fs_path

        local = str(tmp_path / "t")
        spark.range(3).write.parquet(local)
        read_scheme = urlparse(spark.read.parquet(local).inputFiles()[0]).scheme
        for path in (local, "file:" + local):
            fs, jpath = _fs_path(spark, path)
            assert jpath.toString() == path
            assert fs.getUri().getScheme() == read_scheme == "file"
            assert fs.exists(jpath)
