"""Plan-quality regression guards: the scale properties (.explain output)
that make these queries viable at 100 TB must not silently regress.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from swiftbulkuploader_spark import registry
from swiftbulkuploader_spark.plans.skew import salted_agg, salted_join

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestPlanShape:
    def test_filter_pushed_to_parquet(self, spark):
        plan = _plan(registry.QUERIES["q1_scan_pending_sorted"](spark, SF))
        assert "EqualTo(o_orderstatus,O)" in plan  # PushedFilters reached the scan

    def test_projection_prunes_scan(self, spark):
        plan = _plan(registry.QUERIES["x3_token_stats"](spark, SF))
        # only doc_id + text read, not the whole documents schema
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan

    def test_topk_avoids_full_sort(self, spark):
        plan = _plan(registry.QUERIES["x5_top_revenue_orders"](spark, SF))
        assert "TakeOrderedAndProject" in plan

    def test_dims_broadcast_in_star_join(self, spark):
        plan = _plan(registry.QUERIES["x5_nation_revenue"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert plan.count("SortMergeJoin") == 0  # every join side small/broadcast here

    def test_anti_join_resume_is_a_join_not_a_collect(self, spark):
        plan = _plan(registry.QUERIES["q7_resume_anti_join"](spark, SF))
        assert "LeftAnti" in plan

    def test_agg_is_partial_plus_final(self, spark):
        plan = _plan(registry.QUERIES["a9_report"](spark, SF))
        assert plan.count("HashAggregate") >= 2  # map-side combine present

    def test_tfidf_df_table_is_broadcast(self, spark):
        # the per-term document-frequency table is bounded by the query
        # vocabulary -> must broadcast; a shuffle join here would re-exchange
        # the whole posting list at 100 TB
        plan = _plan(registry.QUERIES["x3_tfidf_search"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_time_range_frame_is_single_window_exchange(self, spark):
        # RANGE frame = one shuffle on user_id, sort within partitions;
        # more exchanges would mean the frame re-partitions per aggregate
        plan = _plan(registry.QUERIES["w7_time_range_frame"](spark, SF))
        assert plan.count("Exchange") <= 2  # hashpartition + AQE read at most

    def test_array_hof_suite_stays_codegen_projection(self, spark):
        # no shuffle at all: a per-row projection over the scan
        plan = _plan(registry.QUERIES["x3_array_hof_suite"](spark, SF))
        assert "Exchange" not in plan

    def test_join_hints_steer_strategy(self, spark):
        # the escape hatch when stats mislead Catalyst: hints must actually
        # flip the physical strategy (e.g. shuffle_hash avoids the sort of
        # an SMJ for a one-off join where sorting dominates)
        from swiftbulkuploader_spark.catalog import load_table

        orders = load_table(spark, SF, "orders")
        li = load_table(spark, SF, "lineitem")
        smj = li.hint("merge").join(
            orders.hint("merge"), li.l_orderkey == orders.o_orderkey
        )
        shj = li.hint("shuffle_hash").join(
            orders, li.l_orderkey == orders.o_orderkey
        )
        assert "SortMergeJoin" in _plan(smj)
        assert "ShuffledHashJoin" in _plan(shj)


class TestAQESkewJoin:
    def test_skewed_partition_is_split_at_runtime(self, spark):
        """AQE's skew-join split (the runtime complement to the salting
        helpers): a 90%-one-key join must show SortMergeJoin(skew=true) in
        the final adaptive plan — the skewed partition was split across
        tasks instead of serializing one straggler."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            left = spark.range(200_000).select(
                F.when(F.col("id") % 10 == 0, F.col("id") % 100)
                .otherwise(0).alias("k"),
                F.col("id").alias("v"),
            )
            right = spark.range(100).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("w")
            )
            j = left.join(right, "k")
            # drive execution through THIS plan object: AQE finalizes (and
            # annotates skew) only on the executed AdaptiveSparkPlan
            pe = j._jdf.queryExecution().executedPlan()
            pe.execute().count()
            assert "skew=true" in pe.toString()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestSkewHelpers:
    def test_salted_agg_matches_plain(self, spark):
        df = spark.createDataFrame(
            [("en", float(i)) for i in range(100)] + [("de", 1.0), ("fr", 2.0)],
            "lang: string, x: double",
        )
        got = {
            r["lang"]: (r["n"], r["s"])
            for r in salted_agg(
                df, "lang", 8,
                {"n": F.count(F.lit(1)), "s": F.sum("x")},
                {"n": F.sum("n"), "s": F.sum("s")},
            ).collect()
        }
        assert got["en"] == (100, sum(range(100)))
        assert got["de"] == (1, 1.0)
        assert got["fr"] == (1, 2.0)

    def test_salted_join_matches_plain_join(self, spark):
        fact = spark.createDataFrame(
            [(1, i) for i in range(50)] + [(2, 99)], "k: int, v: int"
        )
        dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "k: int, name: string")
        salted = salted_join(fact, dim, "k", n_salts=4).select("k", "v", "name")
        plain = fact.join(dim, "k").select("k", "v", "name")
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


class TestApplyAttempts:
    def test_merge_derives_uploaded_flag(self, spark):
        import datetime

        from swiftbulkuploader_spark.plans.upload import ATTEMPTS_SCHEMA, apply_attempts

        manifest = spark.createDataFrame(
            [(1, "/a", 10, None, False, None), (2, "/b", 20, None, False, None),
             (3, "/c", 30, None, False, None)],
            "id: long, path: string, size: long, mtime: timestamp, uploaded: boolean, error: string",
        )
        ts = datetime.datetime(2024, 1, 1)
        attempts = spark.createDataFrame(
            [(1, "/a", "a", ts, 1, True, None),
             (2, "/b", "b", ts, 1, False, "x"),
             (2, "/b", "b", ts, 2, True, None),
             (2, "/b", "b", ts, 3, False, "late retry failed")],
            ATTEMPTS_SCHEMA,
        )
        got = {r["id"]: r["uploaded"] for r in apply_attempts(manifest, attempts).collect()}
        assert got == {1: True, 2: True, 3: False}  # any success wins; no attempts -> False

    def test_failed_part_keeps_file_pending(self, spark):
        """A file is uploaded only when EVERY key logged for it has an ok
        attempt: ok parts 0 and 2 do not hide a failed part 1."""
        import datetime

        from swiftbulkuploader_spark.plans.upload import ATTEMPTS_SCHEMA, apply_attempts, summarize

        manifest = spark.createDataFrame(
            [(1, "/big", 12288, None, False, None), (2, "/small", 4, None, False, None)],
            "id: long, path: string, size: long, mtime: timestamp, uploaded: boolean, error: string",
        )
        ts = datetime.datetime(2024, 1, 1)
        attempts = spark.createDataFrame(
            [(1, "/big", "big/part-0000", ts, 1, True, None),
             (1, "/big", "big/part-0001", ts, 1, False, "x"),
             (1, "/big", "big/part-0002", ts, 1, True, None),
             (2, "/small", "small", ts, 1, True, None)],
            ATTEMPTS_SCHEMA,
        )
        flagged = apply_attempts(manifest, attempts).collect()
        assert {r["id"]: r["uploaded"] for r in flagged} == {1: False, 2: True}
        assert {r["id"]: r["failed"] for r in flagged} == {1: True, 2: False}
        assert summarize(manifest, attempts) == {
            "total": 2, "uploaded": 1, "failed": 1, "pct_done": 50.0}


class TestBucketedJoin:
    def test_bucketed_tables_join_without_shuffle(self, spark, tmp_path):
        """Co-located join contract: same key, same bucket count -> no
        Exchange in the join plan (the pay-once-at-ingest scale lever)."""
        import io
        from contextlib import redirect_stdout

        from swiftbulkuploader_spark.catalog import load_table
        from swiftbulkuploader_spark.plans.layout import write_bucketed

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        try:
            orders = load_table(spark, SF, "orders")
            lineitem = load_table(spark, SF, "lineitem")
            write_bucketed(orders, "b_orders", "o_orderkey", 8)
            write_bucketed(lineitem, "b_lineitem", "l_orderkey", 8)
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            ).select("o_orderkey", "l_linenumber", "o_totalprice")
            buf = io.StringIO()
            with redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # bucket layout replaces the shuffle
            # and it actually computes the right thing
            n = joined.count()
            assert n == lineitem.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestPartitionedWrites:
    def test_partition_pruning_on_attempt_log(self, spark, tmp_path):
        """Attempt log written partitioned by outcome: reading one outcome
        prunes the other's files entirely (PartitionFilters, not a scan)."""
        import datetime
        import io
        from contextlib import redirect_stdout

        from swiftbulkuploader_spark.plans.upload import ATTEMPTS_SCHEMA

        ts = datetime.datetime(2024, 1, 1)
        rows = [(i, f"/f{i}", f"f{i}", ts, 1, i % 3 != 0, None) for i in range(30)]
        df = spark.createDataFrame(rows, ATTEMPTS_SCHEMA)
        path = str(tmp_path / "attempts_part")
        df.write.partitionBy("ok").parquet(path)

        failed = spark.read.parquet(path).filter(F.col("ok") == False)  # noqa: E712
        buf = io.StringIO()
        with redirect_stdout(buf):
            failed.explain("formatted")
        plan = buf.getvalue()
        assert "PartitionFilters" in plan
        assert "isnotnull(ok" in plan or "(ok" in plan
        assert failed.count() == 10


class TestRangeJoin:
    def test_bucketed_range_join_is_equi_join_not_bnlj(self, spark):
        """The bucketed rewrite must plan as a hash/merge equi-join; a naive
        range predicate would degenerate to BroadcastNestedLoopJoin."""
        import io
        from contextlib import redirect_stdout

        df = registry.QUERIES["x7_error_burst"](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastNestedLoopJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or ("ShuffledHashJoin" in plan)

    def test_range_join_counts_small_case(self, spark):
        import datetime

        from swiftbulkuploader_spark.operators.range_join import range_join_counts

        t0 = datetime.datetime(2024, 1, 1)
        rows = [
            (1, t0, 7, "error", 0.0, "{}"),
            (2, t0 + datetime.timedelta(minutes=3), 7, "click", 0.0, "{}"),   # within
            (3, t0 + datetime.timedelta(minutes=6), 7, "click", 0.0, "{}"),   # outside
            (4, t0 + datetime.timedelta(minutes=1), 8, "click", 0.0, "{}"),   # other user
            (5, t0 + datetime.timedelta(minutes=4, seconds=59), 7, "view", 0.0, "{}"),  # within
        ]
        events = spark.createDataFrame(
            rows, "event_id: long, ts: timestamp, user_id: long, event_type: string, value: double, props: string"
        )
        got = {r["anchor_id"]: r["n_nearby"]
               for r in range_join_counts(events, F.col("event_type") == "error").collect()}
        assert got == {1: 2}


class TestRound3PlanShapes:
    def test_contamination_indexed_is_equi_join_no_bnlj(self, spark):
        """The inverted-index contamination must be a plain equi-join on the
        posting hash — never a nested-loop over the corpus."""
        plan = _plan(registry.QUERIES["x1_contamination_indexed"](spark, SF))
        assert "BroadcastNestedLoop" not in plan
        assert "CartesianProduct" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
            or ("BroadcastHashJoin" in plan)

    def test_minhash_verify_screens_before_shingle_join(self, spark):
        """LSH banding screens candidates before the hash-array verify
        join: the band join is an equi-join on the band id and its four
        signature values, never a cartesian or nested-loop pairing."""
        plan = _plan(registry.QUERIES["x1_minhash_neardup"](spark, SF))
        assert "BroadcastNestedLoop" not in plan
        assert "CartesianProduct" not in plan
        keys = [[k.split("#")[0].strip() for k in ks.split(",")]
                for ks in re.findall(r"Left keys \[\d+\]: \[([^\]]*)\]", plan)]
        assert ["bj", "c0", "c1", "c2", "c3"] in keys, keys

    def test_zscore_native_has_no_python_stage(self, spark):
        """The native window z-score must stay JVM-side end-to-end (its
        grouped-map twins deliberately do not)."""
        plan = _plan(registry.QUERIES["x2_norm_zscore_native"](spark, SF))
        for marker in ("ArrowEvalPython", "FlatMapGroupsInPandas",
                       "FlatMapGroupsInArrow", "BatchEvalPython"):
            assert marker not in plan, marker
        assert "Window" in plan
        pandas_plan = _plan(registry.QUERIES["x2_norm_zscore"](spark, SF))
        assert "FlatMapGroupsInPandas" in pandas_plan  # the twin really ferries

    def test_global_shuffle_sorts_per_shard_not_globally(self, spark):
        """One hash exchange on shard_id; no range partitioning (which would
        be a global sort) anywhere."""
        plan = _plan(registry.QUERIES["x6_global_shuffle"](spark, SF))
        assert "rangepartitioning" not in plan.lower()
        assert "hashpartitioning(shard_id" in plan
        # exactly one exchange node: formatted output names each node twice
        # (tree line + detail header)
        assert plan.count("(4) Exchange") == 2 or plan.count("Exchange") == 2

    def test_source_mixing_windows_run_over_aggregate(self, spark):
        """The normalizing windows must consume the n_sources-row aggregate:
        exactly one partial+final agg pair below the window, and the window's
        exchange moves SinglePartition (a handful of rows), not raw docs."""
        plan = _plan(registry.QUERIES["x6_source_mixing"](spark, SF))
        assert "HashAggregate" in plan
        assert "SinglePartition" in plan

    def test_hybrid_search_pools_are_topk_not_global_sort(self, spark):
        """Each ranking must end in TakeOrderedAndProject (bounded pool);
        the fusion join runs over the two pools with no extra exchange."""
        plan = _plan(registry.QUERIES["x2_hybrid_search"](spark, SF))
        assert plan.count("TakeOrderedAndProject") >= 2
        assert "rangepartitioning" not in plan.lower()


class TestRound5PlanShapes:
    def test_scale_default_profiles_have_no_exact_percentile_state(self, spark):
        """The composed/scale-default profiling forms must carry GK sketch
        state only: exact `percentile` partial state is a value->count map
        that grows with distinct values (profiling.py:31's documented
        100x-memory risk). The exact twins remain as test-scale oracles."""
        from swiftbulkuploader_spark.operators.profiling import (
            approx_quantiles_sketch,
        )
        from swiftbulkuploader_spark.operators.training_prep import (
            dataset_card_sketch,
        )

        for fn in (approx_quantiles_sketch, dataset_card_sketch):
            plan = _plan(fn(spark, SF))
            # "percentile(" would be the exact aggregate; the sketch prints
            # as "percentile_approx(" which does not contain that substring
            assert "percentile(" not in plan, fn.__name__
            assert "percentile_approx(" in plan, fn.__name__

    def test_repeated_passages_hashed_shuffles_longs_not_strings(self, spark):
        """The hashed variant's exchanges must be keyed on the 8-byte
        xxhash64 value; no gram string may survive past the scan stage."""
        plan = _plan(registry.QUERIES["x1_repeated_passages_hashed"](spark, SF))
        assert "xxhash64" in plan
        assert "hashpartitioning(gh#" in plan.replace("L", "")  # long key
        assert "hashpartitioning(gram" not in plan
