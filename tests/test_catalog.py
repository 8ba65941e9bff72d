"""catalog.load_table: the inferred parquet schema is reused while the
input is unchanged, and inferred again once it is rewritten."""

from __future__ import annotations

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table, table_path

from conftest import SF_SMOKE


def _jobs_during(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_unchanged_table_fires_no_job(spark):
    """A schema-less parquet read launches a footer-reading job; once the
    schema is stored, reading the unchanged table launches none."""
    read = lambda: load_table(spark, SF_SMOKE, "orders")  # noqa: E731
    _jobs_during(spark, read, "catalog-first-read")
    assert _jobs_during(spark, read, "catalog-second-read") == []


def test_stored_schema_events_match_a_fresh_read(spark):
    """events.ts is TIMESTAMP(NANOS): the stored bigint schema still takes
    the ns -> us conversion, so dtypes and rows equal an inferring read."""
    memo.clear("parquet_schema")  # the next read infers
    fresh = load_table(spark, SF_SMOKE, "events")
    stored = load_table(spark, SF_SMOKE, "events")
    assert dict(fresh.dtypes)["ts"] == "timestamp_ntz"
    assert stored.dtypes == fresh.dtypes
    assert sorted(stored.collect()) == sorted(fresh.collect())


def test_stored_schema_read_hits_a_frame_cached_from_inference(spark):
    """Memoized substrates persist a frame built from one read and match it
    from later reads; a stored-schema read must still find that cache."""
    memo.clear("parquet_schema")
    cached = load_table(spark, SF_SMOKE, "nation").persist()
    try:
        cached.count()
        later = load_table(spark, SF_SMOKE, "nation")
        assert "InMemoryRelation" in later._jdf.queryExecution().withCachedData().toString()
    finally:
        cached.unpersist()


def test_table_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "orders")
    spark.createDataFrame([(1,), (2,)], "o_orderkey long").write.parquet(path)
    assert sorted(r.o_orderkey for r in load_table(spark, sf_dir, "orders").collect()) == [1, 2]
    load_table(spark, sf_dir, "orders")  # second read: stored schema

    spark.createDataFrame([(3, "x"), (4, "y")], "o_orderkey long, o_comment string") \
        .write.mode("overwrite").parquet(path)
    df = load_table(spark, sf_dir, "orders")
    assert df.columns == ["o_orderkey", "o_comment"]
    assert sorted((r.o_orderkey, r.o_comment) for r in df.collect()) == [(3, "x"), (4, "y")]


def test_single_file_table_rewritten_in_place(spark, tmp_path):
    """The driver tables are single parquet files: rewriting one under the
    same name changes its length and mtime, so its schema is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "region")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    load_table(spark, sf_dir, "region")
    assert load_table(spark, sf_dir, "region").columns == ["r_regionkey"]

    pq.write_table(pa.table({"r_regionkey": [2], "r_name": ["ASIA"]}), path)
    assert [tuple(r) for r in load_table(spark, sf_dir, "region").collect()] == [(2, "ASIA")]
