"""memo: a memoized substrate is never served after its input changed.

Each rewrite test writes a driver table as a single parquet file (the
driver tables' layout), builds a query, rewrites the file in place within
the same session, and checks the next build against the same query over a
fresh path holding the new data."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table, table_path

from conftest import SF_SMOKE


def _write(sf_dir: str, name: str, table) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, table_path(sf_dir, name))


def _smoke(name: str):
    return pq.read_table(table_path(SF_SMOKE, name))


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rewritten_documents():
    """Every odd doc copies the text of the doc before it: many exact
    duplicate pairs that the smoke corpus does not have."""
    docs = _smoke("documents").to_pylist()
    for i in range(1, len(docs), 2):
        docs[i]["text"] = docs[i - 1]["text"]
        docs[i]["n_chars"] = docs[i - 1]["n_chars"]
    return _smoke("documents").from_pylist(docs, schema=_smoke("documents").schema)


def _shifted_embeddings():
    """vec_id i takes the embedding of vec_id i + 7: new anchor vector,
    new first-k centroids, same ids and row count."""
    emb = _smoke("embeddings")
    rows = emb.to_pylist()
    n = len(rows)
    vecs = [r["embedding"] for r in rows]
    for i, r in enumerate(rows):
        r["embedding"] = vecs[(i + 7) % n]
    return emb.from_pylist(rows, schema=emb.schema)


def test_calibration_bins_follow_rewritten_documents(spark, tmp_path):
    from swiftbulkuploader_spark.operators.textops import x6_calibration_bins

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write(a, "documents", _smoke("documents"))
    before = _rows(x6_calibration_bins(spark, a))
    assert sum(r[1] for r in before) == 500
    x6_calibration_bins(spark, a)  # warm: the trained student is reused

    new = _smoke("documents").slice(0, 300)
    _write(a, "documents", new)
    _write(b, "documents", new)
    after = _rows(x6_calibration_bins(spark, a))
    assert sum(r[1] for r in after) == 300
    assert after == _rows(x6_calibration_bins(spark, b))


def test_ivf_quantizers_follow_rewritten_embeddings(spark, tmp_path):
    from swiftbulkuploader_spark.operators.similarity import (
        _ivf_centroids,
        lloyd_refined_centroids,
        x2_ivf_kmeans_topk,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write(a, "embeddings", _smoke("embeddings"))
    before = _rows(x2_ivf_kmeans_topk(spark, a))
    old_cents = _ivf_centroids(spark, a)
    old_lloyd = lloyd_refined_centroids(load_table(spark, a, "embeddings"))

    _write(a, "embeddings", _shifted_embeddings())
    _write(b, "embeddings", _shifted_embeddings())
    assert _ivf_centroids(spark, a) == _ivf_centroids(spark, b) != old_cents
    new_lloyd = lloyd_refined_centroids(load_table(spark, a, "embeddings"))
    assert new_lloyd == lloyd_refined_centroids(
        load_table(spark, b, "embeddings")) != old_lloyd
    after = _rows(x2_ivf_kmeans_topk(spark, a))
    assert after == _rows(x2_ivf_kmeans_topk(spark, b)) != before


def test_allpairs_follows_rewritten_documents(spark, tmp_path):
    from swiftbulkuploader_spark.operators.dedup import x1_allpairs_prefix

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write(a, "documents", _smoke("documents"))
    before = _rows(x1_allpairs_prefix(spark, a))

    _write(a, "documents", _rewritten_documents())
    _write(b, "documents", _rewritten_documents())
    after = _rows(x1_allpairs_prefix(spark, a))
    assert after == _rows(x1_allpairs_prefix(spark, b))
    assert len(after) > len(before)


def test_superseded_frame_is_no_longer_cached(spark, tmp_path):
    """The frames cached for the old file are released once a build sees
    the rewrite: their RDDs leave Spark's persistent set."""
    from swiftbulkuploader_spark.operators.dedup import x1_allpairs_prefix

    a = str(tmp_path / "a")
    _write(a, "documents", _smoke("documents"))
    held = _persistent_rdd_ids(spark)
    x1_allpairs_prefix(spark, a).collect()
    old = _persistent_rdd_ids(spark) - held
    assert old  # the pair frame and its shingle base are cached

    _write(a, "documents", _rewritten_documents())
    x1_allpairs_prefix(spark, a).collect()
    now = _persistent_rdd_ids(spark)
    assert not old & now
    assert now - held  # the rebuilt frames are cached instead


def test_nested_memo_passes_its_inputs_on(spark, tmp_path):
    """An outer memo whose only table read happens inside an inner memo
    (a hit, so nothing is read during the outer build) still misses after
    that table is rewritten."""
    import pyarrow as pa

    sf = str(tmp_path / "sf")

    def orders(n: int):
        return pa.table({"o_orderkey": pa.array(range(n), pa.int64())})

    _write(sf, "orders", orders(3))
    builds = []

    def inner():
        return memo.get(spark, "test_inner", (sf,),
                        lambda: load_table(spark, sf, "orders").count())

    def outer():
        builds.append(1)
        return 2 * inner()

    assert inner() == 3
    assert memo.get(spark, "test_outer", (sf,), outer) == 6
    assert memo.get(spark, "test_outer", (sf,), outer) == 6
    assert len(builds) == 1

    _write(sf, "orders", orders(5))
    assert memo.get(spark, "test_outer", (sf,), outer) == 10
    assert len(builds) == 2


def _jobs_during(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_artifact_serve_reads_no_schema(spark):
    """The artifact tables are read with their memoized schemas: a warm
    build of x2_ivf_pq_from_artifact runs no footer-reading inference job,
    where each of its five schema-less reads used to add one."""
    from swiftbulkuploader_spark.operators.ann_index import (
        x2_ivf_pq_from_artifact,
    )

    x2_ivf_pq_from_artifact(spark, SF_SMOKE)
    jobs = _jobs_during(spark, lambda: x2_ivf_pq_from_artifact(spark, SF_SMOKE),
                        "memo-warm-artifact")
    store = spark.sparkContext._jsc.sc().statusStore()
    assert not [j for j in jobs if store.job(j).name().startswith("parquet")]
    assert len(jobs) <= 7


def test_partitioned_assignments_match_an_inferring_read(spark, tmp_path):
    from swiftbulkuploader_spark.operators.ann_index import (
        ensure_index,
        load_index,
    )

    path = ensure_index(spark, SF_SMOKE, str(tmp_path / "index"))
    stored = load_index(spark, path).assignments
    fresh = spark.read.parquet(os.path.join(path, "assignments"))
    assert stored.dtypes == fresh.dtypes
    assert _rows(stored) == _rows(fresh)


def test_warm_artifact_builds_skip_the_artifact_collects(spark):
    """A loaded index or model is a session memo: from the second build on,
    an artifact-backed query runs no job for the centroid, codebook,
    merge or basis collects. Before, the third build at sf0.01 fired 7 /
    5 / 4 jobs."""
    from swiftbulkuploader_spark.operators.ann_index import (
        x2_ivf_pq_from_artifact,
    )
    from swiftbulkuploader_spark.operators.model_store import (
        x2_pca_project_from_artifact,
        x3_bpe_encode_from_artifact,
    )

    sf = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    for query, before in ((x2_ivf_pq_from_artifact, 7),
                          (x2_pca_project_from_artifact, 5),
                          (x3_bpe_encode_from_artifact, 4)):
        query(spark, sf)
        query(spark, sf)
        jobs = _jobs_during(spark, lambda: query(spark, sf),
                            f"memo-third-{query.__name__}")
        assert len(jobs) < before, (query.__name__, len(jobs))


def test_rewritten_centroids_are_loaded_again(spark, tmp_path):
    from swiftbulkuploader_spark.operators.ann_index import (
        ensure_index,
        load_index,
    )

    path = ensure_index(spark, SF_SMOKE, str(tmp_path / "index"))
    old = load_index(spark, path).centroids
    new = [[x + 1.0 for x in c] for c in old]
    spark.createDataFrame(
        list(enumerate(new)), "cid int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    assert load_index(spark, path).centroids == new
