"""ANN artifact persistence (r10 verdict ask #6): a session that never
ran training serves bit-identical top-k from the loaded parquet
artifact — training entry points are monkeypatched to RAISE in the
serving session, so any retrain sneaking into the serve path fails
loudly. Also pins the partition-pruned layout and codebook round-trip.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _rows(df):
    return [(r["vec_id"], r["cos_sim"]) for r in df.collect()]


class TestAnnArtifact:
    def test_serve_without_training_is_bit_identical(self, spark,
                                                     tmp_path,
                                                     monkeypatch):
        from swiftbulkuploader_spark.catalog import load_table
        from swiftbulkuploader_spark.operators import ann_index, similarity
        from swiftbulkuploader_spark.operators.similarity import (
            _query_vector,
            x2_ivf_topk,
        )

        from swiftbulkuploader_spark.operators.similarity import (
            x2_ivf_pq_topk,
        )

        path = str(tmp_path / "index")
        # session A: train + publish, and record both inline results
        ann_index.save_index(spark, SF, path)
        expected = _rows(x2_ivf_topk(spark, SF))
        pq_expected = [
            (r["vec_id"], r["cluster"], r["adc_dist"])
            for r in x2_ivf_pq_topk(spark, SF).collect()
        ]

        # session B: a fresh session over the same warehouse that CANNOT
        # train — every training entry point raises
        spark_b = spark.newSession()

        def forbidden(*a, **kw):
            raise AssertionError("serve path invoked a training function")

        monkeypatch.setattr(similarity, "_ivf_centroids", forbidden)
        monkeypatch.setattr(similarity, "_pq_codebooks", forbidden)
        monkeypatch.setattr(similarity, "lloyd_refined_centroids", forbidden)
        monkeypatch.setattr(ann_index, "_ivf_centroids", forbidden)
        monkeypatch.setattr(ann_index, "_pq_codebooks", forbidden)
        monkeypatch.setattr(ann_index, "save_index", forbidden)

        idx = ann_index.load_index(spark_b, path)
        emb = load_table(spark_b, SF, "embeddings")
        q = _query_vector(spark_b, SF, 0)
        served = _rows(ann_index.serve_ivf_topk(spark_b, emb, idx, q))
        assert served == expected  # bit-identical, no retraining

        # the IVFADC serve likewise: pre-encoded codes + literal ADC,
        # identical to the inline x2_ivf_pq_topk (which trains)
        pq_served = [
            (r["vec_id"], r["cluster"], r["adc_dist"])
            for r in ann_index.serve_ivf_pq_topk(spark_b, idx, q).collect()
        ]
        assert pq_served == pq_expected

    def test_artifact_layout_and_codebook_roundtrip(self, spark, tmp_path):
        from swiftbulkuploader_spark.operators import ann_index
        from swiftbulkuploader_spark.operators.similarity import (
            _ivf_centroids,
            _pq_codebooks,
        )

        path = str(tmp_path / "index")
        ann_index.save_index(spark, SF, path)

        # assignments are PHYSICALLY partitioned by cluster — the
        # partition-pruning contract at scale
        parts = [
            d for d in os.listdir(os.path.join(path, "assignments"))
            if d.startswith("cluster=")
        ]
        assert len(parts) > 1

        idx = ann_index.load_index(spark, path)
        assert idx.centroids == _ivf_centroids(spark, SF)
        assert idx.codebooks == _pq_codebooks(spark, SF)
        # every corpus vector assigned exactly once
        n_vec = spark.read.parquet(f"{SF}/embeddings.parquet").count()
        assert idx.assignments.count() == n_vec
        assert idx.assignments.select("vec_id").distinct().count() == n_vec

    def test_stale_format_never_served(self, tmp_path):
        """Version bump changes the default artifact location, so an old
        artifact can't satisfy a new recipe's existence check."""
        from swiftbulkuploader_spark.operators import ann_index

        p1 = ann_index.default_index_path("/data/sf0.01")
        assert f"_v{ann_index.INDEX_FORMAT_VERSION}" in p1
        assert p1.endswith("sf0.01")
    def test_fingerprint_manifest_gates_serving(self, spark, tmp_path,
                                                monkeypatch):
        """r11 ADVICE #1: ensure_index serves an existing artifact ONLY
        when its manifest fingerprint matches the current dataset —
        a manifest-less directory (old/partial artifact), or one trained
        on different data, is retrained; a matching one is never."""
        from swiftbulkuploader_spark.operators import ann_index

        path = str(tmp_path / "index")
        ann_index.save_index(spark, SF, path)
        fp = ann_index.dataset_fingerprint(spark, SF)
        assert ann_index._manifest_matches(spark, path, fp)

        # matching manifest: ensure_index must NOT retrain
        def forbidden(*a, **kw):
            raise AssertionError("retrained despite a current manifest")

        monkeypatch.setattr(ann_index, "save_index", forbidden)
        assert ann_index.ensure_index(spark, SF, path) == path
        monkeypatch.undo()

        # foreign artifact: same layout, wrong fingerprint -> retrain
        spark.createDataFrame(
            [("not-this-dataset", ann_index.INDEX_FORMAT_VERSION)],
            "fingerprint string, format_version int",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "manifest")
        )
        calls = {"n": 0}
        real_save = ann_index.save_index

        def counting_save(*a, **kw):
            calls["n"] += 1
            return real_save(*a, **kw)

        monkeypatch.setattr(ann_index, "save_index", counting_save)
        ann_index.ensure_index(spark, SF, path)
        assert calls["n"] == 1  # retrained
        assert ann_index._manifest_matches(spark, path, fp)  # republished

        # manifest-less directory (pre-manifest or partial publish)
        import shutil
        shutil.rmtree(os.path.join(path, "manifest"))
        ann_index.ensure_index(spark, SF, path)
        assert calls["n"] == 2

    def test_partial_reindex_unflagged_byte_stable(self, spark, tmp_path):
        """r11 verdict ask #4: the repair republish touches ONLY flagged
        clusters — unflagged centroid rows and assignment sets are
        bit-identical across the two artifact versions, flagged
        centroids changed, and the new artifact carries a current
        manifest (servable without retrain)."""
        from swiftbulkuploader_spark.operators import ann_index

        v1 = str(tmp_path / "index_v1")
        v2 = str(tmp_path / "index_v2")
        ann_index.save_index(spark, SF, v1)
        flagged = ann_index.partial_reindex(spark, SF, v1, v2)
        assert flagged  # the relative rule always selects a budget

        c1 = {r["cid"]: list(r["cv"]) for r in
              spark.read.parquet(os.path.join(v1, "centroids")).collect()}
        c2 = {r["cid"]: list(r["cv"]) for r in
              spark.read.parquet(os.path.join(v2, "centroids")).collect()}
        assert set(c1) == set(c2)
        changed = [cid for cid in c1 if c1[cid] != c2[cid]]
        assert sorted(changed) == sorted(
            cid for cid in flagged if c1[cid] != c2[cid])
        assert all(cid in flagged for cid in changed)
        assert any(c1[cid] != c2[cid] for cid in flagged)
        for cid in c1:
            if cid not in flagged:
                assert c1[cid] == c2[cid]  # byte-stable centroid

        a1 = spark.read.parquet(os.path.join(v1, "assignments"))
        a2 = spark.read.parquet(os.path.join(v2, "assignments"))
        for cid in c1:
            if cid in flagged:
                continue
            s1 = {r["vec_id"] for r in
                  a1.filter(F.col("cluster") == cid).collect()}
            s2 = {r["vec_id"] for r in
                  a2.filter(F.col("cluster") == cid).collect()}
            assert s1 == s2  # byte-stable membership
        # population conserved overall
        assert a1.count() == a2.count()
        # the repaired artifact is immediately servable (manifest current)
        fp = ann_index.dataset_fingerprint(spark, SF)
        assert ann_index._manifest_matches(spark, v2, fp)

    def test_partial_reindex_rejects_in_place(self, spark, tmp_path):
        """r12 ADVICE #4: an in-place repair (src == dst) would overwrite
        the source artifact while lazily reading it — refused up front,
        including path-alias forms, before any IO happens."""
        from swiftbulkuploader_spark.operators import ann_index

        p = str(tmp_path / "index")
        with pytest.raises(ValueError, match="dst_path != src_path"):
            ann_index.partial_reindex(spark, SF, p, p)
        alias = str(tmp_path / "x" / ".." / "index")
        with pytest.raises(ValueError, match="dst_path != src_path"):
            ann_index.partial_reindex(spark, SF, p, alias)

    def test_fingerprint_sees_same_shape_regeneration(self, spark,
                                                      tmp_path):
        """r12 verdict #3 / ADVICE #1: a regenerated embeddings table with
        IDENTICAL row count and dim at the same path must change the
        fingerprint (the content signal), so a stale artifact is
        retrained, never served."""
        from swiftbulkuploader_spark.operators import ann_index

        sfd = str(tmp_path / "sfgen")
        os.makedirs(sfd)

        def write(seed: float) -> None:
            spark.createDataFrame(
                [(i, [float(i) * seed, 1.0 - seed]) for i in range(8)],
                "vec_id long, embedding array<float>",
            ).write.mode("overwrite").parquet(
                os.path.join(sfd, "embeddings.parquet"))

        write(0.25)
        fp1 = ann_index.dataset_fingerprint(spark, sfd)
        write(0.75)  # same count, same dim, different values
        fp2 = ann_index.dataset_fingerprint(spark, sfd)  # memo input changed
        assert fp1 != fp2
        assert ann_index.dataset_fingerprint(spark, sfd) == fp2
