"""Model-artifact persistence (r11 verdict ask #3): a session that never
trained serves bit-identical results from the loaded parquet artifacts —
training entry points are monkeypatched to RAISE in the serving session,
so any retrain sneaking into a serve path fails loudly. Also pins the
fingerprint-manifest gate (stale/foreign artifacts retrain; current ones
never do — the ann_index discipline)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F  # noqa: F401

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestModelStore:
    def test_serve_without_training_is_bit_identical(self, spark, tmp_path,
                                                     monkeypatch):
        from swiftbulkuploader_spark.operators import (
            model_store,
            similarity,
            textops,
        )

        path = str(tmp_path / "models")
        # session A: train + publish all three artifacts, record the
        # inline (train+apply) results
        model_store.save_bpe(spark, SF, os.path.join(path, "bpe"))
        model_store.save_quality_model(spark, SF,
                                       os.path.join(path, "quality"))
        model_store.save_pca(spark, SF, os.path.join(path, "pca"))
        exp_bpe = _sorted_rows(textops.QUERIES["x3_bpe_encode"](spark, SF))
        exp_qt = _sorted_rows(textops.QUERIES["x3_quality_train"](spark, SF))
        exp_pca = _sorted_rows(
            similarity.QUERIES["x2_pca_project"](spark, SF))

        # session B cannot train: every training entry point raises
        def forbidden(*a, **kw):
            raise AssertionError("serve path invoked a training function")

        monkeypatch.setattr(textops, "_bpe_merges", forbidden)
        monkeypatch.setattr(textops, "_qt_train", forbidden)
        monkeypatch.setattr(textops, "x3_quality_train", forbidden)
        monkeypatch.setattr(similarity, "_pca_power", forbidden)
        for fn in ("save_bpe", "save_quality_model", "save_pca"):
            monkeypatch.setattr(model_store, fn, forbidden)

        spark_b = spark.newSession()
        merges = model_store.load_bpe(
            spark_b, os.path.join(path, "bpe"))
        got_bpe = _sorted_rows(
            textops.bpe_encode_with_merges(spark_b, SF, merges))
        assert got_bpe == exp_bpe

        w = model_store.load_quality_model(
            spark_b, os.path.join(path, "quality"))
        got_qt = _sorted_rows(
            textops.qt_report(textops._qt_feats(spark_b, SF), w))
        assert got_qt == exp_qt

        mu, v, _nrm, _n = model_store.load_pca(
            spark_b, os.path.join(path, "pca"))
        got_pca = _sorted_rows(
            similarity.pca_project_with_basis(spark_b, SF, mu, v))
        assert got_pca == exp_pca

    def test_fingerprint_manifest_gate(self, spark, tmp_path, monkeypatch):
        """ensure_bpe serves an existing artifact only when the manifest
        fingerprint matches; foreign/missing manifests retrain."""
        from swiftbulkuploader_spark.operators import model_store

        mdir = str(tmp_path / "models" / "bpe")
        model_store.save_bpe(spark, SF, mdir)
        fp = model_store.table_fingerprint(spark, SF, "documents")
        assert model_store._manifest_matches(spark, mdir, fp)

        # current manifest: must NOT retrain
        def forbidden(*a, **kw):
            raise AssertionError("retrained despite a current manifest")

        monkeypatch.setattr(model_store, "save_bpe", forbidden)
        merges = model_store.ensure_bpe(spark, SF, str(tmp_path / "models"))
        assert merges == model_store.load_bpe(spark, mdir)
        monkeypatch.undo()

        # foreign fingerprint -> retrain + republish
        spark.createDataFrame(
            [("other-data", model_store.MODEL_FORMAT_VERSION)],
            "fingerprint string, format_version int",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(mdir, "manifest"))
        calls = {"n": 0}
        real_save = model_store.save_bpe

        def counting(*a, **kw):
            calls["n"] += 1
            return real_save(*a, **kw)

        monkeypatch.setattr(model_store, "save_bpe", counting)
        model_store.ensure_bpe(spark, SF, str(tmp_path / "models"))
        assert calls["n"] == 1
        assert model_store._manifest_matches(spark, mdir, fp)

    def test_same_count_regeneration_retrains(self, spark, tmp_path,
                                              monkeypatch):
        """r12 verdict #3 / ADVICE #1: the r12 fingerprint keyed on row
        count only, so a regenerated documents table with the SAME count
        but different content silently served the stale artifact. The
        content signal (sum(octet_length(text))) must flip the
        fingerprint and ensure_bpe must observe a retrain."""
        import os as _os

        from swiftbulkuploader_spark.operators import model_store

        sfd = str(tmp_path / "sfgen")
        _os.makedirs(sfd)

        def write_docs(txt: str) -> None:
            spark.createDataFrame(
                [(i, f"{txt} {i}") for i in range(6)],
                "doc_id long, text string",
            ).write.mode("overwrite").parquet(
                _os.path.join(sfd, "documents.parquet"))

        write_docs("alpha beta")
        mroot = str(tmp_path / "models")
        calls = {"n": 0}

        def fake_save(spark_, sf_dir_, mdir_) -> None:
            calls["n"] += 1
            spark_.createDataFrame(
                [(0, "a", "b", "ab", 1)],
                "rank int, x string, y string, merged string, cnt long",
            ).coalesce(1).write.mode("overwrite").parquet(
                _os.path.join(mdir_, "merges"))
            model_store._write_manifest(
                spark_, mdir_,
                model_store.table_fingerprint(spark_, sf_dir_, "documents"),
                model_store.MODEL_FORMAT_VERSION)

        monkeypatch.setattr(model_store, "save_bpe", fake_save)
        model_store.ensure_bpe(spark, sfd, mroot)
        assert calls["n"] == 1  # first publish
        model_store.ensure_bpe(spark, sfd, mroot)
        assert calls["n"] == 1  # current manifest: served, no retrain

        # regenerate: SAME row count, different content bytes — the
        # fingerprint memo's input changed, so it misses on its own
        write_docs("gamma delta longer")
        model_store.ensure_bpe(spark, sfd, mroot)
        assert calls["n"] == 2  # content change observed -> retrain
