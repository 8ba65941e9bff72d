"""X2 similarity search on crafted embeddings: exact cosine math, LSH bucket
recall of the true nearest neighbor, centroid profile shape.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from swiftbulkuploader_spark.functions.vectors import cosine_similarity, dot_product, l2_norm
from swiftbulkuploader_spark.operators.similarity import hyperplanes, lsh_signature


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


class TestVectorMath:
    def test_dot_and_norm(self, spark):
        df = _df(spark, [(0, [3.0, 4.0])])
        row = df.select(
            dot_product(F.col("embedding"), F.col("embedding")).alias("d"),
            l2_norm(F.col("embedding")).alias("n"),
        ).first()
        assert row["d"] == 25.0
        assert row["n"] == 5.0

    def test_cosine_bounds_and_identity(self, spark):
        df = _df(spark, [(0, [1.0, 2.0, 3.0]), (1, [-1.0, -2.0, -3.0])])
        q = F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0))
        got = {r["vec_id"]: r["c"] for r in df.select(
            "vec_id", cosine_similarity(F.col("embedding"), q).alias("c")).collect()}
        assert got[0] == pytest.approx(1.0)
        assert got[1] == pytest.approx(-1.0)

    def test_zero_vector_is_null_not_nan(self, spark):
        df = _df(spark, [(0, [0.0, 0.0])])
        q = F.array(F.lit(1.0), F.lit(0.0))
        assert df.select(cosine_similarity(F.col("embedding"), q).alias("c")).first()["c"] is None


class TestLSH:
    def test_identical_vectors_same_bucket(self, spark):
        planes = hyperplanes(n_planes=8, dim=4)
        df = _df(spark, [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0]),
                         (2, [2.0, 4.0, 6.0, 8.0])])  # scaled: same direction
        sigs = {r["vec_id"]: r["s"] for r in df.select(
            "vec_id", lsh_signature(F.col("embedding"), planes).alias("s")).collect()}
        assert sigs[0] == sigs[1] == sigs[2]

    def test_opposite_vectors_differ(self, spark):
        planes = hyperplanes(n_planes=8, dim=4)
        df = _df(spark, [(0, [1.0, 2.0, 3.0, 4.0]), (1, [-1.0, -2.0, -3.0, -4.0])])
        sigs = {r["vec_id"]: r["s"] for r in df.select(
            "vec_id", lsh_signature(F.col("embedding"), planes).alias("s")).collect()}
        # all 8 bits flip for exactly-opposite vectors
        assert sigs[0] ^ sigs[1] == (1 << 8) - 1

    def test_hyperplanes_deterministic(self):
        assert hyperplanes(4, 8, seed=7) == hyperplanes(4, 8, seed=7)
        assert hyperplanes(4, 8, seed=7) != hyperplanes(4, 8, seed=8)


class TestOnTestdata:
    def test_bucket_topk_consistent_with_exact(self, spark):
        """The driver embeddings are isotropic random vectors (measured:
        same-label mean cos ~ 0), so *no* ANN index can have good recall
        there — the honest guarantees are self-recall and consistency:
        whatever the probed buckets contain must score and rank exactly as
        brute force does."""
        from swiftbulkuploader_spark.operators.similarity import (
            x2_cosine_topk,
            x2_lsh_bucket_topk,
        )

        sf = "/root/testdata/sf0.001"
        exact = {r["vec_id"]: r["cos_sim"] for r in x2_cosine_topk(spark, sf).collect()}
        ann_rows = x2_lsh_bucket_topk(spark, sf).collect()
        ann = {r["vec_id"]: r["cos_sim"] for r in ann_rows}
        assert 0 in ann and ann[0] == pytest.approx(1.0)  # query self-recall
        # scores agree with brute force wherever the sets overlap
        for vid in set(ann) & set(exact):
            assert ann[vid] == exact[vid]
        # returned in descending score order
        scores = [r["cos_sim"] for r in ann_rows]
        assert scores == sorted(scores, reverse=True)

    def test_lsh_recall_on_clustered_data(self, spark):
        """On data with actual cluster structure (near-duplicate vectors),
        single-bucket LSH recalls the near-dups of the query."""
        import math
        import random

        rnd = random.Random(7)
        base = [rnd.gauss(0, 1) for _ in range(64)]
        rows = []
        for i in range(5):  # 5 near-copies of base (tiny perturbation)
            rows.append((i, [v + rnd.gauss(0, 0.01) for v in base]))
        for i in range(5, 105):  # 100 unrelated vectors
            rows.append((i, [rnd.gauss(0, 1) for _ in range(64)]))
        df = _df(spark, rows)
        planes = hyperplanes()
        sigs = {r["vec_id"]: r["s"] for r in df.select(
            "vec_id", lsh_signature(F.col("embedding"), planes).alias("s")).collect()}
        # near-copies land within hamming-1 of the query's bucket (one plane
        # has margin ~0.035 < noise): exactly the radius multiprobe covers
        ham = lambda a, b: bin(a ^ b).count("1")
        assert max(ham(sigs[0], sigs[i]) for i in range(5)) <= 1
        # and the bucket is selective: <10% of the unrelated vectors join it
        colliders = [i for i in range(5, 105) if ham(sigs[i], sigs[0]) <= 1]
        assert len(colliders) < 10


class TestIVF:
    def test_ivf_topk_consistent_and_self_recalled(self, spark):
        from swiftbulkuploader_spark.operators.similarity import (
            x2_cosine_topk,
            x2_ivf_topk,
        )

        sf = "/root/testdata/sf0.001"
        exact = {r["vec_id"]: r["cos_sim"] for r in x2_cosine_topk(spark, sf).collect()}
        rows = x2_ivf_topk(spark, sf).collect()
        ann = {r["vec_id"]: r["cos_sim"] for r in rows}
        assert ann[0] == pytest.approx(1.0)  # query's own cluster is probed
        for vid in set(ann) & set(exact):
            assert ann[vid] == exact[vid]     # scores agree with brute force
        scores = [r["cos_sim"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert len(rows) == 10                # probed clusters hold >=10 vecs


class TestHybridSearch:
    def test_rrf_fuses_both_rankings(self, spark):
        """Top results must include docs ranked well by EITHER list, RRF
        scores must be monotone in the output order, and a doc in both
        pools must outscore a same-rank doc present in only one."""
        from swiftbulkuploader_spark.operators.similarity import (
            RRF_K,
            x2_hybrid_search,
        )

        rows = x2_hybrid_search(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == 10
        scores = [r["rrf_score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        for r in rows:
            expect = 0.0
            if r["lex_rank"] is not None:
                expect += 1.0 / (RRF_K + r["lex_rank"])
            if r["vec_rank"] is not None:
                expect += 1.0 / (RRF_K + r["vec_rank"])
            assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9
        both = [r for r in rows if r["lex_rank"] is not None and r["vec_rank"] is not None]
        assert both, "fusion should surface docs present in both pools"


class TestMMRRerank:
    def test_diversification_reorders_relevance_ranking(self, spark, tmp_path):
        """Crafted pool where MMR provably disagrees with pure relevance:
        vec2 is nearly a duplicate of the top hit (sim ~0.995) while vec3
        is less relevant but diverse — MMR (lambda=0.7) must pick vec3
        second and demote the near-duplicate to third."""
        from swiftbulkuploader_spark.operators.similarity import x2_mmr_rerank

        def pad(v):
            return v + [0.0] * (8 - len(v))

        rows = [
            (0, pad([1.0, 0.0, 0.0]), 0),          # query vector
            (1, pad([0.9, 0.436, 0.0]), 0),        # rel ~0.90 (top hit)
            (2, pad([0.85, 0.527, 0.0]), 0),       # rel ~0.85, sim(1,2) ~0.995
            (3, pad([0.8, 0.0, 0.6]), 0),          # rel ~0.80, diverse
        ]
        spark.createDataFrame(
            rows, "vec_id: long, embedding: array<float>, label: int"
        ).write.parquet(str(tmp_path / "embeddings.parquet"))

        got = x2_mmr_rerank(spark, str(tmp_path)).collect()
        order = [r["vec_id"] for r in sorted(got, key=lambda r: r["mmr_rank"])]
        assert order == [1, 3, 2]  # pure relevance would be [1, 2, 3]
        rels = {r["vec_id"]: r["relevance"] for r in got}
        assert rels[1] > rels[2] > rels[3]  # relevance column is untouched

    def test_pool_bounded_and_deterministic_on_testdata(self, spark):
        from swiftbulkuploader_spark.operators.similarity import (
            MMR_SELECT,
            x2_mmr_rerank,
        )

        a = x2_mmr_rerank(spark, "/root/testdata/sf0.001").collect()
        b = x2_mmr_rerank(spark, "/root/testdata/sf0.001").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len(a) == MMR_SELECT
        assert [r["mmr_rank"] for r in sorted(a, key=lambda r: r["mmr_rank"])] \
            == list(range(1, MMR_SELECT + 1))


def test_ivf_kmeans_recall_at_least_first_n_quantizer(spark):
    """The KMeans-refined IVF must return 10 sane rows and achieve recall
    >= 0.5 against brute force on the driver data (the refined quantizer
    should not be WORSE than useless; exact recall is data-dependent)."""
    from swiftbulkuploader_spark.operators.similarity import (
        x2_cosine_topk,
        x2_ivf_kmeans_topk,
    )

    sf = "/root/testdata/sf0.001"
    got = x2_ivf_kmeans_topk(spark, sf).collect()
    assert len(got) == 10
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in got)
    exact = {r["vec_id"] for r in x2_cosine_topk(spark, sf).collect()}
    overlap = len(exact & {r["vec_id"] for r in got})
    # the driver embeddings are ISOTROPIC (no real cluster structure), so
    # 4-of-16 probes recovering >= 3 of the true top-10 is the sanity bar,
    # not a quality claim — IVF recall is meaningful only on clustered data
    assert overlap >= 3, f"recall@10 = {overlap}/10"


class TestProductQuantization:
    def test_codebook_vectors_quantize_to_themselves(self, spark):
        """Invariant: the PQ_K vectors whose subvectors ARE the codebooks
        must encode to their own index in every subspace with zero
        quantization error; everyone else's error is non-negative."""
        from swiftbulkuploader_spark.operators.similarity import (
            PQ_K,
            PQ_M,
            x2_pq_codes,
        )

        sf = "/root/testdata/sf0.001"
        rows = {r["vec_id"]: r for r in x2_pq_codes(spark, sf).collect()}
        for vid in range(PQ_K):
            r = rows[vid]
            assert all(r[f"c{m}"] == vid for m in range(PQ_M)), r
            assert r["qerr"] == 0.0
        assert all(r["qerr"] >= 0.0 for r in rows.values())
        assert all(0 <= r[f"c{m}"] < PQ_K
                   for r in rows.values() for m in range(PQ_M))


def test_lloyd_refined_centroids_deterministic(spark):
    """Two independent runs of the deterministic Lloyd refinement must
    produce BIT-IDENTICAL centroids (the property that let the query
    graduate from rows-only to hash-oracled)."""
    from swiftbulkuploader_spark.catalog import load_table
    from swiftbulkuploader_spark.operators.similarity import (
        lloyd_refined_centroids,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = lloyd_refined_centroids(emb)
    b = lloyd_refined_centroids(emb)
    assert a == b
    assert len(a) == 16 and all(len(c) == 64 for c in a)


class TestLiteralBatching:
    def test_lit_vec_matches_per_element_form(self, spark):
        """_lit_vec (one-call array literal) must be bit-identical to the
        per-element F.array(*[F.lit(v)]) form it replaced for plan-build
        speed (round 7) — same dtype, same values."""
        from swiftbulkuploader_spark.operators.similarity import _lit_vec

        vals = [0.123456789, -2.25, 3e-7, 1.0 / 3.0, 1e300]
        df = spark.range(1).select(
            F.array(*[F.lit(v) for v in vals]).alias("a"),
            _lit_vec(vals).alias("b"),
        )
        assert df.schema["a"].dataType == df.schema["b"].dataType
        row = df.select((F.col("a") == F.col("b")).alias("eq")).first()
        assert row["eq"]

    def test_pq_sqdist_python_fold_matches_catalyst_fold(self, spark):
        """_pq_sqdist_val sums in Python; the value must be BIT-identical
        to the unrolled lit-chain Catalyst constant-folds (same
        sequential IEEE-754 term order), including after the 6-dp round
        the callers apply."""
        from swiftbulkuploader_spark.operators.similarity import (
            _pq_sqdist_val,
        )

        q = [0.1, 0.2, 0.30000000001, 7e-3, 1.1, 2.2, 3.3, 4.4]
        c = [0.05, 1.9, 2.0, 1.0 / 3.0, 9.1, 0.25, 0.5, 0.75]
        chain = None
        for i in range(8):
            d = F.lit(q[i]) - F.lit(c[i])
            t = d * d
            chain = t if chain is None else chain + t
        lit = F.lit(_pq_sqdist_val(q, 0, c))
        row = spark.range(1).select(
            chain.alias("spark_fold"),
            lit.alias("py_fold"),
            (chain == lit).alias("eq"),
            (F.round(chain, 6) == F.round(lit, 6)).alias("eq6"),
        ).first()
        assert row["eq"] and row["eq6"]
        assert row["spark_fold"].hex() == row["py_fold"].hex()

    def test_sql_dvec_bit_identical_to_lit(self, spark):
        """_sql_dvec (SQL-text array literal) must parse to the identical
        doubles F.lit builds — repr is shortest-round-trip and Spark's
        parser recovers the same bits (r10: one-parse plan-build path)."""
        from swiftbulkuploader_spark.operators.similarity import _sql_dvec

        vals = [0.1805580010265112, 1e-05, -3.4e38, 2.5e-300, 7.0,
                1.0 / 3.0]
        row = spark.range(1).select(
            F.expr(_sql_dvec(vals)).alias("a"), F.lit(vals).alias("b")
        ).select((F.col("a") == F.col("b")).alias("eq")).first()
        assert row["eq"]

    def test_assign_sql_path_matches_column_path(self, spark):
        """assign_ivf_cluster's SQL-text fast path must pick the same
        cluster as the Column path on every row, for both round_dp
        settings — including an exact-tie (equal cosine -> higher cid)
        and a zero vector (null cosine -> coalesce -2.0)."""
        from swiftbulkuploader_spark.operators.similarity import (
            assign_ivf_cluster,
        )

        cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [2.0, 0.0, 0.0]]
        rows = [
            (0, [0.9, 0.1, 0.0]),
            (1, [0.0, 3.0, 0.1]),
            (2, [5.0, 0.0, 0.0]),   # tie: centroids 0 and 2 both cos=1
            (3, [0.0, 0.0, 0.0]),   # zero vector: all cosines null
            (4, [-1.0, -1.0, 7.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id: int, embedding: array<float>")
        for dp in (None, 6):
            got = df.select(
                "vec_id",
                assign_ivf_cluster(
                    F.col("embedding").cast("array<double>"), cents,
                    round_dp=dp,
                ).alias("a"),
                assign_ivf_cluster(
                    "CAST(embedding AS ARRAY<DOUBLE>)", cents, round_dp=dp
                ).alias("b"),
            ).collect()
            for r in got:
                assert r["a"] == r["b"], (dp, r)
            by_id = {r["vec_id"]: r["a"] for r in got}
            assert by_id[2] == 2      # tie goes to the higher cid
            assert by_id[3] == 2      # all -2.0: highest cid wins


class TestKCenterSelect:
    def test_covers_clusters_before_revisiting(self, spark, tmp_path):
        """Farthest-point traversal on 4 tight orthogonal clusters: the
        first 4 selections land in 4 DISTINCT clusters (the 2-approx
        cover guarantee), and the coverage radius never increases."""
        from swiftbulkuploader_spark.operators.similarity import (
            KCENTER_K,
            x2_kcenter_select,
        )

        rows = []
        for i in range(12):
            c = i % 4
            v = [0.0] * 8
            v[c] = 1.0
            v[4 + c] = 0.02 * (i // 4)   # tiny within-cluster spread
            rows.append((i, v, c))
        spark.createDataFrame(
            rows, "vec_id: long, embedding: array<float>, label: int"
        ).write.parquet(str(tmp_path / "embeddings.parquet"))

        got = sorted(x2_kcenter_select(spark, str(tmp_path)).collect(),
                     key=lambda r: r["sel_rank"])
        assert len(got) == KCENTER_K
        assert got[0]["vec_id"] == 0 and got[0]["coverage_dist"] is None
        first4 = {r["vec_id"] % 4 for r in got[:4]}
        assert first4 == {0, 1, 2, 3}            # one pick per cluster
        dists = [r["coverage_dist"] for r in got[1:]]
        assert all(a >= b for a, b in zip(dists, dists[1:]))  # monotone
        # cross-cluster picks sit near distance 1; within-cluster ~0
        assert all(d > 0.9 for d in dists[:3])
        assert all(d < 0.1 for d in dists[3:])


class TestSQ8TopK:
    def test_codes_and_ranking_on_crafted_vectors(self, spark, tmp_path):
        """Pin the quantizer math end-to-end: per-dim min/max train, uint8
        codes, integer code distance, ranking with vec_id tie-break."""
        rows = [
            (0, [0.0, 0.0], "a"),
            (1, [0.1, 0.0], "a"),
            (2, [1.0, 1.0], "b"),
            (3, [0.9, 1.0], "b"),
        ]
        from swiftbulkuploader_spark.operators.similarity import x2_sq8_topk

        df = spark.createDataFrame(
            rows, "vec_id: long, embedding: array<float>, label: string"
        )
        df.write.parquet(str(tmp_path / "embeddings.parquet"))
        got = x2_sq8_topk(spark, str(tmp_path)).collect()
        by_id = {r["vec_id"]: r["code_dist"] for r in got}
        # codes: dim stats mn=0, mx=1 -> step=1/256
        # v0=[0,0] v1=[25,0] (float32(0.1)*256=25.6) v2=[255,255]
        # v3=[230,255] (float32(0.9)*256=230.39)
        assert by_id[0] == 0
        assert by_id[1] == 25 * 25
        assert by_id[3] == 230 * 230 + 255 * 255
        assert by_id[2] == 2 * 255 * 255
        # ranking ascending by code distance
        assert [r["vec_id"] for r in got] == [0, 1, 3, 2]

    def test_recall_floor_on_smoke_corpus(self, spark):
        """The query vector itself must rank first at distance 0 and the
        code-space top-10 must overlap the exact cosine top-10 enough to
        be a usable index (>= 3/10 on the smoke embeddings)."""
        from swiftbulkuploader_spark.operators.similarity import x2_sq8_topk

        got = x2_sq8_topk(spark, "/root/testdata/sf0.001").collect()
        assert got[0]["vec_id"] == 0 and got[0]["code_dist"] == 0
        assert sum(r["in_exact10"] for r in got) >= 3


class TestClusterQuality:
    def test_report_invariants_and_cache_reuse(self, spark):
        """Every cluster reports itself against a DIFFERENT nearest
        centroid, cohesion is a valid mean of rounded cosines, members
        partition the corpus, and margin is exactly cohesion-separation.
        Second call reuses the cached quantizer (deterministic output)."""
        import pytest

        from swiftbulkuploader_spark.operators.similarity import x2_cluster_quality

        rows = x2_cluster_quality(spark, "/root/testdata/sf0.001").collect()
        assert 1 <= len(rows) <= 16
        assert sum(r["n_members"] for r in rows) == 500
        for r in rows:
            assert r["nn_cid"] != r["cid"]
            assert -1.0 <= r["cohesion"] <= 1.0
            assert -2.0 <= r["separation"] <= 1.0
            assert r["margin"] == pytest.approx(r["cohesion"] - r["separation"])
        again = x2_cluster_quality(spark, "/root/testdata/sf0.001").collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


class TestPcaPower:
    def _write_embeddings(self, spark, tmp_path, vecs):
        rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(
            rows, "vec_id: long, embedding: array<float>, label: int"
        )
        df.write.parquet(str(tmp_path / "embeddings.parquet"))

    def test_single_direction_with_offset_mean(self, spark, tmp_path):
        """Variation only along dim 0 with a constant +7 offset in dim 1:
        centering removes the offset, the loading converges to e0 exactly,
        eigenvalue = sample variance 40/3, scores are the centered dim-0
        values and residuals are 0."""
        import pytest as _pt

        from swiftbulkuploader_spark import memo
        from swiftbulkuploader_spark.operators.similarity import (
            x2_pca_power,
            x2_pca_project,
        )

        memo.clear("pca_power")
        vecs = [
            (2.0, 7.0, 0.0, 0.0),
            (-2.0, 7.0, 0.0, 0.0),
            (4.0, 7.0, 0.0, 0.0),
            (-4.0, 7.0, 0.0, 0.0),
        ]
        self._write_embeddings(spark, tmp_path, vecs)
        model = {r["dim"]: r for r in x2_pca_power(spark, str(tmp_path)).collect()}
        assert model[0]["loading"] == _pt.approx(1.0)
        assert all(model[d]["loading"] == 0.0 for d in (1, 2, 3))
        assert model[1]["mean"] == _pt.approx(7.0)
        assert model[0]["eigenvalue"] == _pt.approx(40.0 / 3.0)
        proj = {r["vec_id"]: r for r in x2_pca_project(spark, str(tmp_path)).collect()}
        assert proj[0]["score"] == _pt.approx(2.0)
        assert proj[3]["score"] == _pt.approx(-4.0)
        assert all(r["residual"] == _pt.approx(0.0) for r in proj.values())

    def test_residual_orthogonal_component(self, spark, tmp_path):
        """A vector orthogonal to the dominant direction scores ~0 and
        keeps its full norm as residual."""
        import pytest as _pt

        from swiftbulkuploader_spark import memo
        from swiftbulkuploader_spark.operators.similarity import x2_pca_project

        memo.clear("pca_power")
        vecs = [
            (3.0, 0.0, 0.0, 0.0),
            (-3.0, 0.0, 0.0, 0.0),
            (3.0, 0.0, 0.0, 0.0),
            (-3.0, 0.0, 0.0, 0.0),
            (0.0, 2.0, 0.0, 0.0),
            (0.0, -2.0, 0.0, 0.0),
        ]
        self._write_embeddings(spark, tmp_path, vecs)
        proj = {r["vec_id"]: r for r in x2_pca_project(spark, str(tmp_path)).collect()}
        # dim-1 vectors: tiny score along e0, residual ~ their norm
        assert abs(proj[4]["score"]) < 0.2
        assert proj[4]["residual"] == _pt.approx(2.0, abs=0.05)


class TestKnnAccuracy:
    def test_separated_clusters_with_one_mislabel(self, spark, tmp_path):
        """Two centroid anchors (vec_id < 32) and satellites: clean labels
        score 1.0; a single mislabeled satellite in cluster 0 is predicted
        as the cluster majority -> label-1 accuracy 4/5."""
        import pytest as _pt

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0], 0),     # anchor / centroid 0
            (1, [0.0, 1.0, 0.0, 0.0], 1),     # anchor / centroid 1
            (100, [1.0, 0.01, 0.0, 0.0], 0),
            (101, [1.0, 0.02, 0.0, 0.0], 0),
            (102, [1.0, 0.03, 0.0, 0.0], 0),
            (103, [1.0, 0.04, 0.0, 0.0], 1),  # mislabeled satellite
            (200, [0.01, 1.0, 0.0, 0.0], 1),
            (201, [0.02, 1.0, 0.0, 0.0], 1),
            (202, [0.03, 1.0, 0.0, 0.0], 1),
        ]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v], lbl) for i, v, lbl in rows],
            "vec_id: long, embedding: array<float>, label: int",
        )
        df.write.parquet(str(tmp_path / "embeddings.parquet"))
        from swiftbulkuploader_spark.operators.similarity import x2_knn_accuracy

        got = {r["label"]: r for r in x2_knn_accuracy(spark, str(tmp_path)).collect()}
        # label 0: anchor + 3 clean satellites, all predicted 0
        assert got[0]["n_scored"] == 4 and got[0]["accuracy"] == 1.0
        # label 1: anchor + 3 clean satellites correct, mislabeled one wrong
        assert got[1]["n_scored"] == 5
        assert got[1]["n_correct"] == 4
        assert got[1]["accuracy"] == _pt.approx(0.8)


class TestBqTopk:
    def test_hamming_ranks_and_recall_flag(self, spark, tmp_path):
        """Mean-threshold bits: v0/v1 share all 4 bits (hamming 0), v2 is
        the complement (hamming 4); the query (vec 0) tops its own list
        with in_exact10 = 1."""
        rows = [
            (0, [1.0, 1.0, 0.0, 0.0], 0),
            (1, [1.0, 1.0, 0.0, 0.0], 0),
            (2, [0.0, 0.0, 1.0, 1.0], 1),
        ]
        df = spark.createDataFrame(
            rows, "vec_id: long, embedding: array<float>, label: int"
        )
        df.write.parquet(str(tmp_path / "embeddings.parquet"))
        from swiftbulkuploader_spark.operators.similarity import x2_bq_topk

        got = {r["vec_id"]: r for r in x2_bq_topk(spark, str(tmp_path)).collect()}
        assert got[0]["hamming"] == 0 and got[0]["in_exact10"] == 1
        assert got[1]["hamming"] == 0
        assert got[2]["hamming"] == 4


class TestNdcgEval:
    def test_perfect_agreement_on_tiny_corpus(self, spark, tmp_path):
        """BQ and exact orderings agree on a 3-vector corpus: dcg is the
        graded ladder 10,9,8 at positions 1,2,3; idcg stays the fixed
        10-deep ideal, so ndcg = dcg/idcg < 1 by construction."""
        import math

        import pytest as _pt

        rows = [
            (0, [1.0, 1.0, 0.0, 0.0], 0),
            (1, [1.0, 0.9, 0.0, 0.0], 0),
            (2, [0.0, 0.0, 1.0, 1.0], 1),
        ]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v], l) for i, v, l in rows],
            "vec_id: long, embedding: array<float>, label: int",
        )
        df.write.parquet(str(tmp_path / "embeddings.parquet"))
        from swiftbulkuploader_spark.operators.similarity import x2_ndcg_eval

        r = x2_ndcg_eval(spark, str(tmp_path)).collect()[0]
        assert r["n_relevant_retrieved"] == 3
        idcg = sum((11.0 - j) / math.log2(j + 1.0) for j in range(1, 11))
        assert r["idcg"] == _pt.approx(idcg)
        assert r["ndcg"] == _pt.approx(r["dcg"] / idcg)
        assert 0 < r["ndcg"] < 1
