"""Connected components / dedup clustering: crafted graphs with known
components, including chains that require transitive closure across rounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from swiftbulkuploader_spark.operators.components import connected_components, dedup_clusters


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a: long, b: long")


def _components(spark, pairs):
    rows = connected_components(_edges(spark, pairs)).collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(v) for v in out.values()}


class TestConnectedComponents:
    def test_two_triangles(self, spark):
        comps = _components(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)])
        assert comps == {frozenset({1, 2, 3}), frozenset({10, 11, 12})}

    def test_long_chain_closes_transitively(self, spark):
        # 0-1-2-...-9: one component; requires multiple star rounds
        comps = _components(spark, [(i, i + 1) for i in range(9)])
        assert comps == {frozenset(range(10))}

    def test_duplicate_and_reversed_edges(self, spark):
        comps = _components(spark, [(2, 1), (1, 2), (2, 1), (3, 2)])
        assert comps == {frozenset({1, 2, 3})}

    def test_star_graph(self, spark):
        comps = _components(spark, [(100, i) for i in range(5)])
        assert comps == {frozenset({0, 1, 2, 3, 4, 100})}


class TestDedupClusters:
    def test_survivor_is_min_id(self, spark):
        pairs = spark.createDataFrame(
            [(5, 9), (9, 7), (20, 21)], "doc_a: long, doc_b: long"
        )
        rows = {r["doc_id"]: (r["cluster_id"], r["is_survivor"])
                for r in dedup_clusters(pairs).collect()}
        assert rows[5] == (5, True)
        assert rows[9] == (5, False)
        assert rows[7] == (5, False)
        assert rows[20] == (20, True)
        assert rows[21] == (20, False)

    def test_end_to_end_with_minhash(self, spark):
        """Compose: corpus -> minhash pairs -> clusters."""
        from swiftbulkuploader_spark.operators.dedup import minhash_exact_pairs

        base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lambda mu nu xi omicron pi rho sigma tau upsilon")
        docs = spark.createDataFrame(
            [(0, base), (1, base), (2, base.replace("sigma", "SIGMA")),
             (3, "utterly unrelated words nothing shared here at all twelve "
                 "thirteen fourteen fifteen sixteen seventeen eighteen nineteen "
                 "twenty twentyone twentytwo twentythree twentyfour twentyfive")],
            "doc_id: long, text: string",
        )
        pairs = minhash_exact_pairs(docs)
        rows = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
        assert rows[0]["cluster_id"] == 0 and rows[0]["is_survivor"]
        assert rows[1]["cluster_id"] == 0 and not rows[1]["is_survivor"]
        assert rows[2]["cluster_id"] == 0 and not rows[2]["is_survivor"]
        assert 3 not in rows  # no near-dup pair -> not in any cluster


class TestDupClustersContract:
    def test_x1_dup_clusters_chain(self, spark, tmp_path):
        """Contract query end-to-end: A~B and B~C near-dups must land in ONE
        cluster (id = min doc_id, the closure invariant) whose survivor is
        the LONGEST member (keep-best policy), not the min id."""
        from swiftbulkuploader_spark.operators.components import x1_dup_clusters

        base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
        # suffix-append variants: J(a,b)~0.95, J(b,c)~0.95 — high enough that
        # 8x4 banding catches them deterministically (P(miss) < 1e-6)
        a, b, c = base, base + " omega1", base + " omega1 omega2"
        far = ("unrelated corpus text about distributed query engines and "
               "columnar parquet storage with vectorized readers running daily")
        df = spark.createDataFrame(
            [(10, a), (11, b), (12, c), (13, far)],
            "doc_id: long, text: string",
        ).withColumns({"lang": F.lit("en"), "source": F.lit("s"), "n_chars": F.length("text")})
        df.write.parquet(str(tmp_path / "documents.parquet"))
        rows = {r["cluster_id"]: r for r in x1_dup_clusters(spark, str(tmp_path)).collect()}
        assert 10 in rows
        # doc 12 is the longest chain member -> keep-best survivor; the
        # cluster is still labeled by its min id (10)
        assert rows[10]["cluster_size"] == 3 and rows[10]["survivor_id"] == 12
        assert all(cid == 10 for cid in rows)  # far doc joins no cluster


class TestStarComponents:
    """Large-star/small-star (Kiveris et al.) — the O(log n)-round
    alternative the propagation docstring promises for long chains."""

    def _star(self, spark, pairs, **kw):
        from swiftbulkuploader_spark.operators.components import (
            connected_components_star,
        )

        df = spark.createDataFrame(pairs, "a long, b long")
        return {r["node"]: r["component"]
                for r in connected_components_star(df, **kw).collect()}

    def test_matches_label_propagation_on_mixed_graph(self, spark):
        from swiftbulkuploader_spark.operators.components import (
            connected_components,
        )

        pairs = [(1, 2), (2, 3), (4, 5), (7, 7), (8, 9), (9, 8), (10, 11),
                 (11, 12), (12, 10), (3, 1)]
        df = spark.createDataFrame(pairs, "a long, b long")
        prop = {r["node"]: r["component"]
                for r in connected_components(df).collect()}
        star = self._star(spark, pairs)
        assert star == prop

    def test_long_chain_converges_in_log_rounds(self, spark):
        """A 200-node path needs ~200 propagation rounds but must close
        well under the star algorithm's default budget (~log2 n ≈ 8 of
        the 40 round pairs) — every node labeled 0."""
        pairs = [(i, i + 1) for i in range(199)]
        star = self._star(spark, pairs)
        assert len(star) == 200 and set(star.values()) == {0}

    def test_self_loops_and_duplicates_are_harmless(self, spark):
        star = self._star(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
        assert star == {1: 1, 2: 1}

    def test_reliable_checkpoint_matches_local(self, spark):
        """reliable=True must be semantics-neutral: same labels as the
        localCheckpoint default on a chain + cycle + singleton mix, with
        round frames checkpointed to FILES (a checkpoint dir is installed
        automatically when none is set) instead of block-manager memory."""
        import os as _os

        pairs = [(i, i + 1) for i in range(60)] + [(100, 101), (101, 100),
                                                   (200, 200)]

        def _rdd_dirs():
            raw = spark.sparkContext.getCheckpointDir()
            if raw is None:
                return set()
            p = raw[len("file:"):] if raw.startswith("file:") else raw
            return {e for e in _os.listdir(p) if e.startswith("rdd-")}

        before = _rdd_dirs()
        assert self._star(spark, pairs, reliable=True) == self._star(
            spark, pairs
        )
        assert spark.sparkContext.getCheckpointDir() is not None
        # round-7 checkpoint-file GC: superseded round frames (rounds
        # <= n-2) are deleted DETERMINISTICALLY as the run progresses —
        # end-of-run footprint is the last two generations, not the
        # whole history (a 60-chain needs ~8 round pairs, so an
        # unbounded dir would hold ~10 frames). Measured as a DELTA vs
        # the dirs present before the run, which the GC must not touch.
        from swiftbulkuploader_spark.operators.components import CKPT_STATS

        assert CKPT_STATS["rounds"] >= 5  # chain of 60 -> several rounds
        assert 0 < CKPT_STATS["end_bytes"] <= CKPT_STATS["peak_bytes"]
        # the retained set is bounded: at most 2 generations of rdd-* dirs
        created_live = _rdd_dirs() - before
        assert len(created_live) <= 4  # 2 kept generations x <=2 dirs each

    def test_reliable_gc_spares_foreign_checkpoint_dirs(self, spark):
        """The checkpoint-file GC must only delete dirs THIS run created:
        a pre-existing rdd-* dir (another run in the same app, or any
        other df.checkpoint() user sharing the dir) survives the whole
        run untouched (round-8, from the r7 advice — the old code swept
        foreign dirs as its own generation 0)."""
        import os as _os

        # ensure a checkpoint dir exists (first reliable run installs one)
        self._star(spark, [(1, 2)], reliable=True)
        raw = spark.sparkContext.getCheckpointDir()
        p = raw[len("file:"):] if raw.startswith("file:") else raw
        foreign = _os.path.join(p, "rdd-999999")
        _os.makedirs(foreign, exist_ok=True)
        sentinel = _os.path.join(foreign, "part-00000")
        with open(sentinel, "w") as fh:
            fh.write("someone else's checkpoint")
        try:
            # >=3 GC generations so a foreign gen-0 WOULD have been swept
            pairs = [(i, i + 1) for i in range(60)]
            self._star(spark, pairs, reliable=True)
            assert _os.path.isfile(sentinel), (
                "GC deleted a checkpoint dir it did not create"
            )
        finally:
            import shutil as _shutil

            _shutil.rmtree(foreign, ignore_errors=True)

    def test_truncated_run_raises_instead_of_mislabeling(self, spark):
        """A run that exhausts max_iter without reaching the fixed point
        must RAISE — a truncated star forest silently labels one connected
        graph as many components (the round-6 4M-path probe caught
        exactly this at the old max_iter=20 default)."""
        import pytest as _pytest

        from swiftbulkuploader_spark.operators.components import (
            connected_components_star,
        )

        df = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "a long, b long"
        )
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components_star(df, max_iter=1)


class TestTriangleCount:
    def test_known_triangle_graph(self, spark, tmp_path):
        """3 identical docs form a triangle (clique), 2 more form a lone
        edge, 1 is isolated: 5 nodes, 4 edges, 3 wedges, 1 triangle,
        transitivity 1.0."""
        from swiftbulkuploader_spark.operators.components import x8_triangle_count

        tri = "alpha beta gamma delta epsilon zeta"
        pair = "one two three four five six"
        lone = "seven eight nine ten eleven twelve"
        rows = [
            (0, tri, "en", "s", 1),
            (1, tri, "en", "s", 1),
            (2, tri, "en", "s", 1),
            (3, pair, "en", "s", 1),
            (4, pair, "en", "s", 1),
            (5, lone, "en", "s", 1),
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        r = x8_triangle_count(spark, str(tmp_path)).collect()[0]
        assert (r["n_nodes"], r["n_edges"]) == (5, 4)
        assert r["n_wedges"] == 3
        assert r["n_triangles"] == 1
        assert r["transitivity"] == 1.0

    def test_open_wedge_has_no_triangle(self, spark, tmp_path):
        """A path a-b-c (b similar to both ends, ends dissimilar) is one
        wedge and zero triangles -> transitivity 0."""
        from swiftbulkuploader_spark.operators.components import x8_triangle_count

        # b shares >=50% Jaccard with a and with c; a and c share almost
        # nothing: build b as the union of a's and c's shingle vocabularies
        a = "alpha beta gamma delta alpha beta gamma delta"
        c = "one two three four one two three four"
        b = "alpha beta gamma delta one two three four"
        rows = [(0, a, "en", "s", 1), (1, b, "en", "s", 1), (2, c, "en", "s", 1)]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        r = x8_triangle_count(spark, str(tmp_path)).collect()[0]
        assert r["n_triangles"] == 0
        if r["n_wedges"] and r["n_wedges"] > 0:
            assert r["transitivity"] == 0.0


class TestLabelPropagation:
    def test_two_triangles_converge_to_min_labels(self, spark, tmp_path):
        """Two disjoint co-purchase triangles ({1,2,3} and {10,11,12},
        each pair co-ordered twice so every edge survives LP_MIN_SHARED):
        synchronous min-tie-break LPA reaches each triangle's min label
        by round 2 and is STABLE at round 3 — and labels never cross
        components."""
        from swiftbulkuploader_spark.operators.components import (
            x8_label_propagation,
        )

        rows = []
        ok = 0
        for parts in ((1, 2, 3), (10, 11, 12)):
            for _ in range(2):          # two orders per basket: shared = 2
                ok += 1
                rows += [(ok, p) for p in parts]
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        ).write.parquet(str(tmp_path / "lineitem.parquet"))

        got = {r["node"]: r["label"]
               for r in x8_label_propagation(spark, str(tmp_path)).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}

    def test_liveness_on_fixture(self, spark):
        """Real-substrate liveness (the x6_ab_test lesson): communities
        actually form — more than one label survives, and at least one
        label owns several nodes (an all-self labeling or a single
        global label would both be degenerate)."""
        from swiftbulkuploader_spark.operators.components import (
            x8_label_propagation,
        )

        rows = x8_label_propagation(spark, "/root/testdata/sf0.01").collect()
        assert rows
        from collections import Counter

        sizes = Counter(r["label"] for r in rows)
        assert len(sizes) >= 2
        assert max(sizes.values()) > 1
        assert len(sizes) < len(rows)


class TestAssortativity:
    def _write_docs(self, spark, tmp_path, rows):
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))

    def test_path_graph_is_disassortative(self, spark, tmp_path):
        """A path a-b-c (hub-and-spoke in miniature): every edge joins a
        degree-1 end to the degree-2 middle -> assortativity exactly -1."""
        from swiftbulkuploader_spark.operators.components import x8_assortativity

        # single-shingle ends, two-shingle middle: jac(a,b) = jac(b,c) = 1/2
        # (edges at tau=0.5), jac(a,c) = 0 -> a true path graph
        a = "alpha beta gamma"
        b = "alpha beta gamma delta"
        c = "beta gamma delta"
        self._write_docs(
            spark, tmp_path,
            [(0, a, "en", "s", 1), (1, b, "en", "s", 1), (2, c, "en", "s", 1)],
        )
        r = x8_assortativity(spark, str(tmp_path)).collect()[0]
        assert (r["n_nodes"], r["n_edges"]) == (3, 2)
        assert r["mean_deg"] == pytest.approx(4.0 / 3.0)
        assert r["assortativity"] == pytest.approx(-1.0)

    def test_regular_components_are_assortative(self, spark, tmp_path):
        """A 3-clique plus a lone edge: within each edge both endpoints have
        the same degree (2 resp. 1) -> endpoint degrees perfectly correlated,
        assortativity +1; mean degree (2+2+2+1+1)/5."""
        from swiftbulkuploader_spark.operators.components import x8_assortativity

        tri = "alpha beta gamma delta epsilon zeta"
        pair = "one two three four five six"
        self._write_docs(
            spark, tmp_path,
            [
                (0, tri, "en", "s", 1),
                (1, tri, "en", "s", 1),
                (2, tri, "en", "s", 1),
                (3, pair, "en", "s", 1),
                (4, pair, "en", "s", 1),
            ],
        )
        r = x8_assortativity(spark, str(tmp_path)).collect()[0]
        assert (r["n_nodes"], r["n_edges"]) == (5, 4)
        assert r["mean_deg"] == pytest.approx(1.6)
        assert r["assortativity"] == pytest.approx(1.0)


class TestKCore:
    def _write_docs(self, spark, tmp_path, rows):
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))

    def test_path_cascade_and_stranded_node(self, spark, tmp_path):
        """Path a-b-c: ends are degree-1 -> peeled round 1; b is stranded
        EDGELESS (degree 0, caught by the alive-set coalesce path, not the
        degree table) -> peeled round 2. Nothing survives."""
        from swiftbulkuploader_spark.operators.components import x8_kcore

        a = "alpha beta gamma"
        b = "alpha beta gamma delta"
        c = "beta gamma delta"
        self._write_docs(
            spark, tmp_path,
            [(0, a, "en", "s", 1), (1, b, "en", "s", 1), (2, c, "en", "s", 1)],
        )
        got = {r["doc_id"]: r for r in x8_kcore(spark, str(tmp_path)).collect()}
        assert got[0]["peel_round"] == 1 and got[2]["peel_round"] == 1
        assert got[1]["peel_round"] == 2
        assert all(r["core_deg"] is None for r in got.values())

    def test_triangle_core_survives_pair_peeled(self, spark, tmp_path):
        """A 3-clique is the 2-core (survives, core_deg 2); a lone identical
        pair is degree-1 -> peeled in round 1."""
        from swiftbulkuploader_spark.operators.components import x8_kcore

        tri = "alpha beta gamma delta epsilon zeta"
        pair = "one two three four five six"
        self._write_docs(
            spark, tmp_path,
            [
                (0, tri, "en", "s", 1),
                (1, tri, "en", "s", 1),
                (2, tri, "en", "s", 1),
                (3, pair, "en", "s", 1),
                (4, pair, "en", "s", 1),
            ],
        )
        got = {r["doc_id"]: r for r in x8_kcore(spark, str(tmp_path)).collect()}
        for d in (0, 1, 2):
            assert got[d]["peel_round"] == 0 and got[d]["core_deg"] == 2
        for d in (3, 4):
            assert got[d]["peel_round"] == 1 and got[d]["core_deg"] is None


class TestLinkPrediction:
    def _write_lineitem(self, spark, tmp_path, rows):
        df = spark.createDataFrame(rows, "l_orderkey: long, l_partkey: long")
        df.write.parquet(str(tmp_path / "lineitem.parquet"))

    def test_path_endpoints_predicted(self, spark, tmp_path):
        """Parts 1-2 co-ordered twice and 2-3 twice (edges), 1-3 never:
        the only distance-2 non-edge is (1, 3) through part 2:
        cn=1, jaccard = 1/(1+1-1) = 1, adamic_adar = 1/ln(2)."""
        import math

        from swiftbulkuploader_spark.operators.components import x8_link_prediction

        rows = [
            (10, 1), (10, 2),
            (11, 1), (11, 2),
            (12, 2), (12, 3),
            (13, 2), (13, 3),
        ]
        self._write_lineitem(spark, tmp_path, rows)
        got = x8_link_prediction(spark, str(tmp_path)).collect()
        assert len(got) == 1
        r = got[0]
        assert (r["a"], r["b"], r["cn"]) == (1, 3, 1)
        assert r["jaccard"] == 1.0
        assert r["adamic_adar"] == pytest.approx(1.0 / math.log(2.0))

    def test_clique_has_no_candidates(self, spark, tmp_path):
        """Three parts always ordered together form a clique: every
        distance-2 pair is already an edge -> empty; a single shared order
        (below LP_MIN_SHARED=2) creates no edge either."""
        from swiftbulkuploader_spark.operators.components import x8_link_prediction

        rows = [
            (10, 1), (10, 2), (10, 3),
            (11, 1), (11, 2), (11, 3),
            (12, 3), (12, 4),  # single co-order: no (3,4) edge
        ]
        self._write_lineitem(spark, tmp_path, rows)
        assert x8_link_prediction(spark, str(tmp_path)).count() == 0


class TestClusteringCoeff:
    def test_clique_vs_pair(self, spark, tmp_path):
        """3-clique members: degree 2, 1 triangle, lcc = 1.0; lone-pair
        members: degree 1, no triangle, lcc undefined (NULL)."""
        tri = "alpha beta gamma delta epsilon zeta"
        pair = "one two three four five six"
        rows = [
            (0, tri, "en", "s", 1),
            (1, tri, "en", "s", 1),
            (2, tri, "en", "s", 1),
            (3, pair, "en", "s", 1),
            (4, pair, "en", "s", 1),
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        from swiftbulkuploader_spark.operators.components import x8_clustering_coeff

        got = {r["doc_id"]: r for r in x8_clustering_coeff(spark, str(tmp_path)).collect()}
        for d in (0, 1, 2):
            assert (got[d]["degree"], got[d]["n_triangles"]) == (2, 1)
            assert got[d]["lcc"] == 1.0
        for d in (3, 4):
            assert (got[d]["degree"], got[d]["n_triangles"]) == (1, 0)
            assert got[d]["lcc"] is None


class TestIncrementalComponents:
    """Crafted two-epoch pins for incremental_components (r9 verdict ask
    #8): batch edges merged into a persisted labeling must equal the
    from-scratch closure, frozen-only labels must be untouched by an
    empty batch, and a single new doc must be able to MERGE two distinct
    frozen clusters."""

    def _frozen_labels(self, spark, rows):
        return spark.createDataFrame(rows, "node: long, label: long")

    def test_bridge_merges_two_frozen_clusters(self, spark):
        from swiftbulkuploader_spark.operators.components import (
            incremental_components,
        )
        # frozen clusters {1,2} (label 1), {3,4} (label 3), {7,8} (label
        # 7, untouched), singleton 50
        frozen = self._frozen_labels(
            spark,
            [(1, 1), (2, 1), (3, 3), (4, 3), (7, 7), (8, 7), (50, 50)],
        )
        # new doc 100 bridges the two clusters; 105-110 is a new x new
        # pair; 115 attaches to singleton frozen 50
        new_edges = spark.createDataFrame(
            [(100, 2), (100, 3), (105, 110), (115, 50)], "a: long, b: long"
        )
        got = {
            r["node"]: r["cluster_id"]
            for r in incremental_components(frozen, new_edges).collect()
        }
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1, 100: 1,   # merged via the bridge
            7: 7, 8: 7,                        # untouched cluster intact
            50: 50, 115: 50,                   # singleton gains a member
            105: 105, 110: 105,                # new x new pair
        }

    def test_empty_batch_is_identity(self, spark):
        from swiftbulkuploader_spark.operators.components import (
            incremental_components,
        )
        frozen = self._frozen_labels(spark, [(1, 1), (2, 1), (9, 9)])
        empty = spark.createDataFrame([], "a: long, b: long")
        got = {
            r["node"]: r["cluster_id"]
            for r in incremental_components(frozen, empty).collect()
        }
        assert got == {1: 1, 2: 1, 9: 9}

    def test_new_doc_smaller_than_frozen_label_becomes_cluster_id(
            self, spark):
        from swiftbulkuploader_spark.operators.components import (
            incremental_components,
        )
        frozen = self._frozen_labels(spark, [(10, 10), (11, 10)])
        new_edges = spark.createDataFrame([(5, 11)], "a: long, b: long")
        got = {
            r["node"]: r["cluster_id"]
            for r in incremental_components(frozen, new_edges).collect()
        }
        assert got == {10: 5, 11: 5, 5: 5}

    def test_matches_from_scratch_on_fixture(self, spark):
        """incremental over the two-epoch split == one-shot closure over
        the union graph (the oracle's claim, re-pinned Spark-side on the
        smoke substrate)."""
        from swiftbulkuploader_spark.operators.components import (
            connected_components,
            x1_incremental_clusters,
        )
        from swiftbulkuploader_spark.operators.dedup import (
            allpairs_prefix_pairs,
        )

        sf = "/root/testdata/sf0.001"
        inc = {
            r["doc_id"]: r["cluster_id"]
            for r in x1_incremental_clusters(spark, sf).collect()
        }
        scratch = connected_components(
            allpairs_prefix_pairs(spark, sf, tau=0.5).select("a", "b")
        )
        want = {r["node"]: r["component"] for r in scratch.collect()}
        assert inc == want
        assert len(inc) > 0


class TestLpaModularity:
    def test_two_triangles_perfect_partition(self, spark, tmp_path):
        """Two disjoint triangles labeled by LPA: each community term is
        e_c/m - (d_c/2m)^2 = 3/6 - (6/12)^2 = 0.25, total Q = 0.5 — the
        textbook two-clique value."""
        from swiftbulkuploader_spark.operators.components import (
            x8_lpa_modularity,
        )

        rows = []
        ok = 0
        for parts in ((1, 2, 3), (10, 11, 12)):
            for _ in range(2):
                ok += 1
                rows += [(ok, p) for p in parts]
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        ).write.parquet(str(tmp_path / "lineitem.parquet"))
        got = {r["label"]: r
               for r in x8_lpa_modularity(spark, str(tmp_path)).collect()}
        assert set(got) == {1, 10}
        for r in got.values():
            assert (r["n_nodes"], r["e_in"], r["d_tot"]) == (3, 3, 6)
            assert abs(r["q_term"] - 0.25) < 1e-12

    def test_fixture_liveness(self, spark):
        """Real-substrate liveness: a genuinely positive global Q (the
        labeling beats degree-matched random wiring) with community
        terms of both signs impossible — every term is bounded by its
        share — and multiple communities contributing."""
        from swiftbulkuploader_spark.operators.components import (
            x8_lpa_modularity,
        )

        rows = x8_lpa_modularity(spark, "/root/testdata/sf0.01").collect()
        assert len(rows) >= 2
        q = sum(r["q_term"] for r in rows)
        assert 0.0 < q <= 1.0
