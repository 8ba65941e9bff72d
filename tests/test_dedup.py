"""X1 dedup semantics on crafted corpora: exact groups, MinHash-LSH recall/
precision on known near-dups, SimHash hamming pairs, n-gram Jaccard values.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from swiftbulkuploader_spark.operators.dedup import (
    _mh_exact_bands,
    _mh_exact_base,
    minhash_exact_pairs,
    simhash_exact_pairs,
)

from conftest import SF_SMOKE

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest while the sun slowly sets behind hills")
NEAR = BASE.replace("slowly", "quickly")        # one-word edit: near-dup
EXACT = BASE
FAR = ("completely different text about database engines and distributed "
       "query processing with columnar storage and vectorized execution "
       "running on large clusters of commodity machines every single day")


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, EXACT), (3, FAR)], "doc_id: long, text: string"
    )


class TestMinHash:
    def test_signatures_shape(self, spark, corpus):
        bands = _mh_exact_bands(_mh_exact_base(corpus))
        assert bands.columns == ["doc_id", "bj", "c0", "c1", "c2", "c3"]
        per_doc = {r["doc_id"]: r["n"] for r in
                   bands.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
        assert per_doc == {0: 8, 1: 8, 2: 8, 3: 8}  # 8 bands of 4 per doc

    def test_exact_dup_is_found_with_jaccard_1(self, spark, corpus):
        pairs = minhash_exact_pairs(corpus, min_jaccard=None).collect()
        by_pair = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
        assert by_pair.get((0, 2)) == 1.0

    def test_near_dup_found_far_not_paired(self, spark, corpus):
        pairs = minhash_exact_pairs(corpus, min_jaccard=None).collect()
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        assert (0, 1) in found  # one-word edit shares most shingles
        assert not any(3 in p for p in found)  # unrelated text: no candidate

    def test_jaccard_value_sane_for_near_dup(self, spark, corpus):
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                 for r in minhash_exact_pairs(corpus).collect()}
        # one word changed in 23 -> 3 of 21 3-shingles differ
        assert 0.5 < pairs[(0, 1)] < 1.0


class TestSimHash:
    def test_exact_dup_hamming_zero(self, spark, corpus):
        pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
                 for r in simhash_exact_pairs(corpus).collect()}
        assert pairs.get((0, 2)) == 0

    def test_near_dup_low_hamming_far_high(self, spark, corpus):
        pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
                 for r in simhash_exact_pairs(corpus).collect()}
        assert pairs.get((0, 1), 99) <= 3  # one-word edit: within 3 bits
        assert not any(3 in p for p in pairs)  # far doc: never within 3

    def test_neardup_pairs(self, spark, corpus):
        pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
                 for r in simhash_exact_pairs(corpus).collect()}
        assert (0, 2) in pairs and pairs[(0, 2)] == 0
        assert all(h <= 3 for h in pairs.values())
        assert not any(3 in p for p in pairs)


class TestExactDedupOps:
    def test_fingerprint_groups(self, spark):
        df = spark.createDataFrame(
            [(1, "Same   Text"), (2, "same text"), (3, "other")],
            "doc_id: long, text: string",
        )
        from swiftbulkuploader_spark.functions.text import fingerprint

        groups = (
            df.select("doc_id", fingerprint(F.col("text")).alias("fp"))
            .groupBy("fp").agg(F.count("*").alias("copies"), F.min("doc_id").alias("keeper"))
            .collect()
        )
        by_copies = sorted([(r["copies"], r["keeper"]) for r in groups])
        # whitespace-normalized + lowercased: 1 and 2 collide, keeper = 1
        assert by_copies == [(1, 3), (2, 1)]


class TestMlLshParity:
    def test_ml_minhash_finds_near_dup(self, spark, corpus):
        from swiftbulkuploader_spark.operators.ml_lsh import ml_minhash_pairs

        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                 for r in ml_minhash_pairs(corpus, threshold=0.6).collect()}
        assert (0, 2) in pairs and pairs[(0, 2)] == 1.0  # exact dup
        assert (0, 1) in pairs                            # near dup
        assert not any(3 in p for p in pairs)             # unrelated

    def test_ml_brp_pairs_identical_vectors(self, spark):
        from swiftbulkuploader_spark.operators.ml_lsh import ml_brp_pairs

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
             (2, [0.0, 1.0, 0.0, 0.0])],
            "vec_id: long, embedding: array<float>",
        )
        pairs = {(r["vec_a"], r["vec_b"]): r["euclidean"]
                 for r in ml_brp_pairs(emb, threshold=0.5).collect()}
        assert pairs == {(0, 1): 0.0}


class TestContamination:
    def test_embedded_eval_item_flags_full_containment(self, spark, tmp_path):
        """A short probe fully embedded in a long training doc must score
        containment 1.0 (the case Jaccard misses), an unrelated doc ~0."""
        from swiftbulkuploader_spark.operators.dedup import x1_contamination

        probe = "the quick brown fox jumps over the lazy dog tonight"
        long_doc = ("prologue words here " * 5) + probe + (" epilogue trailing text" * 5)
        other = "completely different vocabulary about spark shuffles and parquet"
        rows = [(i, probe if i < 8 else "", "en", "s", 1) for i in range(8)]
        rows[1] = (1, "another probe entirely with its own words", "en", "s", 1)
        rows += [(8, long_doc, "en", "s", 1), (9, other, "en", "s", 1)]
        df = spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        got = {r["probe_id"]: r for r in x1_contamination(spark, str(tmp_path)).collect()}
        assert got[0]["max_containment"] == 1.0  # embedded verbatim
        assert got[0]["n_flagged"] >= 1
        assert got[1]["max_containment"] < 0.5  # distinct probe not flagged
        assert got[1]["n_flagged"] == 0


class TestContaminationIndexed:
    def test_indexed_matches_broadcast_form(self, spark, tmp_path):
        """Inverted-index plan == broadcast plan, including a probe with
        ZERO hits anywhere (must still report (0, 0.0), not vanish)."""
        from swiftbulkuploader_spark.operators.dedup import (
            x1_contamination,
            x1_contamination_indexed,
        )

        probe = "the quick brown fox jumps over the lazy dog tonight"
        long_doc = ("prologue words here " * 5) + probe + (" epilogue trailing text" * 5)
        rows = [(i, probe if i == 0 else f"zero hit probe variant {i} xyzzy{i}", "en", "s", 1)
                for i in range(8)]
        rows += [(8, long_doc, "en", "s", 1),
                 (9, "completely different vocabulary about spark shuffles", "en", "s", 1)]
        df = spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        bc = sorted(tuple(r) for r in x1_contamination(spark, str(tmp_path)).collect())
        ix = sorted(tuple(r) for r in x1_contamination_indexed(spark, str(tmp_path)).collect())
        assert bc == ix
        by_probe = {t[0]: t for t in ix}
        assert by_probe[0][2] == 1.0       # embedded probe: containment 1.0
        assert by_probe[3] == (3, 0, 0.0)  # zero-hit probe still present

    def test_both_forms_agree_on_empty_corpus(self, spark, tmp_path):
        """Degenerate edge (ADVICE r3): all docs are probes (doc_id < 8), the
        corpus partition is EMPTY — both forms must emit one (probe_id, 0,
        0.0) row per probe rather than the broadcast form returning 0 rows."""
        from swiftbulkuploader_spark.operators.dedup import (
            x1_contamination,
            x1_contamination_indexed,
        )

        rows = [(i, f"probe only corpus entry number {i} with words {i}", "en", "s", 1)
                for i in range(4)]
        df = spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        bc = sorted(tuple(r) for r in x1_contamination(spark, str(tmp_path)).collect())
        ix = sorted(tuple(r) for r in x1_contamination_indexed(spark, str(tmp_path)).collect())
        assert bc == ix == [(i, 0, 0.0) for i in range(4)]


class TestSemanticDedup:
    def test_crafted_clusters_and_ball_pruning(self, spark, tmp_path):
        """34 vectors, 64-dim: ids 0..31 are orthogonal basis vectors (they
        become the deterministic centroids, each its own cluster head);
        vec 32 ~ e3 (same cluster as 3, cos ~0.99 -> dropped by the
        lower-id-wins rule); vec 33 spreads mass over all 32 axes (cos
        ~0.18 with its cluster head, below tau=0.35 -> kept)."""
        from swiftbulkuploader_spark.operators.dedup import (
            SEMANTIC_N_CENTROIDS,
            x1_semantic_dedup,
        )

        n = SEMANTIC_N_CENTROIDS

        def basis(i):
            v = [0.0] * 64
            v[i] = 1.0
            return v

        rows = [(i, basis(i), 0) for i in range(n)]
        near3 = [0.0] * 64
        near3[3], near3[7] = 0.9, 0.1
        spread = [0.0] * 64
        for i in range(n):
            spread[i] = (1.0 / n) ** 0.5  # unit norm across all 32 axes
        rows += [(n, near3, 0), (n + 1, spread, 0)]
        spark.createDataFrame(
            rows, "vec_id: long, embedding: array<float>, label: int"
        ).write.parquet(str(tmp_path / "embeddings.parquet"))

        got = {r["vec_id"]: r for r in x1_semantic_dedup(spark, str(tmp_path)).collect()}
        assert len(got) == n + 2
        assert all(got[i]["is_kept"] for i in range(n))  # cluster heads survive
        assert got[n]["cluster"] == 3 and not got[n]["is_kept"]
        assert got[n + 1]["is_kept"]  # below tau: similar cluster, not a dup


class TestRepeatedPassages:
    def test_shared_8gram_found_short_docs_skipped(self, spark, tmp_path):
        """A verbatim 8-word passage shared by two docs is reported once with
        n_docs=2; docs under 8 tokens never contribute grams; a gram repeated
        twice WITHIN one doc alone (n_docs=1) is excluded."""
        from swiftbulkuploader_spark.operators.dedup import x1_repeated_passages

        passage = "one two three four five six seven eight"
        rows = [
            (0, f"intro words {passage} outro", "en", "s", 1),
            (1, f"other beginning {passage} different ending", "en", "s", 1),
            (2, "short doc under eight", "en", "s", 1),          # < 8 tokens
            (3, f"{passage} {passage}", "en", "s", 1),           # self-repeat
            (4, "nine ten eleven twelve thirteen fourteen fifteen sixteen", "en", "s", 1),
        ]
        spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
        ).write.parquet(str(tmp_path / "documents.parquet"))

        got = {r["gram"]: r for r in x1_repeated_passages(spark, str(tmp_path)).collect()}
        assert passage in got
        r = got[passage]
        # docs 0, 1 and 3 share it; doc 3 contains it twice (plus wrap-around
        # grams spanning the repeat boundary, none equal to the clean passage)
        assert r["n_docs"] == 3 and r["n_occurrences"] == 4 and r["first_doc_id"] == 0
        # doc 4's unique grams and doc 2's nothing: no n_docs=1 rows at all
        assert all(row["n_docs"] >= 2 for row in got.values())


class TestAllPairsPrefix:
    def test_matches_bruteforce_on_crafted_corpus(self, spark, tmp_path):
        """Prefix filtering is lossless: the pair set must equal brute-force
        exact Jaccard over distinct 3-shingle sets at tau=0.5, including a
        pair whose similarity comes only from FREQUENT shingles (the case a
        buggy prefix would drop: rare-first ordering must still leave at
        least one shared shingle in both prefixes)."""
        from swiftbulkuploader_spark.operators.dedup import x1_allpairs_prefix

        a = "alpha beta gamma delta epsilon zeta"
        rows = [
            (0, a, "en", "s", 1),
            (1, a + " eta", "en", "s", 1),               # J high: near-dup
            (2, a, "en", "s", 1),                        # exact dup of 0
            (3, "totally different words here now", "en", "s", 1),
            (4, "alpha beta gamma delta", "en", "s", 1),  # prefix-ish overlap
        ]
        spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
        ).write.parquet(str(tmp_path / "documents.parquet"))
        got = {(r["a"], r["b"]): r["jaccard"]
               for r in x1_allpairs_prefix(spark, str(tmp_path)).collect()}

        def sh3(text):
            t = text.split()
            return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

        expect = {}
        sets = {i: sh3(txt) for i, txt, *_ in rows}
        for i in sets:
            for j in sets:
                if i < j:
                    c = len(sets[i] & sets[j])
                    u = len(sets[i] | sets[j])
                    if u and c / u >= 0.5:
                        expect[(i, j)] = round(c / u, 6)
        assert got == expect
        assert (0, 2) in got and got[(0, 2)] == 1.0
        assert (0, 1) in got  # near-dup found through the prefix join


class TestWinnowing:
    def test_guarantee_shared_run_yields_shared_fingerprint(self, spark, tmp_path):
        """Winnowing's coverage guarantee (Schleimer et al. §3): any run of
        W + k - 1 = 6+ shared grams (W=4 windows fully inside the shared
        region) must produce at least one shared fingerprint between the
        two documents; and per-doc density is ~1/W (far fewer fps than
        grams on long docs)."""
        from swiftbulkuploader_spark.operators.dedup import (
            x1_winnowing_fingerprints,
        )

        shared = "one two three four five six seven eight nine ten"
        rows = [
            (0, f"aaa bbb {shared} ccc ddd", "en", "s", 1),
            (1, f"xxx yyy zzz {shared} qqq", "en", "s", 1),
            (2, "totally unrelated text with other words entirely", "en", "s", 1),
        ]
        spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
        ).write.parquet(str(tmp_path / "documents.parquet"))
        got = {r["doc_id"]: r for r in
               x1_winnowing_fingerprints(spark, str(tmp_path)).collect()}
        assert set(got) == {0, 1, 2}
        for d, r in got.items():
            assert 1 <= r["n_fps"] <= r["n_grams"]
        # density: selections collapse ~W adjacent windows onto one min
        assert got[0]["n_fps"] < got[0]["n_grams"]

    def test_shared_fingerprint_values_for_shared_passage(self, spark, tmp_path):
        """Recompute the fingerprint SETS in pure Python with the same
        md5-prefix hash and assert docs sharing a long passage share a
        fingerprint value while the unrelated doc shares none."""
        import hashlib

        from swiftbulkuploader_spark.operators.dedup import WINNOW_W

        def fps(text):
            t = text.lower().split()
            grams = [" ".join(t[i:i + 3]) for i in range(len(t) - 2)]
            hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
            nw = max(len(hs) - (WINNOW_W - 1), 1)
            return {min(hs[i:i + WINNOW_W]) for i in range(nw)}

        shared = "one two three four five six seven eight nine ten"
        d0 = f"aaa bbb {shared} ccc ddd"
        d1 = f"xxx yyy zzz {shared} qqq"
        d2 = "totally unrelated text with other words entirely"
        assert fps(d0) & fps(d1)          # guarantee: shared run -> shared fp
        assert not (fps(d0) & fps(d2))


class TestOracledTwins:
    def test_minhash_exact_finds_known_neardups(self, spark, tmp_path):
        """The engine-reproducible MinHash twin must behave like MinHash:
        exact dup found at J=1.0, one-word-edit near-dup found above 0.5,
        the unrelated doc paired with nobody."""
        from swiftbulkuploader_spark.operators.dedup import x1_minhash_exact

        rows = [(0, BASE), (1, NEAR), (2, EXACT), (3, FAR)]
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        ).write.parquet(str(tmp_path / "documents.parquet"))
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
               for r in x1_minhash_exact(spark, str(tmp_path)).collect()}
        assert got.get((0, 2)) == 1.0
        assert (0, 1) in got and got[(0, 1)] >= 0.5
        assert not any(3 in p for p in got)

    def test_simhash_exact_pairs_near_texts_only(self, spark, tmp_path):
        """The md5-based SimHash twin pairs the near-identical documents
        (hamming <= 3 on 32 bits) and not the unrelated one."""
        from swiftbulkuploader_spark.operators.dedup import x1_simhash_exact

        rows = [(0, BASE), (1, NEAR), (2, EXACT), (3, FAR)]
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        ).write.parquet(str(tmp_path / "documents.parquet"))
        got = {(r["doc_a"], r["doc_b"]): r["hamming"]
               for r in x1_simhash_exact(spark, str(tmp_path)).collect()}
        assert got.get((0, 2)) == 0          # identical text: hamming 0
        assert not any(3 in p for p in got)  # unrelated doc unpaired

    def test_neardup_names_serve_the_oracled_pipelines(self, spark):
        from swiftbulkuploader_spark import registry

        sf = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
        for name in ("x1_minhash", "x1_simhash"):
            neardup = registry.QUERIES[f"{name}_neardup"](spark, sf).collect()
            exact = registry.QUERIES[f"{name}_exact"](spark, sf).collect()
            assert neardup and sorted(neardup) == sorted(exact), name


def test_contamination_bloom_no_false_negatives(spark):
    """Bloom-screen invariant on real data: a Bloom filter can only
    over-approximate — every doc's bloom-hit count must be >= its exact
    shared-shingle count, and every exact-contaminated doc must be at
    least as visible to the bloom screen."""
    from swiftbulkuploader_spark.operators.dedup import x1_contamination_bloom

    rows = x1_contamination_bloom(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r["n_bloom_hits"] >= r["n_exact_hits"] for r in rows)
    assert all(
        r["flagged"] == (r["n_bloom_hits"] >= 4) for r in rows
    )


def test_source_overlap_matrix_is_complete_and_bounded(spark):
    """The overlap matrix covers EVERY source pair (zero-overlap pairs
    included) with jaccard <= containment <= 1 and n_common <= min size."""
    from swiftbulkuploader_spark.operators.dedup import x1_source_overlap

    rows = x1_source_overlap(spark, "/root/testdata/sf0.001").collect()
    sources = {r["source_a"] for r in rows} | {r["source_b"] for r in rows}
    k = len(sources)
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        assert 0 <= r["n_common"] <= min(r["n_a"], r["n_b"])
        assert r["jaccard"] <= r["containment"] <= 1.0


def test_winnowing_arrow_matches_hof_on_edge_docs(spark, tmp_path):
    """The Arrow selection must equal the HOF form doc-for-doc on the edge
    shapes the batch vectorization special-cases: m < W (single
    whole-array window), m == W (one full window), repeated grams
    (multiplicity preserved), and a mixed batch of all three."""
    from swiftbulkuploader_spark.operators.dedup import (
        x1_winnowing_arrow,
        x1_winnowing_fingerprints,
    )

    rows = [
        (0, "a b c"),                      # 1 gram  -> short path
        (1, "a b c d"),                    # 2 grams -> short path
        (2, "a b c d e f"),               # 4 grams -> exactly one window
        (3, "x y x y x y x y x y"),       # repeated grams, full windows
        (4, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumns(
        {"lang": F.lit("en"), "source": F.lit("s"),
         "n_chars": F.length("text")}
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    hof = {r["doc_id"]: (r["n_grams"], r["n_fps"], r["fp_sum"])
           for r in x1_winnowing_fingerprints(spark, sf).collect()}
    arr = {r["doc_id"]: (r["n_grams"], r["n_fps"], r["fp_sum"])
           for r in x1_winnowing_arrow(spark, sf).collect()}
    assert hof == arr and len(hof) == 5


def test_winnow_select_batch_property_vs_reference():
    """PROPERTY test (hypothesis, no Spark in the loop): the vectorized
    batch selection must equal a naive per-doc Python reference of the
    winnowing contract — min of each W-window (truncating windows for
    m < W collapse to one whole-array window), distinct count + sum —
    for arbitrary 32-bit hash sequences, including duplicates, short
    docs, and mixed batches."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from swiftbulkuploader_spark.operators.dedup import (
        WINNOW_W,
        winnow_select_batch,
    )

    def reference(hs):
        m = len(hs)
        nw = max(m - WINNOW_W + 1, 1)
        fps = {min(hs[i:i + WINNOW_W]) for i in range(nw)}
        return m, len(fps), sum(fps)

    docs = st.lists(
        st.lists(st.integers(min_value=0, max_value=2**32 - 1),
                 min_size=1, max_size=40),
        min_size=1, max_size=12,
    )

    @settings(max_examples=200, deadline=None)
    @given(docs)
    def check(batch):
        pdf = pd.DataFrame({
            "doc_id": list(range(len(batch))), "hs": batch,
        })
        out = winnow_select_batch(pdf)
        got = {r["doc_id"]: (r["n_grams"], r["n_fps"], r["fp_sum"])
               for r in out.to_dict("records")}
        want = {i: reference(hs) for i, hs in enumerate(batch)}
        assert got == want

    check()


def test_winnow_select_batch_rejects_wide_hashes():
    import pandas as pd
    import pytest as _pytest

    from swiftbulkuploader_spark.operators.dedup import winnow_select_batch

    # every value oversized -> the selected minima themselves overflow
    # 32 bits, which is what the packing guard must catch
    with _pytest.raises(ValueError, match="32-bit"):
        winnow_select_batch(
            pd.DataFrame({"doc_id": [0], "hs": [[2**33 + i for i in range(5)]]})
        )


class TestCdcChunks:
    """Content-defined chunking (x1_cdc_chunks): the boundary-LOCALITY
    property that justifies CDC over fixed-size blocking — an insertion
    perturbs only the chunk it lands in; every later chunk re-aligns at
    the next content boundary and dedups unchanged."""

    def test_insertion_shifts_only_the_containing_chunk(self, spark):
        from swiftbulkuploader_spark.operators.dedup import cdc_chunk_frame

        base_toks = [f"w{i}" for i in range(60)]
        # "zzz" hashes to 3 mod 8 -> NOT a boundary token (pinned above by
        # the md5-prefix gear both engines share)
        edited = base_toks[:1] + ["zzz"] + base_toks[1:]
        docs = spark.createDataFrame(
            [(0, " ".join(base_toks)), (1, " ".join(edited))],
            "doc_id long, text string",
        )
        rows = cdc_chunk_frame(docs).collect()
        a = sorted((r.chunk_id, r.chunk_text) for r in rows if r.doc_id == 0)
        b = sorted((r.chunk_id, r.chunk_text) for r in rows if r.doc_id == 1)
        # non-boundary insertion: chunk COUNT unchanged
        assert len(a) == len(b) > 3
        # only the first chunk (which contains the insertion) differs;
        # every subsequent chunk is text-identical -> dedups across docs
        assert a[0][1] != b[0][1]
        assert a[1:] == b[1:]
        # token conservation across the chunking
        n_tok = {r.doc_id: 0 for r in rows}
        for r in rows:
            n_tok[r.doc_id] += r.n_tokens
        assert n_tok == {0: 60, 1: 61}


class TestDupSpanRemoval:
    def _write(self, spark, tmp_path, rows):
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        ).write.parquet(str(tmp_path / "documents.parquet"))

    def test_keep_first_excise_rest(self, spark, tmp_path):
        """A duplicated 8-gram keeps its globally-first occurrence (lowest
        doc_id, then start) and loses every other one; unique docs are
        untouched; a within-doc repeat loses only its second copy."""
        from swiftbulkuploader_spark.operators.dedup import x1_dup_span_removal

        span = "w1 w2 w3 w4 w5 w6 w7 w8"
        rows = [
            (0, f"{span} u01 u02"),            # first occurrence -> kept whole
            (1, f"v01 v02 {span} v03"),        # later occurrence -> excised
            (2, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),  # unique -> untouched
            (3, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8"),
        ]
        self._write(spark, tmp_path, rows)
        got = {r["doc_id"]: r for r in
               x1_dup_span_removal(spark, str(tmp_path)).collect()}
        assert got[0]["retained_text"] == f"{span} u01 u02"
        assert got[0]["n_removed"] == 0
        assert got[1]["retained_text"] == "v01 v02 v03"
        assert got[1]["n_removed"] == 8
        assert got[2]["n_removed"] == 0
        # within-doc repeat: second copy excised, first kept
        assert got[3]["retained_text"] == "x1 x2 x3 x4 x5 x6 x7 x8"
        assert got[3]["n_removed"] == 8

    def test_overlapping_dup_grams_merge(self, spark, tmp_path):
        """A shared 9-word run = two overlapping duplicated 8-grams; the
        excised region is their UNION (9 positions), not 16."""
        from swiftbulkuploader_spark.operators.dedup import x1_dup_span_removal

        run = "y1 y2 y3 y4 y5 y6 y7 y8 y9"
        rows = [(4, f"{run} t1"), (5, f"z1 {run}")]
        self._write(spark, tmp_path, rows)
        got = {r["doc_id"]: r for r in
               x1_dup_span_removal(spark, str(tmp_path)).collect()}
        assert got[4]["n_removed"] == 0          # doc 4 holds both keepers
        assert got[5]["retained_text"] == "z1"
        assert got[5]["n_removed"] == 9


def _naive_span_removal(docs: dict[int, str]) -> dict[int, tuple[int, int, str]]:
    """Oracle-independent reference for x1_dup_span_removal: literal
    keep-first excision of duplicated word 8-grams, computed with plain
    Python sets/dicts."""
    toks = {d: t.lower().split() for d, t in docs.items()}
    occ: dict[str, list[tuple[int, int]]] = {}
    for d in sorted(toks):
        ws = toks[d]
        if len(ws) >= 8:
            for i in range(len(ws) - 7):
                occ.setdefault(" ".join(ws[i:i + 8]), []).append((d, i + 1))
    covered: dict[int, set[int]] = {d: set() for d in toks}
    for gram, places in occ.items():
        if len(places) < 2:
            continue
        keep = min(places)
        for (d, start) in places:
            if (d, start) != keep:
                covered[d].update(range(start, start + 8))
    out = {}
    for d, ws in toks.items():
        kept = [w for i, w in enumerate(ws, start=1) if i not in covered[d]]
        out[d] = (len(ws), len(ws) - len(kept), " ".join(kept))
    return out


def test_dup_span_removal_matches_naive_reference(spark, tmp_path):
    """Differential test on seeded random corpora over a tiny vocabulary
    (duplicated 8-grams arise by chance, overlaps and within-doc repeats
    included): the distributed plan must agree with the naive reference
    row-for-row."""
    import random

    from swiftbulkuploader_spark.operators.dedup import x1_dup_span_removal

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        vocab = ["wa", "wb", "wc"]   # 3^8 = 6561 grams -> real chance dups
        docs = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 24)))
            for d in range(30)
        }
        want = _naive_span_removal(docs)
        assert any(v[1] > 0 for v in want.values())   # the test must bite
        sub = tmp_path / f"c{seed}"
        sub.mkdir()
        spark.createDataFrame(
            [(d, t, "en", "s", len(t)) for d, t in docs.items()],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        ).write.parquet(str(sub / "documents.parquet"))
        got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["retained_text"])
               for r in x1_dup_span_removal(spark, str(sub)).collect()}
        assert got == want, f"seed {seed} diverged"


class TestSoftDedupWeights:
    def test_weights_sum_to_one_doc_per_group(self, spark, tmp_path):
        """A group of d exact copies must contribute exactly one doc's
        token mass to effective_tokens (weight 1/d each), split across
        the sources holding the copies; unique docs keep weight 1."""
        import pytest

        from swiftbulkuploader_spark.operators.dedup import x1_soft_dedup_weights

        dup = "alpha beta gamma delta epsilon"          # 5 tokens, 3 copies
        rows = [
            (0, dup, "en", "a", 1),
            (1, dup, "en", "a", 1),
            (2, "one two three", "en", "a", 1),          # unique, 3 tokens
            (3, dup, "en", "b", 1),
            (4, "uno dos tres cuatro", "en", "b", 1),    # unique, 4 tokens
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        got = {r["source"]: r for r in
               x1_soft_dedup_weights(spark, str(tmp_path)).collect()}
        a, b = got["a"], got["b"]
        assert (a["n_docs"], a["n_dup_docs"], a["raw_tokens"]) == (3, 2, 13)
        assert a["effective_tokens"] == pytest.approx(5 / 3 + 5 / 3 + 3)
        assert a["retention"] == pytest.approx((5 / 3 + 5 / 3 + 3) / 13)
        assert (b["n_docs"], b["n_dup_docs"], b["raw_tokens"]) == (2, 1, 9)
        assert b["effective_tokens"] == pytest.approx(5 / 3 + 4)
        # corpus-wide: effective mass == one copy of dup + the uniques
        total_eff = a["effective_tokens"] + b["effective_tokens"]
        assert total_eff == pytest.approx(5 + 3 + 4)


class TestContainmentPairs:
    def test_subset_duplicate_flagged(self, spark, tmp_path):
        """An 8-token excerpt of a 16-token doc: all 4 of its 5-shingles
        are contained (containment 1.0) while Jaccard is only 1/3 — the
        subset_missed case symmetric dedup cannot see."""
        from swiftbulkuploader_spark.operators.dedup import x1_containment_pairs

        big = " ".join(f"w{i}" for i in range(1, 17))       # 12 shingles
        small = " ".join(f"w{i}" for i in range(3, 11))     # 4 shingles, all in big
        far = "alpha beta gamma delta epsilon zeta eta theta"
        df = spark.createDataFrame(
            [(0, big, "en", "s", 1), (1, small, "en", "s", 1), (2, far, "en", "s", 1)],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        rows = x1_containment_pairs(spark, str(tmp_path)).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["a"], r["b"]) == (0, 1)
        assert (r["size_a"], r["size_b"], r["shared"]) == (12, 4, 4)
        assert r["containment"] == 1.0
        assert r["jaccard"] == pytest.approx(1.0 / 3.0)
        assert r["subset_missed"] is True


class TestLshRecallEval:
    def test_identical_docs_always_caught(self, spark, tmp_path):
        """J=1 pairs agree on every band, so banding recall over a corpus
        whose only true pairs are exact duplicates is exactly 1: a 3-clique
        (3 pairs) + a pair (1) = 4 truth pairs, 4 hits."""
        from swiftbulkuploader_spark import memo
        from swiftbulkuploader_spark.operators.components import x1_lsh_recall_eval

        memo.clear("allpairs")
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
        r = x1_lsh_recall_eval(spark, str(tmp_path)).collect()[0]
        assert r["n_truth"] == 4
        assert r["n_hit"] == 4
        assert r["recall"] == 1.0
        assert r["n_candidates"] >= 4
        assert 0.0 < r["precision_vs_truth"] <= 1.0


class TestIncrementalDedup:
    """Two-epoch crafted fixture: one new doc per verdict class, each
    hand-derivable (CLAUDE.md rule 7). Epochs: doc_id % 5 == 0 is new."""

    def _write(self, spark, tmp_path):
        probe = "alpha beta gamma delta epsilon zeta eta theta"
        near_base = ("red orange yellow green blue indigo violet amber "
                     "coral teal jade ruby")
        twin = ("one two three four five six seven eight nine ten "
                "eleven twelve")
        extras = " ".join(f"extra{i}" for i in range(15))
        rows = [
            # frozen
            (3, probe, "en", "srcA", len(probe)),
            (102, near_base, "en", "srcA", len(near_base)),
            (151, twin, "en", "srcB", len(twin)),
            # new batch (% 5 == 0)
            (0, probe + " " + extras, "en", "srcB", 1),      # contaminated
            (105, twin, "en", "srcB", len(twin)),            # exact dup
            (10, near_base.replace("ruby", "onyx"), "en", "srcA", 1),  # near
            (15, "completely unique words nothing shared here at all "
                 "whatsoever really truly", "en", "srcB", 1),  # keep
        ]
        spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string, "
                  "source: string, n_chars: long"
        ).write.parquet(str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_verdict_classes_and_provenance(self, spark, tmp_path):
        from swiftbulkuploader_spark.operators.dedup import (
            x1_incremental_dedup,
        )

        d = self._write(spark, tmp_path)
        out = {r["doc_id"]: r for r in
               x1_incremental_dedup(spark, d).collect()}
        assert set(out) == {0, 105, 10, 15}   # one row per NEW doc

        # full probe containment -> compliance verdict wins
        r0 = out[0]
        assert r0["verdict"] == "drop_contaminated"
        assert r0["n_flagged_probes"] == 1
        assert r0["exact_dup_of"] == -1

        # byte-identical twin of a (non-probe) frozen doc
        r105 = out[105]
        assert r105["verdict"] == "drop_exact"
        assert r105["exact_dup_of"] == 151
        # it is ALSO a near dup and the column says so
        assert r105["near_dup_of"] == 151
        assert r105["near_jaccard"] == 1.0

        # one-word change: 3-shingle overlap 7/13 ~ 0.538 >= tau
        # (the base sits at id 102: frozen but OUTSIDE the probe range,
        # else its 5-shingle containment hits exactly 0.5 and the
        # compliance verdict wins — hand-checked while crafting)
        r10 = out[10]
        assert r10["verdict"] == "drop_near_dup"
        assert r10["near_dup_of"] == 102
        assert 0.5 <= r10["near_jaccard"] < 1.0

        r15 = out[15]
        assert r15["verdict"] == "keep"
        assert r15["exact_dup_of"] == -1
        assert r15["near_dup_of"] == -1
        assert r15["near_jaccard"] == -1.0
        assert r15["n_flagged_probes"] == 0
