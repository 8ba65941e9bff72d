"""X3 text primitives: token counts, language ID, quality bounds, shingles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from swiftbulkuploader_spark.functions.text import (
    bpe_ish_token_count,
    detect_lang,
    fingerprint,
    quality_score,
    shingles,
    token_count,
)


def _apply(spark, fn, text, *args):
    return spark.createDataFrame([(text,)], "t: string").select(
        fn(F.col("t"), *args).alias("v")
    ).first()["v"]


class TestTokens:
    @pytest.mark.parametrize("text,n", [
        ("a b c", 3),
        ("  a   b  ", 2),
        ("", 0),
        ("   ", 0),
        ("one", 1),
        ("a\tb\nc d", 4),
    ])
    def test_token_count(self, spark, text, n):
        assert _apply(spark, token_count, text) == n

    def test_bpe_ish_splits_words_numbers_punct(self, spark):
        # 'hello' ',' 'world' '42' '!' — letters, digits, and punct split
        assert _apply(spark, bpe_ish_token_count, "hello, world42!") == 5


class TestLangAndQuality:
    @pytest.mark.parametrize("text,lang", [
        ("the cat and the dog is here", "en"),
        ("el perro de la casa que ladra", "es"),
        ("le chat est dans la maison les jours", "fr"),
        ("der hund und die katze das ist gut", "de"),
        ("我 是 的 在 了", "zh"),
    ])
    def test_detect_lang(self, spark, text, lang):
        assert _apply(spark, detect_lang, text) == lang

    def test_no_markers_is_und(self, spark):
        assert _apply(spark, detect_lang, "zzz qqq xxx") == "und"

    def test_quality_in_unit_interval(self, spark):
        for text in ["x" * 100, "!!!???...", "normal prose with words " * 5, ""]:
            q = _apply(spark, quality_score, text)
            assert 0.0 <= q <= 1.0

    def test_clean_prose_beats_punct_soup(self, spark):
        clean = _apply(spark, quality_score, "a sensible english sentence with actual words " * 3)
        soup = _apply(spark, quality_score, "!!! ??? @@@ ### $$$ %%% ^^^ &&& *** " * 3)
        assert clean > soup


class TestShinglesFingerprint:
    def test_shingles_count_and_content(self, spark):
        out = _apply(spark, shingles, "a b c d e f", 5)
        assert out == ["a b c d e", "b c d e f"]

    def test_short_text_single_shingle(self, spark):
        assert _apply(spark, shingles, "a b", 5) == ["a b"]

    def test_fingerprint_normalizes(self, spark):
        a = _apply(spark, fingerprint, "Hello   World")
        b = _apply(spark, fingerprint, "hello world")
        c = _apply(spark, fingerprint, "hello worlds")
        assert a == b != c


class TestLongDocuments:
    def test_text_ops_on_100kb_docs(self, spark):
        """The driver docs are <1 KB; real corpora aren't. Token counting,
        quality, fingerprint, shingles and minhash must handle 100 KB+
        documents without regex blowup or OOM."""
        import time

        from swiftbulkuploader_spark.operators.dedup import minhash_exact_pairs

        words = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
                 "eiusmod tempor incididunt ut labore et dolore magna aliqua").split()
        long_text = " ".join(words[i % len(words)] for i in range(15000))  # ~100KB
        docs = spark.createDataFrame(
            [(0, long_text), (1, long_text + " suffix"), (2, "short doc")],
            "doc_id: long, text: string",
        )
        t0 = time.time()
        stats = docs.select(
            "doc_id",
            token_count(F.col("text")).alias("toks"),
            quality_score(F.col("text")).alias("q"),
            fingerprint(F.col("text")).alias("fp"),
        ).collect()
        pairs = minhash_exact_pairs(docs).collect()
        dt = time.time() - t0
        by_id = {r["doc_id"]: r for r in stats}
        assert by_id[0]["toks"] == 15000
        assert 0 <= by_id[0]["q"] <= 1
        assert by_id[0]["fp"] != by_id[1]["fp"]
        # the two long docs differ by one trailing word: near-dup
        found = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
        assert found.get((0, 1), 0) > 0.9
        assert dt < 60, f"long-doc path too slow: {dt:.1f}s"


class TestTextPrimitiveProperties:
    """Seeded randomized cross-check of the Column-expression text primitives
    against straight-line Python reimplementations — one Spark job for the
    whole example batch, so the property sweep stays fast."""

    def _cases(self):
        import random

        rng = random.Random(20260813)
        words = ["the", "Fox", "JUMPS", "über", "naïve", "123", "a", "",
                 "punct!", "semi;colon", "tab\tsep", "new\nline", "ñ", "中文"]
        cases = ["", " ", "\t\n ", "word", "  leading", "trailing  ",
                 "a  b   c", " nbsp"]
        for _ in range(80):
            n = rng.randint(1, 12)
            sep = rng.choice([" ", "  ", " \t ", "\n"])
            cases.append(sep.join(rng.choice(words) for _ in range(n)))
        return cases

    @staticmethod
    def _py_norm(s: str) -> str:
        import re

        # Java/RE2 \s is ASCII-only ([ \t\n\x0b\f\r]); Python's \s also
        # matches U+00A0 etc. The engine (and its DuckDB oracles) use the
        # Java/RE2 semantic, so the reference must too.
        return re.sub(r"[ \t\n\x0b\f\r]+", " ", s).strip(" \t\n\x0b\f\r")

    def test_token_count_matches_python(self, spark):
        from swiftbulkuploader_spark.functions.text import token_count

        cases = self._cases()
        df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i: long, text: string")
        got = {r["i"]: r["n"] for r in df.select("i", token_count(F.col("text")).alias("n")).collect()}
        for i, c in enumerate(cases):
            norm = self._py_norm(c)
            expect = 0 if not norm else len(norm.split(" "))
            assert got[i] == expect, (c, got[i], expect)

    def test_fingerprint_matches_python(self, spark):
        import hashlib

        from swiftbulkuploader_spark.functions.text import fingerprint

        cases = self._cases()
        df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i: long, text: string")
        got = {r["i"]: r["fp"] for r in df.select("i", fingerprint(F.col("text")).alias("fp")).collect()}
        for i, c in enumerate(cases):
            expect = hashlib.md5(self._py_norm(c).lower().encode("utf-8")).hexdigest()
            assert got[i] == expect, c

    def test_shingles_match_python(self, spark):
        from swiftbulkuploader_spark.functions.text import shingles

        cases = [c for c in self._cases() if self._py_norm(c)]
        df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i: long, text: string")
        got = {r["i"]: r["sh"] for r in df.select("i", shingles(F.col("text")).alias("sh")).collect()}
        for i, c in enumerate(cases):
            toks = self._py_norm(c).lower().split(" ")
            if len(toks) <= 5:
                expect = [" ".join(toks)]
            else:
                expect = [" ".join(toks[j:j + 5]) for j in range(len(toks) - 4)]
            assert got[i] == expect, (c, got[i], expect)


class TestChunkDocuments:
    def test_overlap_and_coverage_invariants(self, spark, tmp_path):
        """Chunks cover every token; consecutive chunks overlap by W-S
        tokens; short docs produce exactly one full-doc chunk."""
        from swiftbulkuploader_spark.operators.textops import (
            CHUNK_S,
            CHUNK_W,
            x3_chunk_documents,
        )

        long_text = " ".join(f"w{i}" for i in range(150))   # 150 tokens
        exact = " ".join(f"w{i}" for i in range(CHUNK_W))   # exactly one window
        short = "just a few tokens"
        df = spark.createDataFrame(
            [(1, long_text), (2, exact), (3, short)], "doc_id: long, text: string"
        ).withColumns({"lang": F.lit("en"), "source": F.lit("s"), "n_chars": F.length("text")})
        df.write.parquet(str(tmp_path / "documents.parquet"))
        rows = sorted(
            ((r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"]) for r in
             x3_chunk_documents(spark, str(tmp_path)).collect())
        )
        by_doc: dict[int, list[tuple[int, int]]] = {}
        for d, i, n in rows:
            by_doc.setdefault(d, []).append((i, n))
        # 150 tokens, W=64, S=48 -> ceil((150-64)/48)+1 = 3 chunks
        assert [n for _, n in by_doc[1]] == [64, 64, 150 - 2 * CHUNK_S]
        # coverage: last chunk starts at 2*S and reaches token 150
        assert 2 * CHUNK_S + by_doc[1][-1][1] == 150
        assert by_doc[2] == [(0, CHUNK_W)]
        assert by_doc[3] == [(0, 4)]


def test_vocab_growth_invariants(spark, tmp_path):
    """Crafted 3-bucket corpus: curve is cumulative (non-decreasing), final
    cum_vocab equals the corpus-wide distinct-token count, and a bucket
    whose tokens all appeared earlier contributes zero new terms."""
    from swiftbulkuploader_spark.operators.arrays_maps import x3_vocab_growth

    rows = (
        # bucket 0 (doc_id 0-49): vocabulary {a b c}
        [(i, "a b c", "en", "s", 5) for i in range(50)]
        # bucket 1 (50-99): nothing new
        + [(i, "c b a", "en", "s", 5) for i in range(50, 100)]
        # bucket 2 (100-149): one new term
        + [(i, "a d", "en", "s", 3) for i in range(100, 150)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["bucket"]: r for r in x3_vocab_growth(spark, str(tmp_path)).collect()}
    assert sorted(out) == [0, 1, 2]
    assert [out[b]["bucket_new_terms"] for b in (0, 1, 2)] == [3, 0, 1]
    assert [out[b]["cum_vocab"] for b in (0, 1, 2)] == [3, 3, 4]
    assert [out[b]["cum_tokens"] for b in (0, 1, 2)] == [150, 300, 400]
    assert all(out[b]["n_docs"] == 50 for b in out)


class TestCCNetBucket:
    def test_thirds_are_balanced_and_ordered(self, spark):
        """Per language: bucket sizes differ by at most 2 (percent_rank
        thirds), and every head document scores no higher cross-entropy
        than every tail document — the CCNet partition contract."""
        from collections import defaultdict

        from swiftbulkuploader_spark.operators.textops import x3_ccnet_bucket

        rows = x3_ccnet_bucket(spark, "/root/testdata/sf0.001").collect()
        by_lang = defaultdict(lambda: defaultdict(list))
        for r in rows:
            by_lang[r["lang"]][r["bucket"]].append(r["xent"])
        assert by_lang
        for lang, buckets in by_lang.items():
            sizes = {b: len(v) for b, v in buckets.items()}
            assert set(sizes) <= {"head", "middle", "tail"}
            if sum(sizes.values()) >= 3:
                assert max(sizes.values()) - min(sizes.values()) <= 2, lang
                assert max(buckets["head"]) <= min(buckets["tail"]), lang


class TestStupidBackoff:
    def test_backoff_levels_and_scores(self, spark, tmp_path):
        """Pin each resolution level of the stupid-backoff chain on a
        crafted corpus: trigram hit -> c3/c12; bigram backoff ->
        0.4*c23/c2; unigram backoff -> 0.4^2*c3/N; OOV floor -> 0.4^2/N.
        Train half = even doc_ids (here just doc 0: 'a b c d d')."""
        import math

        import pytest

        from swiftbulkuploader_spark.operators.textops import x3_stupid_backoff

        rows = [
            (0, "a b c d d", "en", "s", 1),   # train: N=5, c(d)=2
            (1, "a b c", "en", "s", 1),       # trigram hit: s=1
            (3, "c a b", "en", "s", 1),       # bigram backoff: 0.4*c(a,b)/c(a)
            (5, "x y d", "en", "s", 1),       # unigram backoff: 0.16*c(d)/N
            (7, "x y z", "en", "s", 1),       # OOV floor: 0.16/N
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        got = {r["doc_id"]: r for r in
               x3_stupid_backoff(spark, str(tmp_path)).collect()}
        assert set(got) == {0, 1, 3, 5, 7}

        lam2 = 0.4 * 0.4
        # doc 0 (train itself): all 3 trigrams are hits with s=1
        assert got[0]["n_tri_hits"] == 3
        assert got[0]["avg_logscore"] == pytest.approx(0.0)
        # trigram hit
        assert (got[1]["n_tri_hits"], got[1]["n_bigram_backoff"],
                got[1]["n_unigram_backoff"]) == (1, 0, 0)
        assert got[1]["avg_logscore"] == pytest.approx(0.0)
        # bigram backoff
        assert got[3]["n_bigram_backoff"] == 1
        assert got[3]["avg_logscore"] == pytest.approx(math.log(0.4 * 1 / 1))
        # unigram backoff (c(d)=2, N=5)
        assert got[5]["n_unigram_backoff"] == 1
        assert got[5]["avg_logscore"] == pytest.approx(math.log(lam2 * 2 / 5))
        # OOV floor
        assert got[7]["n_unigram_backoff"] == 1
        assert got[7]["avg_logscore"] == pytest.approx(math.log(lam2 / 5))


class TestBPETrain:
    def test_classic_merge_sequence_and_exhaustion(self, spark, tmp_path):
        """The textbook BPE example: counts hug=3, pug=2, bun=1 must learn
        (u,g) -> (h,ug) -> (p,ug) -> tie-broken (b,u) -> (bu,n), then
        exhaust the vocabulary and stop early (5 of 6 budgeted merges)."""
        from swiftbulkuploader_spark.operators.textops import x3_bpe_train

        rows = [
            (0, "hug hug hug pug pug bun", "en", "s", 1),
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        got = [tuple(r) for r in x3_bpe_train(spark, str(tmp_path)).collect()]
        assert got == [
            (1, "u", "g", "ug", 5),
            (2, "h", "ug", "hug", 3),
            (3, "p", "ug", "pug", 2),
            (4, "b", "u", "bu", 1),   # 1-count tie vs (u,n): lexicographic
            (5, "bu", "n", "bun", 1),
        ]

    def test_greedy_left_to_right_on_runs(self, spark, tmp_path):
        """A run of identical symbols must merge greedily left-to-right:
        'aaa' with pair (a,a) becomes [aa, a], so round 2 merges (aa, a)."""
        from swiftbulkuploader_spark.operators.textops import x3_bpe_train

        rows = [(0, "aaa aaa", "en", "s", 1)]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        got = [tuple(r) for r in x3_bpe_train(spark, str(tmp_path)).collect()]
        # counting sees both adjacent positions (2 per word x cnt 2 = 4),
        # but the MERGE is greedy non-overlapping: 'aaa' -> [aa, a]
        assert got[0] == (1, "a", "a", "aa", 4)
        assert got[1] == (2, "aa", "a", "aaa", 2)
        assert len(got) == 2                          # then exhausted


class TestChao1Richness:
    def test_known_frequency_distribution(self, spark, tmp_path):
        """doc 'a b c d' gives trigrams {abc, bcd} once each; adding a
        second 'a b c' doc makes abc a doubleton: N=3, D=2, f1=1, f2=1,
        chao1 = 2 + 1*0/(2*2) = 2, coverage = 1 - 1/3."""
        import pytest

        from swiftbulkuploader_spark.operators.textops import x3_chao1_richness

        rows = [
            (0, "a b c d", "en", "s", 1),
            (1, "a b c", "en", "s", 1),
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        r = x3_chao1_richness(spark, str(tmp_path)).collect()[0]
        assert (r["n_grams"], r["distinct_grams"], r["f1"], r["f2"]) == (3, 2, 1, 1)
        assert r["chao1"] == pytest.approx(2.0)
        assert r["coverage"] == pytest.approx(1 - 1 / 3)


class TestReadability:
    def test_flesch_formulas(self, spark, tmp_path):
        """'The cat sat. The dog ran!': 6 words, 2 sentences, 6 single-vowel
        -group syllables -> FRE = 206.835 - 1.015*3 - 84.6*1, FKG =
        0.39*3 + 11.8*1 - 15.59."""
        from swiftbulkuploader_spark.operators.textops import x3_readability

        df = spark.createDataFrame(
            [(1, "The cat sat. The dog ran!", "en", "s", 25)],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        r = x3_readability(spark, str(tmp_path)).collect()[0]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
        assert r["fre"] == pytest.approx(206.835 - 1.015 * 3.0 - 84.6 * 1.0)
        assert r["fk_grade"] == pytest.approx(0.39 * 3.0 + 11.8 * 1.0 - 15.59)

    def test_sentence_floor_and_vowel_groups(self, spark, tmp_path):
        """No terminal punctuation floors sentences at 1; 'beautiful queue'
        counts vowel GROUPS (eau+i+u=3, ueue=1), not vowels."""
        from swiftbulkuploader_spark.operators.textops import x3_readability

        df = spark.createDataFrame(
            [(1, "beautiful queue", "en", "s", 15)],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        r = x3_readability(spark, str(tmp_path)).collect()[0]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (2, 1, 4)


class TestBPEEncode:
    def test_fertility_under_learned_merges(self, spark, tmp_path):
        """Textbook corpus + two tail words: the 6 merge rounds learn
        ug, hug, pug, bu, bug, bun (tie-breaks verified in TestBPETrain);
        encoding then gives hug/pug/bug/bun = 1 subtoken each and
        hugs = [hug, s] = 2 (no (hug,s) merge budget left)."""
        from swiftbulkuploader_spark.operators.textops import x3_bpe_encode

        rows = [
            (0, "hug hug hug pug pug bun", "en", "s", 1),
            (1, "bug hugs", "en", "s", 1),
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        got = {r["doc_id"]: r for r in x3_bpe_encode(spark, str(tmp_path)).collect()}
        assert got[0]["n_words"] == 6
        assert got[0]["n_subtokens"] == 6      # every word a single token
        assert got[0]["fertility"] == pytest.approx(1.0)
        assert got[1]["n_words"] == 2
        assert got[1]["n_subtokens"] == 3      # bug=1, hugs=[hug,s]=2
        assert got[1]["fertility"] == pytest.approx(1.5)


class TestJsdSources:
    def test_disjoint_and_identical_sources(self, spark, tmp_path):
        """Disjoint vocabularies: JSD = ln 2 exactly (jsd_norm 1); two
        sources with identical distributions score ~0 against each other's
        half of the corpus."""
        import math

        from swiftbulkuploader_spark.operators.textops import x6_jsd_sources

        rows = [
            (0, "xx xx xx xx", "en", "sa", 1),
            (1, "yy yy yy yy", "en", "sb", 1),
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        got = {r["source"]: r for r in x6_jsd_sources(spark, str(tmp_path)).collect()}
        for s in ("sa", "sb"):
            assert got[s]["n_tokens"] == 4 and got[s]["n_vocab"] == 1
            assert got[s]["jsd"] == pytest.approx(math.log(2.0))
            assert got[s]["jsd_norm"] == pytest.approx(1.0)

    def test_identical_distributions_score_zero(self, spark, tmp_path):
        from swiftbulkuploader_spark.operators.textops import x6_jsd_sources

        rows = [
            (0, "aa bb aa bb", "en", "sa", 1),
            (1, "aa bb aa bb", "en", "sb", 1),
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        df.write.parquet(str(tmp_path / "documents.parquet"))
        got = {r["source"]: r for r in x6_jsd_sources(spark, str(tmp_path)).collect()}
        assert got["sa"]["jsd"] == pytest.approx(0.0, abs=1e-12)
        assert got["sb"]["jsd_norm"] == pytest.approx(0.0, abs=1e-12)


class TestCalibrationBins:
    def test_bin_invariants_on_smoke_corpus(self, spark):
        """Bins partition the corpus: counts sum to n_docs, every mean_p
        sits inside its decile band (up to the 6-dp edge), frac_pos is a
        valid fraction, and gap = mean_p - frac_pos."""
        from swiftbulkuploader_spark.operators.textops import (
            CALIB_BINS,
            x6_calibration_bins,
        )

        sf = "/root/testdata/sf0.001"
        rows = x6_calibration_bins(spark, sf).collect()
        assert rows
        n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
        assert sum(r["n"] for r in rows) == n_docs
        for r in rows:
            assert 0 <= r["bin"] < CALIB_BINS
            lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0
            assert lo - 1e-6 <= r["mean_p"] <= (hi + 1e-6 if r["bin"] < 9 else 1.0)
            assert 0.0 <= r["frac_pos"] <= 1.0
            assert r["gap"] == pytest.approx(r["mean_p"] - r["frac_pos"])


class TestHtmlExtract:
    def test_known_doc_all_branches(self, spark, tmp_path):
        """doc_id 0 hits every branch (0%3=0%4=0%5=0: nav + style +
        script): title = first 3 words, 2 links counted, both block
        flags true, and the extracted text is exactly
        'home about <title words> <body>' after tag stripping."""
        from swiftbulkuploader_spark.operators.textops import x3_html_extract

        rows = [
            (0, "alpha beta gamma delta", "en", "s", 22),
            (1, "one two", "en", "s", 7),   # no nav/style/script branches
        ]
        spark.createDataFrame(
            rows,
            "doc_id: long, text: string, lang: string, source: string, "
            "n_chars: long",
        ).write.parquet(str(tmp_path / "documents.parquet"))
        got = {r["doc_id"]: r for r in
               x3_html_extract(spark, str(tmp_path)).collect()}
        r0 = got[0]
        assert r0["title"] == "alpha beta gamma"
        assert r0["n_links"] == 2
        assert r0["has_script"] and r0["has_style"]
        # title + nav anchors + h1 + body survive; script/style bodies don't
        assert r0["n_chars_text"] == len(
            "alpha beta gamma home about alpha beta gamma alpha beta gamma delta"
        )
        r1 = got[1]
        assert r1["title"] == "one two"          # fewer than 3 words: all
        assert r1["n_links"] == 0
        assert not r1["has_script"] and not r1["has_style"]
        assert 0.0 < r1["text_ratio"] < 1.0

    def test_fixture_liveness(self, spark):
        """Both block flags and the link count vary across the fixture;
        text_ratio strictly inside (0, 1) everywhere."""
        from swiftbulkuploader_spark.operators.textops import x3_html_extract

        rows = x3_html_extract(spark, "/root/testdata/sf0.01").collect()
        assert len(rows) == 500
        assert {r["has_script"] for r in rows} == {True, False}
        assert {r["has_style"] for r in rows} == {True, False}
        assert {r["n_links"] for r in rows} == {0, 2}
        assert all(0.0 < r["text_ratio"] < 1.0 for r in rows)
