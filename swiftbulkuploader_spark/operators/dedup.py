"""Deduplication operators over `documents` (SURVEY.md §2.9 X1).

Four tiers, all expressed as native DataFrame plans (no Python in the hot
path) so each scales to 100 TB:

* exact        — md5 fingerprint groupBy; one narrow shuffle on the hash.
* MinHash LSH  — word 3-shingles -> 32-bit md5-prefix hashes -> 32
                 xor-multiply minhashes -> 8 bands of 4 -> band-tuple
                 self-join -> exact-Jaccard verify. The band join shuffles on
                 (band, 4 ints) only; candidate verification touches
                 candidate pairs, never the n^2 cross product.
* SimHash      — 32-bit signed-vote fingerprint via one explode + 32
                 conditional aggregates (all codegen); near-dup pairs via
                 8-bit chunk banding (pigeonhole: hamming<=3 pairs share a
                 chunk) + bit_count(xor) verify.
* n-gram Jaccard — exact Jaccard over the shingle-hash sets of every LSH
                 candidate.

Every tier hashes with plain integer arithmetic (md5 prefixes, no seeded
hash), so each query has a DuckDB oracle that replays it exactly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table
from swiftbulkuploader_spark.functions.text import fingerprint, normalize_ws, shingles
from swiftbulkuploader_spark.functions.vectors import cosine_similarity
from swiftbulkuploader_spark.plans.layout import spread

# ---------------------------------------------------------------------------
# X1a — exact dedup
# ---------------------------------------------------------------------------


def x1_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan: directional 5-shingle containment of a
    small probe set (docs 0-7, standing in for a benchmark/eval suite)
    against the rest of the corpus — the decontamination pass an LLM
    pipeline runs before training.

    Containment (|probe ∩ doc| / |probe|), not Jaccard: a short eval item
    fully embedded in a long training doc has low Jaccard but containment
    1.0 — exactly the case that must be caught. The probe side is bounded
    (8 rows) and broadcast, so the scan is one pass over the corpus; at
    real scale the probe set is thousands of rows — still broadcastable —
    or flipped into an inverted shingle index for millions. Per probe:
    docs flagged at >=0.5 containment and the max containment seen.

    Every probe reports a row even against an EMPTY corpus ((probe_id, 0,
    0.0) via the left-join backfill) — the same edge semantics as
    ``x1_contamination_indexed``, so the two forms match row-for-row on
    any input, not just non-degenerate ones."""
    base = shingle_base(load_table(spark, sf_dir, "documents"))
    probes = (
        base.filter(F.col("doc_id") < 8)
        .select(F.col("doc_id").alias("probe_id"), F.col("sh").alias("p_sh"))
        .withColumn("p_n", F.size("p_sh"))
    )
    corpus = base.filter(F.col("doc_id") >= 8).select(
        "doc_id", F.col("sh").alias("d_sh")
    )
    pairs = corpus.join(F.broadcast(probes)).select(
        "probe_id",
        "doc_id",
        (F.size(F.array_intersect("d_sh", "p_sh")) / F.col("p_n")).alias("cont"),
    )
    agg = pairs.groupBy("probe_id").agg(
        F.sum((F.col("cont") >= 0.5).cast("long")).alias("n_flagged"),
        F.round(F.max("cont"), 6).alias("max_containment"),
    )
    return (
        probes.select("probe_id")
        .join(F.broadcast(agg), "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
            F.coalesce("max_containment", F.lit(0.0)).alias("max_containment"),
        )
    )


def x1_contamination_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination scan via an INVERTED SHINGLE INDEX — the scale path for
    probe sets too large to broadcast (millions of eval items).

    Same semantics and oracle as ``x1_contamination``; different plan:
    instead of broadcasting whole probe shingle ARRAYS and intersecting
    per (probe, doc) pair, both sides explode to (shingle-hash, id) postings
    and equi-join on the 8-byte hash — a plain shuffled hash join whose keys
    distribute uniformly (xxhash64), so no side needs to fit in memory and
    skew is bounded by shingle document-frequency, not probe count. The
    per-(probe, doc) match count IS the intersection size (both sides
    distinct), and probes with zero hits anywhere re-enter via a left join
    so the aggregate matches the broadcast form row-for-row — including
    against an empty corpus, where both emit (probe_id, 0, 0.0) per probe.
    """
    base = shingle_base(load_table(spark, sf_dir, "documents"))
    probes = (
        base.filter(F.col("doc_id") < 8)
        .select(F.col("doc_id").alias("probe_id"), F.col("sh").alias("p_sh"))
        .withColumn("p_n", F.size("p_sh"))
    )
    # posting lists: (shingle-hash, id). 64-bit xxhash64 stands in for the
    # shingle string (collision odds ~2^-64 per pair — far below the row
    # error budget); the join shuffle carries 16 B/posting, not the string.
    # The hashes ride pre-computed from the shared base's `hs` column.
    probe_idx = base.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("probe_id"),
        F.size("sh").alias("p_n"),
        F.explode("hs").alias("sh_hash"),
    )
    corpus_idx = base.filter(F.col("doc_id") >= 8).select(
        "doc_id", F.explode("hs").alias("sh_hash")
    )
    hits = (
        corpus_idx.join(probe_idx, "sh_hash")
        .groupBy("probe_id", "p_n", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .select(
            "probe_id",
            (F.col("n_match") / F.col("p_n")).alias("cont"),
        )
        .groupBy("probe_id")
        .agg(
            F.sum((F.col("cont") >= 0.5).cast("long")).alias("n_flagged"),
            F.round(F.max("cont"), 6).alias("max_containment"),
        )
    )
    # probes whose shingles hit nothing still report (0, 0.0), matching the
    # broadcast form's max-over-all-pairs semantics. hits has <= n_probes
    # rows post-aggregation — broadcast it so the backfill join never
    # becomes a sort-merge over two exchanges
    return (
        probes.select("probe_id")
        .join(F.broadcast(hits), "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
            F.coalesce("max_containment", F.lit(0.0)).alias("max_containment"),
        )
    )


def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the smallest doc_id.
    `min(doc_id)` (not dropDuplicates) so the survivor is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("copies"))
    )


def x1_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization-first dedup: hash AFTER lowercasing + whitespace
    normalization, so case/spacing variants of the same content collapse
    (the standard pre-dedup canonicalization a raw-byte hash misses).
    Reports groups where canonicalization found MORE copies than the raw
    hash would."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return (
        docs.select("doc_id", canon.alias("canon_fp"), F.md5("text").alias("raw_fp"))
        .groupBy("canon_fp")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("copies"),
            F.countDistinct("raw_fp").alias("raw_variants"),
        )
    )


def x1_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile: totals vs distinct texts/fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique_text"),
        F.countDistinct(fingerprint(F.col("text"))).alias("n_unique_fp"),
    )


def x1_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup policy: within each 40-char-prefix bucket keep the HIGHEST
    QUALITY doc (longest n_chars, doc_id tiebreak) — the survivor-selection
    shape pretraining dedup actually uses (vs min-id). max_by is a single
    aggregate; no self-join, no window."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(normalize_ws(F.lower(F.col("text"))), 1, 40)
    # max_by with a struct: bigger n_chars wins, smaller doc_id breaks ties
    return (
        docs.select("doc_id", "n_chars", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.expr("max_by(doc_id, struct(n_chars, -doc_id))").alias("keeper_id"),
            F.max("n_chars").alias("keeper_chars"),
            F.count("*").alias("bucket_size"),
        )
    )


def x1_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dup groups keyed on the normalized 40-char prefix (the
    cheap first-pass bucketing used before pairwise verification)."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(normalize_ws(F.lower(F.col("text"))), 1, 40)
    return (
        docs.select("doc_id", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").alias("copies"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("copies") > 1)
    )


# ---------------------------------------------------------------------------
# X1b — MinHash + LSH banding
# ---------------------------------------------------------------------------


def shingle_base(docs: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, sh, hs): distinct word k-shingles + their 64-bit hashes,
    `persist()`ed — the shared 5-shingle substrate of the contamination
    (broadcast and indexed), contamination-fraction, containment and
    incremental-dedup queries. They read this one cached frame, so a session
    computes the interpreted-HOF shingling once per corpus, not once per
    query (Spark's cache manager keys on the logical plan, so every caller
    building the same base hits the same InMemoryRelation with column
    pruning). MinHash does not read it: its pipeline hashes 3-shingles with
    32-bit md5 prefixes (``_mh_exact_base``) so DuckDB can replay it.

    `spread()` first: shingling is compute-dense, and byte-sized parquet
    splits (row-group-bounded) under-parallelize it. The persist also stops
    CollapseProject from inlining the shingle/hash arrays into every
    downstream expression (higher-order functions run interpreted — no
    codegen CSE). MEMORY_AND_DISK, so the materialized base spills rather
    than OOMs at large scale."""
    sh = F.array_distinct(shingles(F.col("text"), k))
    return (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", sh.alias("sh"))
        .filter(F.size("sh") > 0)
        .withColumn("hs", F.transform(F.col("sh"), lambda s: F.xxhash64(s)))
        .persist()
    )


# deterministic overflow-safe remix constants for the ORACLED MinHash twin:
# odd multipliers below 2^29 so hv (< 2^32) * a fits in a signed 64-bit int
# on BOTH engines (Java wraps silently, DuckDB ERRORS on overflow — staying
# under the limit sidesteps the divergence entirely)
MINHASH_EXACT_N = 32
_MH_MOD = 4294967296  # 2^32: xor-then-multiply mod 2^32 is a bijection
# for odd multipliers and actually MIXES — a plain a*h+b over a modulus the
# 32-bit inputs never wrap stays monotone in h, so every "independent"
# minhash would pick the SAME minimum shingle (measured: near-dups went
# undetected); the xor reshuffles the order per k


def _mh_exact_consts() -> list[tuple[int, int]]:
    out, state = [], 0x9E3779B9
    for _ in range(MINHASH_EXACT_N):
        state = (state * 1103515245 + 12345) & 0x3FFFFFFF
        a = (state | 1) & 0x1FFFFFFF            # odd, < 2^29
        state = (state * 1103515245 + 12345) & 0x3FFFFFFF
        b = state
        out.append((a, b))
    return out


def x1_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with Jaccard >= 0.5, oracled: signature ->
    banding -> band-bucket join -> exact-Jaccard verify, with every stage
    engine-reproducible — 32-bit md5-prefix shingle hashes, 32 xor-multiply
    remixes ((h XOR b_k) * a_k mod 2^32, overflow-safe odd constants), 8
    bands of 4 signature values joined on the RAW 4-tuple (no bucket hash
    needed), and the exact Jaccard on hash arrays. DuckDB replays the
    identical integer arithmetic. ``x1_minhash_neardup`` is this same
    function under its original contract name.

    The band join shuffles on (band, 4 ints); candidate verification
    touches band collisions only, never n^2; the verify join ships 8-byte
    hash arrays."""
    return minhash_corpus_pairs(spark, sf_dir)


def _mh_exact_base(docs: DataFrame) -> DataFrame:
    """(doc_id, hs): 32-bit md5-prefix hash SETS of the 3-shingles,
    eagerly checkpointed (shared by the band explode and both verify
    sides)."""
    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    return (
        spread(docs)
        .select("doc_id", F.array_distinct(shingles(F.col("text"), 3)).alias("sh"))
        .filter(F.size(toks) >= 3)
        .select(
            "doc_id",
            # array_distinct AFTER hashing: two distinct shingles can
            # collide in the 32-bit md5 prefix within one doc, and the
            # verify below must see SET semantics on both engines —
            # array_intersect dedups while a multiplicity-counting oracle
            # join would not (the oracle's h CTE mirrors with SELECT
            # DISTINCT doc_id, hv)
            F.array_distinct(
                F.transform(
                    "sh",
                    lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
                )
            ).alias("hs"),
        )
        .localCheckpoint(eager=True)
    )


def _mh_exact_bands(base: DataFrame) -> DataFrame:
    """(doc_id, bj, c0..c3): the 8x4 banding of the xor-multiply remix
    signatures — the LSH bucketing frame whose 4-tuple equijoin yields
    candidates."""
    consts = _mh_exact_consts()

    def _mix(a: int, b: int):
        # closure factory: PySpark derives the HOF's arity from the
        # lambda's parameter count, so defaults-as-captures would turn
        # this into a 3-arg lambda
        return lambda h: (h.bitwiseXOR(F.lit(b)) * F.lit(a)) % F.lit(_MH_MOD)

    sigs = base.select(
        "doc_id",
        *[
            F.array_min(F.transform("hs", _mix(a, b))).alias(f"s{i}")
            for i, (a, b) in enumerate(consts)
        ],
    )
    bands = None
    for bj in range(8):
        part = sigs.select(
            "doc_id",
            F.lit(bj).alias("bj"),
            *[
                F.col(f"s{bj * 4 + r}").alias(f"c{r}")
                for r in range(4)
            ],
        )
        bands = part if bands is None else bands.unionByName(part)
    return bands


def _mh_verified_pairs(base: DataFrame, bands: DataFrame) -> DataFrame:
    """Band-collision candidates verified with the exact hash-set Jaccard,
    UNthresholded: (a, b, c, den, jaccard). The integer (c, den) pair rides
    along so downstream thresholds filter on the exact ratio, never the
    6-dp rounded output column (round-12 refactor: one body shared by the
    per-frame form and the memoized corpus form)."""
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["bj", "c0", "c1", "c2", "c3"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    return (
        cand.join(base.select(F.col("doc_id").alias("a"), F.col("hs").alias("ha")), "a")
        .join(base.select(F.col("doc_id").alias("b"), F.col("hs").alias("hb")), "b")
        .withColumn("c", F.size(F.array_intersect("ha", "hb")))
        .withColumn("den", F.size("ha") + F.size("hb") - F.col("c"))
        .withColumn(
            "jaccard",
            F.round(F.col("c").cast("double") / F.col("den"), 6),
        )
        .select("a", "b", "c", "den", "jaccard")
    )


def _mh_threshold(verified: DataFrame,
                  min_jaccard: float | None) -> DataFrame:
    if min_jaccard is not None:
        verified = verified.filter(
            F.col("c").cast("double") / F.col("den") >= F.lit(min_jaccard)
        )
    return verified.select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "jaccard"
    )


def minhash_exact_pairs(docs: DataFrame,
                        min_jaccard: float | None = 0.5) -> DataFrame:
    """The engine-reproducible MinHash-LSH pair pipeline over an arbitrary
    (doc_id, text) frame — factored out of ``x1_minhash_exact`` (round 6)
    so composed pipelines (x10_dedup_funnel) run the same stages over a
    FILTERED corpus; the generated oracle mirrors via its ``src``
    parameter. ``min_jaccard=None`` (round 7) returns EVERY verified
    candidate with its exact Jaccard — the unthresholded form
    ``x1_ngram_jaccard`` inspects. Round 9 split the base/banding stages
    into ``_mh_exact_base`` / ``_mh_exact_bands`` so the incremental
    crawl plan (x1_incremental_dedup) joins NEW bands against FROZEN
    bands instead of self-joining. Contract queries over the FULL corpus
    should use ``minhash_corpus_pairs`` instead — it memoizes the
    base/band/verify stages per (session, sf_dir)."""
    base = _mh_exact_base(docs)
    bands = _mh_exact_bands(base)
    return _mh_threshold(_mh_verified_pairs(base, bands), min_jaccard)


# Full-corpus MinHash substrate memo (round 12, r11 verdict ask #1):
# x1_minhash_exact, x1_ngram_jaccard, x1_lsh_recall_eval and
# x1_incremental_dedup each re-derived (and eagerly re-checkpointed) the
# SAME md5-prefix base + 8x4 banding per call — 1-2 s of redundant
# materialization per bench rep. One (base, bands) pair per session, a
# session memo; the incremental screen derives its new/frozen sides as
# doc_id FILTERS of these frames (every stage is per-row, so
# filter-after == build-on-filtered).


def mh_corpus_parts(spark: SparkSession,
                    sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Memoized full-corpus (base, bands): both eagerly localCheckpointed
    so every consumer (and every bench rep after the first) reads
    materialized partitions."""
    def build():
        base = _mh_exact_base(load_table(spark, sf_dir, "documents"))
        return base, _mh_exact_bands(base).localCheckpoint(eager=True)

    return memo.get(spark, "minhash_corpus", (sf_dir,), build)


def minhash_corpus_pairs(spark: SparkSession, sf_dir: str,
                         min_jaccard: float | None = 0.5) -> DataFrame:
    """``minhash_exact_pairs`` over the full corpus with the band join +
    exact verify memoized/persisted per session — thresholds apply to the
    cached UNthresholded frame on the exact c/den ratio, so every
    ``min_jaccard`` reads one materialization."""
    v = memo.get(spark, "minhash_verified", (sf_dir,), lambda: _mh_verified_pairs(
        *mh_corpus_parts(spark, sf_dir)).persist())
    return _mh_threshold(v, min_jaccard)


def x1_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for every LSH candidate pair (NO threshold) —
    the similarity histogram a dedup-tuning run inspects to pick its
    cutoff. The candidates are the x1_minhash_exact ones
    (``minhash_corpus_pairs`` with ``min_jaccard=None`` — 32-bit md5-prefix
    hashes, xor-multiply remixes, 8x4 banding), so DuckDB replays candidate
    generation AND the exact hash-set Jaccard integer-for-integer.

    Plan shape is the production one: band 4-tuple join (never n^2), then
    the bounded verify join over band collisions only."""
    return minhash_corpus_pairs(spark, sf_dir, min_jaccard=None)


# Bloom decontamination screen: m-bit filter, 3 xor-multiply position
# functions (odd a < 2^29 keeps (h XOR b) * a below 2^61 — the
# x1_minhash_exact overflow budget, replayable in DuckDB integer math)
BLOOM_M = 16384
BLOOM_CONSTS = ((179424673, 735632791), (15485863, 694847539),
                (104395301, 999999937))
BLOOM_FLAG_MIN = 4  # docs sharing >= 4 bloom-hit shingles get flagged


def x1_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a BLOOM FILTER over the eval set's shingles —
    the production shape when the eval/benchmark suite is too large to
    broadcast as literal shingle sets but its BITS still fit anywhere:
    the filter is a fixed m-bit array (here m=16384 -> 2 KB) regardless
    of eval-set size, so the corpus-side screen is one scan with k=3
    integer probes per shingle. Spark's own runtime-filter machinery
    (spark.sql.optimizer.runtime.bloomFilter.enabled) injects exactly
    this plan for selective joins; this operator is the explicit,
    contract-level form of it.

    Execution shape: the set-bit POSITIONS of the probe filter are a tiny
    table (distinct positions << m), so the per-shingle membership test is
    three broadcast LEFT SEMI joins on the three position columns — no
    giant literal, no UDF, and the corpus side never re-shuffles. The
    false positives of a Bloom filter are normally a tolerance concern;
    here the position functions are deterministic integer arithmetic
    (md5-prefix 32-bit shingle hashes + xor-multiply remixes mod 2^32,
    mod m), so DuckDB replays the EXACT filter, false positives included
    — per-doc exact-hit and bloom-hit counts hash-match, and the
    no-false-negative property (n_bloom_hits >= n_exact_hits) is visible
    row by row in the compared output. At 100 TB the positions table
    becomes a broadcast byte-array bitset; the plan shape is unchanged.

    Reference basis: the same decontamination contract as
    x1_contamination / x1_contamination_indexed (eval docs 0-7 vs the
    rest), counting shared distinct 3-gram shingles instead of
    containment, flag at >= BLOOM_FLAG_MIN shared."""
    return bloom_screen_flags(load_table(spark, sf_dir, "documents"))


def bloom_screen_flags(docs: DataFrame) -> DataFrame:
    """The Bloom decontamination screen over an arbitrary (doc_id, text)
    frame — factored out of ``x1_contamination_bloom`` (round 6) for the
    composed x10_dedup_funnel; the generated oracle mirrors via its
    ``src`` parameter. Probe set = surviving docs with doc_id < 8;
    output rows cover docs with doc_id >= 8 only."""
    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    posts = (
        spread(docs)
        .select("doc_id", F.array_distinct(shingles(F.col("text"), 3)).alias("sh"))
        .filter(F.size(toks) >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        "sh",
                        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
                    )
                )
            ).alias("h"),
        )
        # read five ways below (probe set, three position branches via the
        # probe set, corpus side of both counts + the doc list) — without a
        # persist each reference re-executes the shingle explode (no CSE
        # across union/join branches; the plan showed 58 exchanges)
        .persist()
    )

    def bloom_pos(h, j: int):
        a, b = BLOOM_CONSTS[j]
        return (h.bitwiseXOR(F.lit(b)) * F.lit(a)) % F.lit(_MH_MOD) % F.lit(BLOOM_M)

    probe_h = posts.filter(F.col("doc_id") < 8).select("h").distinct()
    # ONE shared bit array: every position function sets bits in the same
    # m-bit space (union), exactly a Bloom filter's layout
    positions = None
    for j in range(3):
        pj = probe_h.select(bloom_pos(F.col("h"), j).alias("p"))
        positions = pj if positions is None else positions.unionByName(pj)
    positions = positions.distinct()

    corpus = posts.filter(F.col("doc_id") >= 8).select(
        "doc_id", "h", *[bloom_pos(F.col("h"), j).alias(f"p{j}") for j in range(3)]
    )
    hits = corpus
    for j in range(3):
        hits = hits.join(
            F.broadcast(positions.withColumnRenamed("p", f"pp{j}")),
            F.col(f"p{j}") == F.col(f"pp{j}"),
            "left_semi",
        )
    bloom_counts = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_hits")
    )
    exact_counts = (
        corpus.join(F.broadcast(probe_h), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_exact_hits"))
    )
    return (
        corpus.select("doc_id").distinct()
        .join(exact_counts, "doc_id", "left")
        .join(bloom_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_exact_hits", F.lit(0)).alias("n_exact_hits"),
            F.coalesce("n_bloom_hits", F.lit(0)).alias("n_bloom_hits"),
            (F.coalesce("n_bloom_hits", F.lit(0)) >= BLOOM_FLAG_MIN).alias("flagged"),
        )
    )


def x1_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE shingle-overlap matrix — the dedup-planning report a
    corpus curator reads before mixing sources (which crawls/dumps share
    content, and how much): per source, the DISTINCT 3-gram shingle set
    (md5-prefix 32-bit hashes, set semantics across the source's docs);
    per source pair, intersection size, Jaccard and containment
    (|A∩B| / min(|A|,|B|) — catches a small source embedded in a big one,
    same reasoning as the contamination operators).

    Scale shape: one (source, hash)-distinct aggregation, then a posting
    join on the 8-byte hash whose fan-out per key is bounded by
    n_sources^2 — NOT by shingle document frequency, because each source
    contributes a key at most once — so stopword shingles cannot blow it
    up (contrast x1_allpairs_prefix, where per-DOC postings need prefix
    filtering). The complete matrix (zero-overlap pairs included) comes
    from a bounded n_sources^2 cross join of the per-source size table —
    an aggregate of a few dozen rows at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    posts = (
        spread(docs)
        .select("source", F.array_distinct(shingles(F.col("text"), 3)).alias("sh"))
        .filter(F.size(toks) >= 3)
        .select(
            "source",
            F.explode(
                F.transform(
                    "sh",
                    lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
                )
            ).alias("h"),
        )
        .distinct()
        # read three ways (size agg + both sides of the self-join):
        # persist so the shingle explode + distinct runs once
        .persist()
    )
    sz = posts.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    common = (
        posts.alias("x")
        .join(posts.alias("y"), "h")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pairs = (
        sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
        .join(
            sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    c = F.coalesce("n_common", F.lit(0))
    return (
        pairs.join(common, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            c.alias("n_common"),
            F.round(c / (F.col("n_a") + F.col("n_b") - c), 6).alias("jaccard"),
            F.round(c / F.least("n_a", "n_b"), 6).alias("containment"),
        )
    )


ALLPAIRS_TAU = 0.5
WINNOW_W = 4


def _winnow_gram_base(docs: DataFrame) -> DataFrame:
    """(doc_id, hs): per-doc word-3-gram md5-prefix hash arrays WITH
    multiplicity (winnowing selects by position, so repeated grams stay) —
    the shared input of both winnowing forms. The 32-bit hash range
    (md5 8-hex prefix) is what lets the Arrow form pack (doc, fp) into one
    int64 key. `spread()` ahead: the gram/hash build is compute-dense and
    byte-sized parquet splits under-parallelize it.

    `persist()`ed (round 6 — the full shingle_base discipline, closing the
    'compute once at ingest, persist' gap SCALING.md's winnowing row
    named): the cache manager keys on the logical plan, so the HOF twin,
    the Arrow form and any future fingerprint consumer in one session
    share a single materialization of the gram-hash arrays instead of
    re-hashing the corpus per query; MEMORY_AND_DISK spills rather than
    OOMs. At true ingest time the same frame is what a bucketed staging
    write would persist to the object store."""
    gram_hash = lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")  # noqa: E731
    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    return (
        spread(docs)
        .filter(F.size(toks) >= 3)
        .select("doc_id", shingles(F.col("text"), 3).alias("grams"))
        .select("doc_id", F.transform("grams", gram_hash).alias("hs"))
        .persist()
    )


def x1_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word 3-gram, slide a
    window of W=4 consecutive hashes, keep the minimum of each window —
    a position-robust ~1/W-density fingerprint set with the guarantee
    that any shared run of W+2 grams yields a shared fingerprint. The
    selected-set summary (count + sum of distinct fingerprints) pins the
    exact selection against the oracle.

    Execution shape: pure per-row projection — gram hashes materialize as
    a real column FIRST, so the window lambda below references an
    attribute (O(m*W) slices), not a captured expression the interpreted
    HOF would re-evaluate per element (the O(n^2) trap documented in
    functions/text.py::shingles). No shuffle, no UDF; embarrassingly
    parallel at any scale. The gram hash is an md5-prefix integer (NOT
    xxhash64) so DuckDB reproduces the selection bit-for-bit."""
    base = _winnow_gram_base(load_table(spark, sf_dir, "documents"))
    m = F.size("hs")
    nw = F.greatest(m - F.lit(WINNOW_W - 1), F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), nw), lambda i: F.array_min(F.slice("hs", i, WINNOW_W))
    )
    fps = F.array_distinct(wins)
    return base.select(
        "doc_id",
        m.cast("long").alias("n_grams"),
        F.size(fps).cast("long").alias("n_fps"),
        F.aggregate(fps, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "fp_sum"
        ),
    )


def winnowing_stats_arrow(base: DataFrame) -> DataFrame:
    """The same winnowing selection as ``x1_winnowing_fingerprints``,
    batch-vectorized in numpy over Arrow batches — the scale form (the
    interpreted-HOF selection is O(m*W) slices PER ROW in interpreted
    eval, measured 107.9 s @10M docs; see SCALING.md). No per-document
    Python loop anywhere: each Arrow batch flattens every doc's hash
    array into ONE contiguous int64 vector, takes one
    ``sliding_window_view(...).min(axis=1)`` pass, selects the in-doc
    window positions with a repeat/cumsum index construction, handles
    short docs (m <= W -> one whole-array window, exactly the
    ``greatest(m-W+1, 1)`` slice semantics) via ``minimum.reduceat``,
    and dedups per doc by packing (batch-local doc index << 32 | fp)
    into one int64 ``np.unique`` — valid because the fingerprints are
    32-bit md5 prefixes by construction. fp sums ride float64 bincount
    weights: bounded by m * 2^32 << 2^53, so exact.

    Embarrassingly parallel (one pass per Arrow batch, zero shuffle,
    bytes never on the driver) — identical output contract, shared
    DuckDB oracle. The batch function is module-level
    (`winnow_select_batch`) so the vectorization is property-testable
    against a naive Python reference without a Spark session."""

    def _select(batches):
        for pdf in batches:
            out = winnow_select_batch(pdf)
            if out is not None:
                yield out

    return base.mapInPandas(
        _select, "doc_id long, n_grams long, n_fps long, fp_sum long"
    )


def winnow_select_batch(pdf):
    """One Arrow batch of (doc_id, hs) -> (doc_id, n_grams, n_fps,
    fp_sum) via the vectorized numpy selection; None for empty batches.
    See ``winnowing_stats_arrow`` for the algorithm notes."""
    import numpy as np
    import pandas as pd

    w = WINNOW_W
    nd = len(pdf)
    if nd == 0:
        return None
    hs_list = [np.asarray(h, dtype=np.int64) for h in pdf["hs"]]
    lens = np.fromiter((len(h) for h in hs_list), dtype=np.int64,
                       count=nd)
    flat = (np.concatenate(hs_list) if hs_list
            else np.empty(0, dtype=np.int64))
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # full windows: docs with m >= w contribute m - w + 1 of them
    counts = np.maximum(lens - w + 1, 0)
    if flat.size >= w and counts.sum() > 0:
        sw = np.lib.stride_tricks.sliding_window_view(flat, w).min(axis=1)
        offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
        within = np.arange(counts.sum()) - np.repeat(offs, counts)
        idx = np.repeat(starts, counts) + within
        mins = sw[idx]
        docw = np.repeat(np.arange(nd), counts)
    else:
        mins = np.empty(0, dtype=np.int64)
        docw = np.empty(0, dtype=np.int64)
    # short docs (1 <= m < w): single window = min of the whole
    # array (slice(hs, 1, w) truncates) — reduceat over segment
    # starts gives every doc's min; keep the short ones
    short = lens < w  # every doc has m >= 1 (size(toks) >= 3 filter)
    if short.any():
        # reduceat needs EVERY segment boundary (indexing only the
        # short docs' starts would span intervening docs), so take
        # all per-doc minima and keep the short rows
        seg_min = np.minimum.reduceat(flat, starts)
        mins = np.concatenate((mins, seg_min[short]))
        docw = np.concatenate((docw, np.nonzero(short)[0]))
    # the (doc << 32 | fp) packing is only injective for 32-bit
    # fingerprints — md5-prefix hashes by construction; any other
    # hash family must fail loudly, not dedup wrongly
    if mins.size and (mins.min() < 0 or mins.max() >> np.int64(32)):
        raise ValueError(
            "winnowing_stats_arrow requires 32-bit non-negative "
            "fingerprint hashes (md5-prefix); got values outside "
            "[0, 2^32)"
        )
    key = (docw << np.int64(32)) | mins
    uniq = np.unique(key)
    udoc = (uniq >> np.int64(32)).astype(np.int64)
    ufp = (uniq & np.int64(0xFFFFFFFF)).astype(np.int64)
    n_fps = np.bincount(udoc, minlength=nd).astype(np.int64)
    fp_sum = np.bincount(udoc, weights=ufp.astype(np.float64),
                         minlength=nd).astype(np.int64)
    return pd.DataFrame({
        "doc_id": pdf["doc_id"].to_numpy(),
        "n_grams": lens,
        "n_fps": n_fps,
        "fp_sum": fp_sum,
    })


def x1_winnowing_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints, Arrow scale form (round-6 — the scaling
    probe's named fix for the interpreted-HOF cost): same gram base, same
    selected set, same output columns as ``x1_winnowing_fingerprints``,
    which stays registered as the pure-SQL-shaped oracle twin. Shares that
    query's DuckDB oracle verbatim, so the vectorization is proven
    selection-identical on every verify run."""
    return winnowing_stats_arrow(
        _winnow_gram_base(load_table(spark, sf_dir, "documents"))
    )


CDC_DIV = 8  # boundary when token_hash % CDC_DIV == 0 -> ~8-token chunks


def x1_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level exact dedup — the rolling-
    hash dedup primitive (Muthitacharoen et al., SOSP'01 LBFS; FastCDC,
    ATC'16): chunk boundaries are decided by CONTENT (a hash test on the
    data itself), not byte offsets, so an insertion early in a document
    shifts chunk boundaries only locally and every untouched chunk still
    dedups — the property fixed-size blocking lacks. Here the gear is
    word-granular: a chunk boundary closes after any token whose 32-bit
    md5-prefix hash ≡ 0 (mod CDC_DIV), giving ~CDC_DIV-token expected
    chunks; each chunk's text hashes to its content address, and chunks
    appearing more than once across the corpus are reported with their
    occurrence/doc counts — the dedup-storage view of a text corpus
    (shared boilerplate paragraphs surface here even when whole-doc and
    near-dup checks miss them).

    Execution shape, all linear: posexplode tokens; the boundary flag is
    a per-row hash test; chunk ids are a per-doc ROWS-window cumsum (the
    x3_pack_sequences shape — partitioned by doc, never global); chunk
    reassembly is one (doc, chunk) groupBy with an order-pinned
    string_agg; the final chunk_hash groupBy is the standard fingerprint
    shuffle (narrow: hash + counts). At 100 TB every stage partitions by
    doc or by chunk hash — no wide state, no driver loops. The md5-prefix
    gear (NOT xxhash64) keeps the whole pipeline engine-replayable:
    DuckDB reproduces boundaries, chunk texts, and counts exactly."""
    chunks = cdc_chunk_frame(load_table(spark, sf_dir, "documents"))
    return (
        chunks.select(F.md5("chunk_text").alias("chunk_hash"),
                      "doc_id", "n_tokens")
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_occ") > 1)
    )


def cdc_chunk_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, chunk_text, n_tokens) — the content-defined
    chunking of an arbitrary (doc_id, text) frame; factored out of
    ``x1_cdc_chunks`` so the boundary-locality property (an edit shifts
    chunking only up to the next boundary) is unit-testable on crafted
    corpora."""
    from pyspark.sql.window import Window

    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    tok_rows = (
        spread(docs)
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .withColumn(
            "flag",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
                % CDC_DIV == 0
            ).cast("long"),
        )
    )
    w = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        tok_rows
        .withColumn("chunk_id", F.coalesce(F.sum("flag").over(w), F.lit(0)))
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def allpairs_prefix_pairs(spark: SparkSession, sf_dir: str,
                          tau: float = ALLPAIRS_TAU) -> DataFrame:
    """(a, b, jaccard) for every doc pair with 3-gram Jaccard >= tau,
    via the prefix-filtered join — the shared pair generator behind
    x1_allpairs_prefix AND the exact dup-clustering's edge list
    (components.py::x1_dup_clusters_exact), so the 16.6x-measured plan
    exists once."""
    return memo.get(spark, "allpairs", (sf_dir, tau),
                    lambda: _allpairs_impl(spark, sf_dir, tau))


def x1_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs similarity join with PREFIX FILTERING (Bayardo,
    Ma & Srikant, WWW'07 "Scaling Up All Pairs Similarity Search" — the
    AllPairs/PPJoin candidate bound): every pair of documents with 3-gram
    Jaccard >= tau, found WITHOUT joining full posting lists.

    Why it scales where the naive posting join doesn't: order all shingles
    by global document frequency (rarest first, hash tiebreak); a doc with
    |d| distinct shingles needs only its first |d| - ceil(tau*|d|) + 1 in
    the join — any pair with J >= tau must share a PREFIX shingle (J >= tau
    implies |A∩B| >= tau*max(|A|,|B|); if the prefixes were disjoint the
    intersection fits in the suffixes, which are too short). At tau=0.5
    the join volume roughly halves AND the joined shingles are by
    construction the RAREST — exactly the skew-immune end of the df
    distribution; the frequent shingles that blow up df^2 candidate
    counts never enter the join. Candidates are then verified exactly on
    the bounded survivor set via array intersection. Measured
    (tools/scaling_probe.py allpairs_naive vs allpairs_prefix, SCALING.md):
    at 1M docs with df=600 stopword shingles the naive join takes 56.8 s /
    4.1 GB shuffle, the prefix join 3.4 s / 0.44 GB — 16.6x, growing
    super-linearly in df.

    Oracle: the NAIVE full posting join in DuckDB — prefix filtering is
    lossless, so the pair sets must be identical (the strongest possible
    check that the optimization is an optimization, not an approximation).
    """
    return allpairs_prefix_pairs(spark, sf_dir)


# the verified PAIR frame is deterministic per (sf_dir, tau) and consumed by
# SEVEN queries (allpairs_prefix, both dup-cluster closures, triangle count,
# assortativity, k-core, clustering coefficient) — persist + memoize so the
# posting/prefix/verify joins run once per session, not once per consumer
# (x8_assortativity alone re-executed them ~3x: 12.3 s benched before this
# memo). Caching cannot change values (allpairs_prefix_pairs holds the memo).


def _allpairs_impl(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    base = (
        # spread() first: the interpreted-HOF shingling is the compute-dense
        # stage, and a small parquet file arrives as ONE partition. The
        # base carries 8-byte HASH arrays, not shingle strings — the
        # candidate-verify joins are the byte-dominant exchanges and the
        # hash swap cuts them ~6x (same collision budget as the
        # contamination inverted index above).
        spread(docs)
        .select("doc_id", F.array_distinct(shingles(F.col("text"), 3)).alias("sh"))
        .filter(F.size(toks) >= 3)
        .select("doc_id", F.transform("sh", lambda s: F.xxhash64(s)).alias("hs"))
        .withColumn("n", F.size("hs"))
        # read 3x below (posting explode + both verify sides) AND by every
        # consumer of the pair generator in the session (x1_allpairs_prefix
        # + x1_dup_clusters_exact): persist() keys the cache on the logical
        # plan, so the interpreted-HOF shingling runs once per session —
        # the shingle_base discipline (SCALING.md "Shared shingle base")
        .persist()
    )
    posts = base.select("doc_id", "n", F.explode("hs").alias("h"))
    df_tab = posts.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # global rarity order (df, h); rank within doc; prefix length
    # p = n - ceil(tau*n) + 1, in exact integer arithmetic for tau=1/2
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    prefix = (
        posts.join(df_tab, "h")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("n") - F.ceil(F.col("n") * F.lit(tau)) + 1)
        .select("doc_id", "n", "h")
    )
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "h")
        .filter(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            # LENGTH filter (same paper): J >= tau forces
            # tau <= |A|/|B| <= 1/tau, so size-incompatible pairs never
            # reach the distinct or the verify joins
            & (F.col("x.n").cast("double") >= F.col("y.n") * F.lit(tau))
            & (F.col("y.n").cast("double") >= F.col("x.n") * F.lit(tau))
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    verified = (
        cand.join(base.select(F.col("doc_id").alias("a"), F.col("hs").alias("ha")), "a")
        .join(base.select(F.col("doc_id").alias("b"), F.col("hs").alias("hb")), "b")
        .withColumn("c", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("c").cast("double")
                / (F.size("ha") + F.size("hb") - F.col("c")),
                6,
            ),
        )
        .filter(
            F.col("c").cast("double") / (F.size("ha") + F.size("hb") - F.col("c"))
            >= F.lit(tau)
        )
    )
    return verified.select("a", "b", "jaccard").persist()


# ---------------------------------------------------------------------------
# X1c — SimHash
# ---------------------------------------------------------------------------


SIMHASH_EXACT_BITS = 32


def x1_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3), oracled: a signed-bit-vote
    fingerprint + pigeonhole banding + hamming verify built on 32-bit
    md5-PREFIX token hashes — every bit of the fingerprint, every band
    bucket, and every hamming distance is plain integer arithmetic DuckDB
    reproduces. ``x1_simhash_neardup`` is this same function under its
    original contract name.

    Shape: one token explode -> 32 codegen'd conditional sums per doc ->
    fingerprint reassembly -> 4x8-bit chunk banding (pigeonhole: hamming
    <= 3 pairs share a chunk) -> bit_count(xor) verify on collisions only.

    The pair frame is a persisted session memo (r13-opt): it is consumed
    by BOTH x1_simhash_exact and x1_simhash_recall_eval, which re-ran the
    token explode + 32 conditional sums + banding self-join per call."""
    return memo.get(spark, "simhash_exact", (sf_dir,), lambda: simhash_exact_pairs(
        load_table(spark, sf_dir, "documents")).persist())


def simhash_exact_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair of (doc_id, text) rows whose
    32-bit SimHash fingerprints differ in at most 3 bits."""
    toks = spread(docs).select(
        "doc_id",
        F.explode(F.split(F.lower(normalize_ws(F.col("text"))), " ")).alias("tok"),
    )
    hv = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    votes = toks.withColumn("h", hv).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{k}")
            for k in range(SIMHASH_EXACT_BITS)
        ]
    )
    sim = reduce(
        lambda acc, k: acc
        + F.when(F.col(f"b{k}") > 0, F.lit(2**k).cast("long")).otherwise(0),
        range(SIMHASH_EXACT_BITS),
        F.lit(0).cast("long"),
    )
    sigs = votes.select("doc_id", sim.alias("sh32"))
    chunks = sigs.select(
        "doc_id",
        "sh32",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.shiftrightunsigned(F.col("sh32"), 8 * j)
                    .bitwiseAND(F.lit(0xFF))
                    .alias("cv"),
                )
                for j in range(4)
            ])
        ).alias("c"),
    ).select("doc_id", "sh32", F.col("c.j").alias("j"), F.col("c.cv").alias("cv"))
    pairs = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["j", "cv"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.sh32").alias("sa"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("y.sh32").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return pairs.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


def x1_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: candidate pairs inside a blocking key
    (vec_id div 50 — in production an LSH/IVF bucket, see x2_lsh_similar_pairs
    for that variant), verified by exact cosine >= 0.35 on the ROUNDED value
    so both engines threshold bit-identical inputs. The self-join is
    per-block (O(sum block^2), never global n^2) and the block key is the
    shuffle key — at 100 TB blocks come from LSH buckets and the plan is
    unchanged. DuckDB oracle: list_cosine_similarity over DOUBLE[].
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("vec_id") / F.lit(50)).cast("long").alias("block"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    l, r = emb.alias("l"), emb.alias("r")
    return (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            F.round(cosine_similarity(F.col("l.vec"), F.col("r.vec")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.35)
    )


SEMANTIC_TAU = 0.35
# 32 coarse clusters (vs IVF's 16): semantic dedup pays O(sum cluster^2)
# in the pair verify, so a finer quantizer both halves the pair count and
# doubles the pair-join's parallelism (the cluster id is the shuffle key)
SEMANTIC_N_CENTROIDS = 32

def x1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023's shape): assign
    every embedding to its nearest coarse centroid (the IVF quantizer from
    similarity.py — deterministic, so oracle-checkable), then within each
    cluster drop any vector that has a LOWER-id neighbor at cosine >=
    SEMANTIC_TAU. Returns (vec_id, cluster, is_kept) for the whole corpus.

    Scale shape: the pairwise verify is confined to clusters (the shuffle
    key), never global n^2 — at 100 TB the cluster id is a persisted
    partition column and each cluster's self-join runs partition-local.
    Cosines are rounded to 6 dp BEFORE the argmax/threshold so both engines
    compare bit-identical values (ties resolve by centroid id).

    Policy note: "lower id wins" drops every non-minimal member of an
    epsilon-ball in one pass (no transitive chaining) — the same
    keep-one-per-ball rule SemDeDup applies, chosen over greedy-sequential
    precisely because it is order-free and distributable.

    Perf notes (the interpreted-HOF trap, round 4): per-pair cosine is ONE
    unrolled static-dim dot (functions/vectors.py::dot_product_unrolled —
    bit-identical to the HOF fold, but whole-stage-codegen'd) over
    once-per-row precomputed norms; and the centroid assignment is a
    BROADCAST JOIN against the 32-row centroid table with the argmax as a
    struct max aggregate — NOT a 32-struct array expression per row, which
    would be a 2000+-node expression tree that overflows codegen and falls
    back to interpretation (measured: 65s that way, ~1s this way)."""
    import math

    from swiftbulkuploader_spark.functions.vectors import (
        dot_product_unrolled,
        l2_norm_unrolled,
    )
    from swiftbulkuploader_spark.operators.similarity import _ivf_centroids

    # adaptive width (similarity.IVF_TARGET_WIDTH): k stays
    # SEMANTIC_N_CENTROIDS at the contract SFs, grows with the corpus —
    # the r11 scale10 probe measured the fixed-k form at 14.2x at 10x
    # data (quadratic in cluster width); width-held is linear. The
    # oracle replays the same greatest/ceil as a scalar subquery.
    from swiftbulkuploader_spark.operators.similarity import (
        _adaptive_nlist,
        _emb_count,
    )

    k = _adaptive_nlist(_emb_count(spark, sf_dir), SEMANTIC_N_CENTROIDS)
    cents = _ivf_centroids(spark, sf_dir, n=k)
    dim = len(cents[0])

    def build():
        # spread(): the assignment join is compute-dense, and a
        # byte-sized parquet split would run it in ONE task otherwise
        emb = spread(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", F.col("embedding").cast("array<double>").alias("vec")
            )
        )
        # centroid norms precomputed driver-side: same sequential sum +
        # sqrt as l2_norm, so the quotient is bit-identical to
        # cosine_similarity's
        cnorms = [
            math.sqrt(sum(float(v) * float(v) for v in c)) for c in cents
        ]
        cdf = spark.createDataFrame(
            [(i, list(c), cn) for i, (c, cn) in enumerate(zip(cents, cnorms))],
            "cid: int, cv: array<double>, cn: double",
        )
        nrm = l2_norm_unrolled("vec", dim)
        cos = F.round(
            F.coalesce(
                F.when(
                    F.col("nrm") * F.col("cn") > 0,
                    dot_product_unrolled("vec", "cv", dim)
                    / (F.col("nrm") * F.col("cn")),
                ),
                F.lit(-2.0),
            ),
            6,
        )
        return (
            emb.withColumn("nrm", nrm)
            .join(F.broadcast(cdf))  # bounded: SEMANTIC_N_CENTROIDS rows
            .select(
                "vec_id", "vec", "nrm",
                F.struct(
                    cos.alias("cos"), F.col("cid").alias("cid")
                ).alias("sc"),
            )
            .groupBy("vec_id")
            .agg(
                F.first("vec").alias("vec"),
                F.first("nrm").alias("nrm"),
                F.max("sc")["cid"].alias("cluster"),
            )
            # consumed three times (both sides of the within-cluster
            # self-join + the final keep/drop join): persist, or the
            # broadcast-assignment pipeline executes three times per
            # materialization. Same materialize-the-assignment step
            # SemDeDup performs at scale; MEMORY_AND_DISK so it spills
            # rather than OOMs. A session memo, so repeated calls reuse
            # ONE persisted frame instead of stacking a storage-pool copy
            # per bench rep (r12 ADVICE #3 class).
            .persist()
        )

    clustered = memo.get(spark, "semantic_clustered", (sf_dir,), build)
    l, r = clustered.alias("l"), clustered.alias("r")
    pair_cos = F.when(
        F.col("l.nrm") * F.col("r.nrm") > 0,
        dot_product_unrolled("l.vec", "r.vec", dim)
        / (F.col("l.nrm") * F.col("r.nrm")),
    )
    dropped = (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("r.vec_id").alias("vec_id"),
            F.round(pair_cos, 6).alias("cs"),
        )
        .filter(F.col("cs") >= SEMANTIC_TAU)
        .select("vec_id")
        .distinct()
    )
    return (
        clustered.join(
            dropped.withColumn("is_kept", F.lit(False)), "vec_id", "left"
        )
        .select(
            "vec_id", "cluster",
            F.coalesce("is_kept", F.lit(True)).alias("is_kept"),
        )
    )


# r13-opt session-4: the gram-POSITION substrate of the whole literal
# span family. Four query paths build the identical compute-dense 8-gram
# zip_with shingling per bench pass: x1_dup_span_removal references its
# posting twice in-plan (duplicated-gram aggregation + join probe side),
# x1_longest_shared_span self-joins it (two more executions), and
# _gram8_per_doc's (gram, doc) aggregate is the same explode without the
# position. One persisted (doc_id, p0, gram) frame, a session memo,
# serves every reference; downstream join strategies are untouched (the rule-12 merge
# pins stay — the probe-measured OOM risk concerned join BUILD sides,
# and the cache itself is spillable MEMORY_AND_DISK bounded by the
# corpus gram count, the same class as the containment-pairs gg cache).


def _gram_pos8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, p0, gram): 0-based start positions of literal lowercased
    word-8-grams, for documents with >= 8 tokens — one shingling pass per
    session, persisted, shared by the span-signal family (see the note
    above)."""
    return memo.get(spark, "gram_pos8", (sf_dir,),
                    lambda: _gram_pos8_frame(spark, sf_dir))


def _gram_pos8_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    return (
        # spread(): the interpreted-HOF shingling is compute-dense and a
        # small parquet file arrives as one partition
        spread(docs)
        .filter(F.size(toks) >= 8)
        .select(
            "doc_id",
            F.posexplode(shingles(F.col("text"), 8)).alias("p0", "gram"),
        )
        .persist()
    )


def _gram8_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(gram, doc_id, occ): literal word-8-gram occurrence counts per
    document — the shared substrate of the literal span-signal family,
    persist()ed (r13-opt, the shingle_base discipline). x1_repeated_passages
    and x1_novelty_score build the IDENTICAL (gram, doc) pre-aggregation
    (linear zip_with shingling, one partially-aggregated shuffle keyed on
    the gram); before this helper each ran its own shingle+explode+agg
    pass per call — and novelty's first-doc join re-executed it up to 4x
    inside one plan (4 parquet scans in the r13-opt before-plan). The
    cache manager keys on the logical plan, so both queries (and all bench
    reps) read one InMemoryRelation. Session-4: derives from the shared
    _gram_pos8 positions cache (same gram multiset — posexplode of the
    same shingle array — so the aggregate is row-identical), dropping this
    substrate's own shingling pass."""
    # two-level aggregation instead of count(distinct): a mixed
    # countDistinct+count agg would Expand every row 2x before the shuffle;
    # pre-aggregating per (gram, doc) first shuffles each distinct
    # (gram, doc) once and the second level is count/sum/min only
    return _gram_pos8(spark, sf_dir).groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    ).persist()


def x1_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-passage detection: word 8-grams appearing in >= 2
    distinct documents — the shingle-level signal behind exact-substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"), which removes verbatim passages that survive
    document-level dedup because the surrounding text differs.

    Shape: one explode of per-doc 8-gram arrays (linear zip_with
    construction, functions/text.py::shingles — NOT the O(n^2) slice-in-
    transform trap), then one partially-aggregated shuffle keyed on the gram.
    At 100 TB the gram key space is huge but the HAVING >= 2 filter is
    applied post-partial-agg, and skew is bounded because templated
    boilerplate grams (the skewed keys) are exactly the rows the query
    exists to find. Grams are literal lowercased text, so DuckDB reproduces
    them byte-for-byte — unlike hashed-shingle MinHash, this stays fully
    oracle-checkable.

    Scale alternative: ``x1_repeated_passages_hashed`` below — the same
    aggregation shuffling 8-byte xxhash64 keys instead of ~50-byte gram
    strings, verified against THIS form's results via key-invariant stats.
    """
    per_doc = _gram8_per_doc(spark, sf_dir)  # shared persisted substrate (r13-opt)
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def x1_repeated_passages_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``x1_repeated_passages``: identical detection
    semantics, but the wide shuffle is keyed on ``xxhash64(gram)`` — 8 bytes
    per row instead of the ~50-byte literal 8-gram string. At corpus scale
    the gram shuffle dominates the query's cost, so the key-width swap cuts
    shuffle bytes ~4x on the dominant exchange (measured: tools/
    scaling_probe.py ``repeated_passages_key`` shape, SCALING.md row).
    Collision odds are ~n_grams^2 / 2^64 — far below the row error budget
    (the same argument as the contamination inverted index above).

    Verification: DuckDB has no xxhash64, so instead of emitting raw hash
    keys the query returns KEY-INVARIANT aggregate stats — the duplication-
    level histogram (one row per n_docs level with the number of repeated
    gram groups, total occurrences, and the sum of per-group first-doc ids).
    The literal-gram oracle computes the same histogram from gram strings;
    any hash collision, lost group, or miscount would shift a bucket and
    hash-mismatch. The histogram group-by runs over the already-aggregated
    repeated-gram set (tiny), so the added stage is free."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    grams = (
        spread(docs)
        .select("doc_id", shingles(F.col("text"), 8).alias("grams"))
        .filter(F.size(toks) >= 8)
        # hash BEFORE the explode/shuffle: the string never leaves the scan
        # stage; every downstream exchange carries the 8-byte key
        .select(
            "doc_id",
            F.explode(F.transform("grams", lambda g: F.xxhash64(g))).alias("gh"),
        )
    )
    per_doc = grams.groupBy("gh", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    repeated = (
        per_doc.groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return repeated.groupBy("n_docs").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("n_occurrences").alias("n_occurrences"),
        F.sum("first_doc_id").alias("sum_first_doc"),
    )


def x1_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical duplicate-SPAN removal (Lee et al. 2022 §4 "ExactSubstr"):
    where ``x1_repeated_passages`` only DETECTS corpus-duplicated 8-grams,
    this operator REWRITES the corpus — every occurrence of a duplicated
    8-gram except the globally-first one is excised and each document is
    reassembled from its surviving words, keeping exactly one copy of every
    duplicated passage corpus-wide (overlapping duplicated grams merge into
    one excised span via the position-level DISTINCT).

    Reference parity: the reference engine has no corpus ops; this extends
    the X1 dedup tier per the training-pipeline brief. Provenance: Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models Better")
    remove repeated substrings, keeping one occurrence; we use word 8-grams
    as the span unit (their suffix-array unit is bytes) so the whole pass
    stays a linear explode + two hash shuffles instead of a suffix array.

    "Globally first" = the occurrence minimizing doc_id * 1e6 + start — an
    integer encoding of lexicographic (doc_id, start) that both engines
    compare identically (valid while docs stay < 1e6 words; a 100 TB corpus
    with 64-bit doc ids stays within int64 up to ~9e12 docs).

    Shape & scale: one posexplode of per-doc 8-gram arrays (linear zip_with
    shingling), ONE map-side-combined groupBy on the gram to find
    duplicated grams + their keeper occurrence, one shuffle hash join back
    (the duplicated-gram set is corpus-sized in the worst case, so no
    broadcast), a position-level DISTINCT confined to excised spans, and a
    left-anti join + per-doc reassembly shuffle keyed on doc_id. Nothing is
    quadratic; skewed grams (boilerplate) are exactly the rows being
    removed.

    The dup-detection shuffles are keyed on ``xxhash64(gram)`` — 8 bytes
    per row instead of the ~50-byte literal string, the
    ``x1_repeated_passages_hashed`` optimization — yet the query stays
    FULLY value-hash oracled (unlike that query's histogram compromise):
    the output contains no gram keys, only rewritten documents, and
    rewrites depend on key EQUALITY alone, so the literal-gram DuckDB
    oracle verifies the hashed plan byte-for-byte. Collision odds
    ~n_grams^2 / 2^64 (a colliding pair would excise one spurious span)
    sit far below the row error budget at any realistic corpus size —
    the same accepted-residual argument as the contamination inverted
    index.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks_col = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    # spread(): the shingling explode is compute-dense and the parquet file
    # would otherwise arrive as a single partition. persist(): `base` feeds
    # TWO plan branches below (the word lattice and the final n_tokens
    # select) — without it each branch re-scans and re-splits the corpus
    # (the entry-11 in-query-persist class; the plan-keyed CacheManager
    # dedups the deterministic parquet-rooted frame across calls).
    base = spread(docs).select("doc_id", toks_col.alias("toks")).persist()

    # gram occurrences with their 1-based start position (posexplode is
    # 0-based; +1 aligns with the oracle's 1-based list indexing).
    # Session-4: rides the shared _gram_pos8 substrate — the shingling
    # subtree previously executed TWICE in this plan (the duplicated-gram
    # aggregation below and the join probe side read `occ` as separate
    # branches); both references now project off one cached frame. The
    # substrate's shingles(text, 8) builds byte-identical grams to the
    # token-array form this query previously unrolled inline (same
    # lowercased split, same zip_with fold), so `occ` is row-identical.
    occ = _gram_pos8(spark, sf_dir).select(
        "doc_id",
        (F.col("p0") + 1).alias("start"),
        # hash AFTER the cached read: the literal gram never leaves this
        # projection; every downstream exchange still carries 8-byte keys
        F.xxhash64("gram").alias("gh"),
        (F.col("doc_id") * 1_000_000 + F.col("p0") + 1).alias("occ_key"),
    )
    # duplicated grams (>= 2 occurrences corpus-wide, within-doc repeats
    # included) and the single occurrence each one keeps
    dup = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("occ_key").alias("keep_key"))
        .filter(F.col("n_occ") >= 2)
        .select("gh", "keep_key")
    )
    # word positions covered by a non-keeper occurrence of a duplicated gram.
    # merge hint: the duplicated-gram set is CORPUS-SIZED in a
    # boilerplate-heavy regime; Catalyst's post-filter size estimate can
    # pick a broadcast that OOMs the driver there, and shuffle_hash OOMs
    # the per-task hash-map build (both reproduced by the span_removal
    # scaling probe at its 10M/load-1.6 point) — sort-merge spills and is
    # safe at any duplication rate, costing one extra sort at small scale
    covered = (
        occ.join(dup.hint("merge"), "gh")
        .filter(F.col("occ_key") != F.col("keep_key"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(7))).alias("pos"),
        )
        .distinct()
    )
    words = base.select(
        "doc_id", F.posexplode("toks").alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "w")
    # same reasoning: the covered-position set scales with the excised
    # volume — never broadcast it
    kept = words.join(covered.hint("merge"), ["doc_id", "pos"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("retained_text"),
    )
    # every document appears in the output, including fully-excised ones
    return (
        base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
            F.coalesce(F.col("retained_text"), F.lit("")).alias("retained_text"),
        )
    )


QUERIES = {
    "x1_dup_span_removal": x1_dup_span_removal,
    "x1_semantic_dedup": x1_semantic_dedup,
    "x1_repeated_passages": x1_repeated_passages,
    "x1_repeated_passages_hashed": x1_repeated_passages_hashed,
    "x1_exact_dedup": x1_exact_dedup,
    "x1_contamination": x1_contamination,
    "x1_contamination_indexed": x1_contamination_indexed,
    "x1_normalized_dedup": x1_normalized_dedup,
    "x1_embedding_neardup": x1_embedding_neardup,
    "x1_dedup_stats": x1_dedup_stats,
    "x1_dedup_keep_best": x1_dedup_keep_best,
    "x1_prefix_dup_groups": x1_prefix_dup_groups,
    "x1_minhash_neardup": x1_minhash_exact,
    "x1_ngram_jaccard": x1_ngram_jaccard,
    "x1_cdc_chunks": x1_cdc_chunks,
    "x1_allpairs_prefix": x1_allpairs_prefix,
    "x1_winnowing_fingerprints": x1_winnowing_fingerprints,
    "x1_winnowing_arrow": x1_winnowing_arrow,
    "x1_contamination_bloom": x1_contamination_bloom,
    "x1_source_overlap": x1_source_overlap,
    "x1_simhash_neardup": x1_simhash_exact,
    "x1_simhash_exact": x1_simhash_exact,
    "x1_minhash_exact": x1_minhash_exact,
}

_FP_DUCK = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"

# 32-bit SimHash: md5-prefix token hashes, the same signed votes /
# fingerprint reassembly / 4x8-bit banding / hamming verify as the Spark
# plan — all plain integer arithmetic
SIMHASH_ORACLE_SQL = """
        WITH tk AS (
            SELECT doc_id,
                   unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
            FROM documents
        ), h AS (
            SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hv
            FROM tk
        ), v AS (
            SELECT doc_id,
                   sum(CASE WHEN (hv >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0,
                   sum(CASE WHEN (hv >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1,
                   sum(CASE WHEN (hv >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2,
                   sum(CASE WHEN (hv >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3,
                   sum(CASE WHEN (hv >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4,
                   sum(CASE WHEN (hv >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5,
                   sum(CASE WHEN (hv >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6,
                   sum(CASE WHEN (hv >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7,
                   sum(CASE WHEN (hv >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8,
                   sum(CASE WHEN (hv >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9,
                   sum(CASE WHEN (hv >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10,
                   sum(CASE WHEN (hv >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11,
                   sum(CASE WHEN (hv >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12,
                   sum(CASE WHEN (hv >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13,
                   sum(CASE WHEN (hv >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14,
                   sum(CASE WHEN (hv >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15,
                   sum(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b16,
                   sum(CASE WHEN (hv >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b17,
                   sum(CASE WHEN (hv >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b18,
                   sum(CASE WHEN (hv >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b19,
                   sum(CASE WHEN (hv >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b20,
                   sum(CASE WHEN (hv >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b21,
                   sum(CASE WHEN (hv >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b22,
                   sum(CASE WHEN (hv >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b23,
                   sum(CASE WHEN (hv >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b24,
                   sum(CASE WHEN (hv >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b25,
                   sum(CASE WHEN (hv >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b26,
                   sum(CASE WHEN (hv >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b27,
                   sum(CASE WHEN (hv >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b28,
                   sum(CASE WHEN (hv >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b29,
                   sum(CASE WHEN (hv >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b30,
                   sum(CASE WHEN (hv >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b31
            FROM h GROUP BY doc_id
        ), s AS (
            SELECT doc_id, CASE WHEN b0 > 0 THEN CAST(1 AS BIGINT) ELSE 0 END + CASE WHEN b1 > 0 THEN CAST(2 AS BIGINT) ELSE 0 END + CASE WHEN b2 > 0 THEN CAST(4 AS BIGINT) ELSE 0 END + CASE WHEN b3 > 0 THEN CAST(8 AS BIGINT) ELSE 0 END + CASE WHEN b4 > 0 THEN CAST(16 AS BIGINT) ELSE 0 END + CASE WHEN b5 > 0 THEN CAST(32 AS BIGINT) ELSE 0 END + CASE WHEN b6 > 0 THEN CAST(64 AS BIGINT) ELSE 0 END + CASE WHEN b7 > 0 THEN CAST(128 AS BIGINT) ELSE 0 END + CASE WHEN b8 > 0 THEN CAST(256 AS BIGINT) ELSE 0 END + CASE WHEN b9 > 0 THEN CAST(512 AS BIGINT) ELSE 0 END + CASE WHEN b10 > 0 THEN CAST(1024 AS BIGINT) ELSE 0 END + CASE WHEN b11 > 0 THEN CAST(2048 AS BIGINT) ELSE 0 END + CASE WHEN b12 > 0 THEN CAST(4096 AS BIGINT) ELSE 0 END + CASE WHEN b13 > 0 THEN CAST(8192 AS BIGINT) ELSE 0 END + CASE WHEN b14 > 0 THEN CAST(16384 AS BIGINT) ELSE 0 END + CASE WHEN b15 > 0 THEN CAST(32768 AS BIGINT) ELSE 0 END + CASE WHEN b16 > 0 THEN CAST(65536 AS BIGINT) ELSE 0 END + CASE WHEN b17 > 0 THEN CAST(131072 AS BIGINT) ELSE 0 END + CASE WHEN b18 > 0 THEN CAST(262144 AS BIGINT) ELSE 0 END + CASE WHEN b19 > 0 THEN CAST(524288 AS BIGINT) ELSE 0 END + CASE WHEN b20 > 0 THEN CAST(1048576 AS BIGINT) ELSE 0 END + CASE WHEN b21 > 0 THEN CAST(2097152 AS BIGINT) ELSE 0 END + CASE WHEN b22 > 0 THEN CAST(4194304 AS BIGINT) ELSE 0 END + CASE WHEN b23 > 0 THEN CAST(8388608 AS BIGINT) ELSE 0 END + CASE WHEN b24 > 0 THEN CAST(16777216 AS BIGINT) ELSE 0 END + CASE WHEN b25 > 0 THEN CAST(33554432 AS BIGINT) ELSE 0 END + CASE WHEN b26 > 0 THEN CAST(67108864 AS BIGINT) ELSE 0 END + CASE WHEN b27 > 0 THEN CAST(134217728 AS BIGINT) ELSE 0 END + CASE WHEN b28 > 0 THEN CAST(268435456 AS BIGINT) ELSE 0 END + CASE WHEN b29 > 0 THEN CAST(536870912 AS BIGINT) ELSE 0 END + CASE WHEN b30 > 0 THEN CAST(1073741824 AS BIGINT) ELSE 0 END + CASE WHEN b31 > 0 THEN CAST(2147483648 AS BIGINT) ELSE 0 END AS sh32
            FROM v
        ), c AS (
            SELECT doc_id, sh32, j, (sh32 >> (8 * j)) & 255 AS cv
            FROM s, unnest([0, 1, 2, 3]) AS u(j)
        ), p AS (
            SELECT DISTINCT x.doc_id AS doc_a, x.sh32 AS sa,
                            y.doc_id AS doc_b, y.sh32 AS sb
            FROM c x JOIN c y ON x.j = y.j AND x.cv = y.cv
                             AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM p
        WHERE bit_count(xor(sa, sb)) <= 3
    """

ORACLES = {
    "x1_simhash_exact": SIMHASH_ORACLE_SQL,
    "x1_simhash_neardup": SIMHASH_ORACLE_SQL,
    # same 8-gram lattice as x1_repeated_passages; keeper occurrence picked
    # by the identical doc_id*1e6+start integer encoding; NOT EXISTS is the
    # anti-join; string_agg ORDER BY pos is the per-doc reassembly
    "x1_dup_span_removal": """
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, i AS start,
                   array_to_string(toks[i:i+7], ' ') AS gram,
                   doc_id * 1000000 + i AS occ_key
            FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
            WHERE len(toks) >= 8
        ), dup AS (
            SELECT gram, min(occ_key) AS keep_key
            FROM g GROUP BY gram HAVING count(*) >= 2
        ), cov AS (
            SELECT DISTINCT g.doc_id, g.start + d.j AS pos
            FROM g JOIN dup USING (gram), unnest(range(0, 8)) AS d(j)
            WHERE g.occ_key <> dup.keep_key
        ), w AS (
            SELECT doc_id, p.i AS pos, toks[p.i] AS w
            FROM t, unnest(range(1, len(toks) + 1)) AS p(i)
        ), kept AS (
            SELECT w.* FROM w
            WHERE NOT EXISTS (
                SELECT 1 FROM cov
                WHERE cov.doc_id = w.doc_id AND cov.pos = w.pos)
        ), agg AS (
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(w, ' ' ORDER BY pos) AS retained_text
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
               coalesce(agg.retained_text, '') AS retained_text
        FROM t LEFT JOIN agg USING (doc_id)
    """,
    # lateral-unnest k-gram construction mirrors functions/text.py::shingles
    # for docs of >= 8 tokens (shorter docs are filtered on both sides, so
    # the whole-text-as-single-shingle edge never fires)
    "x1_repeated_passages": """
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
            FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
            WHERE len(toks) >= 8
        )
        SELECT gram,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               min(doc_id) AS first_doc_id
        FROM g
        GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 2
    """,
    # same md5-prefix gram hashes; the sliding min is a ROWS window frame
    # truncating at the partition end exactly like Spark's slice() at the
    # array end; count/sum of DISTINCT selected values pin the selection
    "x1_winnowing_fingerprints": """
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, i, array_to_string(toks[i:i+2], ' ') AS gram
            FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 3
        ), h AS (
            SELECT doc_id, i,
                   CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS hv
            FROM g
        ), win AS (
            SELECT doc_id, i,
                   min(hv) OVER (PARTITION BY doc_id ORDER BY i
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                   count(*) OVER (PARTITION BY doc_id) AS m
            FROM h
        ), sel AS (
            SELECT doc_id, m, wmin FROM win WHERE i <= greatest(m - 3, 1)
        )
        SELECT doc_id,
               CAST(max(m) AS BIGINT) AS n_grams,
               CAST(count(DISTINCT wmin) AS BIGINT) AS n_fps,
               CAST(sum(DISTINCT wmin) AS BIGINT) AS fp_sum
        FROM sel
        GROUP BY doc_id
    """,
    # the NAIVE full posting join: prefix filtering is lossless, so the
    # Spark plan (which joins only rarest-prefix postings) must reproduce
    # these pairs and Jaccard values exactly
    "x1_allpairs_prefix": """
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ), g AS (
            SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
            FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 3
        ), sz AS (
            SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
        ), pr AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
            FROM g x JOIN g y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT a, b,
               round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= CAST(0.5 AS DOUBLE)
    """,
    # oracle twin computed over LITERAL grams: the duplication-level
    # histogram is invariant to the key representation, so it verifies the
    # xxhash64-keyed Spark plan without DuckDB needing the hash function
    "x1_repeated_passages_hashed": """
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
            FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
            WHERE len(toks) >= 8
        ), per AS (
            SELECT gram,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occ,
                   min(doc_id) AS fd
            FROM g
            GROUP BY gram
            HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT CAST(n_docs AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(n_occ) AS BIGINT) AS n_occurrences,
               CAST(sum(fd) AS BIGINT) AS sum_first_doc
        FROM per
        GROUP BY n_docs
    """,
    # same quantizer (first-32-by-id centroids), same rounded-cos argmax
    # (ties to higher cid), same lower-id-wins ball pruning — engine-exact
    # because every compared value is rounded to 6 dp first
    "x1_semantic_dedup": """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM e WHERE vec_id < (SELECT greatest(32,
                CAST(ceil(count(*) / 128.0) AS BIGINT)) FROM e)
        ), a AS (
            SELECT e.vec_id, e.v, c.cid,
                   round(coalesce(list_cosine_similarity(e.v, c.cv), -2.0), 6) AS cos
            FROM e CROSS JOIN c
        ), asn AS (
            SELECT vec_id, v, cid AS cluster FROM a
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, cid DESC) = 1
        ), dropped AS (
            SELECT DISTINCT r.vec_id
            FROM asn l JOIN asn r ON l.cluster = r.cluster AND l.vec_id < r.vec_id
            WHERE round(list_cosine_similarity(l.v, r.v), 6) >= 0.35
        )
        SELECT asn.vec_id, CAST(asn.cluster AS INT) AS cluster,
               (d.vec_id IS NULL) AS is_kept
        FROM asn LEFT JOIN dropped d ON asn.vec_id = d.vec_id
    """,
    # DuckDB mirror of functions/text.py::shingles (k=5, lowercased,
    # whole-text shingle for short docs) + list_intersect containment
    "x1_contamination": """
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(t) - 4, 1)),
                       i -> array_to_string(t[i:least(i + 4, len(t))], ' ')
                   )) AS s
            FROM (
                SELECT doc_id,
                       string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
                FROM documents
            )
        ), probes AS (
            SELECT doc_id AS probe_id, s AS p_sh, len(s) AS p_n
            FROM sh WHERE doc_id < 8
        ), pairs AS (
            SELECT probe_id, doc_id,
                   CAST(len(list_intersect(c.s, p.p_sh)) AS DOUBLE) / p.p_n AS cont
            FROM sh c CROSS JOIN probes p
            WHERE c.doc_id >= 8
        )
        SELECT probe_id,
               CAST(sum(CASE WHEN cont >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               round(max(cont), 6) AS max_containment
        FROM pairs GROUP BY probe_id
    """,
    # identical semantics to x1_contamination, inverted-index plan — the
    # oracle is shared verbatim (Python appends it below after the dict
    # literal so the text stays single-sourced)
    "x1_exact_dedup": f"""
        SELECT {_FP_DUCK} AS fp, min(doc_id) AS keeper_id, count(*) AS copies
        FROM documents GROUP BY 1
    """,
    "x1_normalized_dedup": r"""
        SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS canon_fp,
               min(doc_id) AS keeper_id,
               count(*) AS copies,
               count(DISTINCT md5(text)) AS raw_variants
        FROM documents GROUP BY 1
    """,
    "x1_dedup_stats": f"""
        SELECT count(*) AS n_docs,
               count(DISTINCT text) AS n_unique_text,
               count(DISTINCT {_FP_DUCK}) AS n_unique_fp
        FROM documents
    """,
    "x1_dedup_keep_best": """
        SELECT prefix, keeper_id, keeper_chars, bucket_size FROM (
            SELECT substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40) AS prefix,
                   doc_id AS keeper_id,
                   max(n_chars) OVER (PARTITION BY substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40)) AS keeper_chars,
                   count(*) OVER (PARTITION BY substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40)) AS bucket_size,
                   row_number() OVER (
                       PARTITION BY substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40)
                       ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM documents
        ) WHERE rn = 1
    """,
    "x1_prefix_dup_groups": """
        SELECT substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40) AS prefix,
               count(*) AS copies, min(doc_id) AS keeper_id
        FROM documents GROUP BY 1 HAVING count(*) > 1
    """,
    "x1_embedding_neardup": """
        WITH e AS (
            SELECT vec_id, vec_id // 50 AS block,
                   CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim
        FROM e a JOIN e b ON a.block = b.block AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.vec, b.vec), 6) >= 0.35
    """,
}

# the indexed variant answers the same question — one oracle text, two plans
ORACLES["x1_contamination_indexed"] = ORACLES["x1_contamination"]


def _mh_sig_cols_sql() -> str:
    """The 32 xor-multiply remix min-aggregates, constants inlined from
    the same Python generator the Spark plan uses."""
    return ",\n                   ".join(
        f"min((xor(hv, {b}) * {a}) % {_MH_MOD}) AS s{i}"
        for i, (a, b) in enumerate(_mh_exact_consts())
    )


def _mh_band_rows_sql() -> str:
    """The 8x4 banding as an 8-way UNION ALL over the sigs CTE."""
    return "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {bj} AS bj, s{bj * 4} AS c0, s{bj * 4 + 1} AS c1, "
        f"s{bj * 4 + 2} AS c2, s{bj * 4 + 3} AS c3 FROM sigs"
        for bj in range(8)
    )


def _minhash_exact_oracle_sql(src: str = "documents",
                              min_jaccard: float | None = 0.5) -> str:
    """GENERATED MinHash-twin oracle: the same remix constants (inlined as
    literals from the same Python generator), min aggregation, band
    4-tuple join, and hash-array Jaccard verify — integer arithmetic only,
    nothing engine-specific anywhere. ``src`` parameterizes the corpus
    relation so composed pipelines can run the same SQL over a filtered
    CTE (x10_dedup_funnel); ``min_jaccard=None`` drops the threshold for
    the unthresholded x1_ngram_jaccard histogram form (round 7)."""
    sig_cols = _mh_sig_cols_sql()
    band_rows = _mh_band_rows_sql()
    threshold = (
        "" if min_jaccard is None else
        f"WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) "
        f">= CAST({min_jaccard} AS DOUBLE)"
    )
    return f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM {src}
        ), g AS (
            SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
            FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 3
        ), h AS (
            -- DISTINCT on the 32-bit HASH (not just the shingle): a
            -- within-doc hash collision must collapse to one row so the
            -- c / n counts below use set semantics, matching Spark's
            -- array_distinct(hs) + array_intersect
            SELECT DISTINCT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hv
            FROM g
        ), sigs AS (
            SELECT doc_id,
                   {sig_cols}
            FROM h GROUP BY doc_id
        ), bands AS (
            {band_rows}
        ), cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y
              ON x.bj = y.bj AND x.c0 = y.c0 AND x.c1 = y.c1
             AND x.c2 = y.c2 AND x.c3 = y.c3 AND x.doc_id < y.doc_id
        ), sz AS (
            SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id
        ), pr AS (
            SELECT cand.a, cand.b, count(*) AS c
            FROM cand
            JOIN h hx ON cand.a = hx.doc_id
            JOIN h hy ON cand.b = hy.doc_id AND hx.hv = hy.hv
            GROUP BY cand.a, cand.b
        )
        SELECT a AS doc_a, b AS doc_b,
               round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
        {threshold}
    """


ORACLES["x1_minhash_exact"] = _minhash_exact_oracle_sql()
ORACLES["x1_minhash_neardup"] = ORACLES["x1_minhash_exact"]
ORACLES["x1_ngram_jaccard"] = _minhash_exact_oracle_sql(min_jaccard=None)

# content-defined chunking: same boundary gear (32-bit md5-prefix mod
# CDC_DIV), same windowed chunk-id cumsum, same order-pinned reassembly
ORACLES["x1_cdc_chunks"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
        WHERE length(trim(text)) > 0
    ), tok AS (
        SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
               CASE WHEN CAST(('0x' || substr(md5(toks[i]), 1, 8)) AS BIGINT)
                         % {CDC_DIV} = 0 THEN 1 ELSE 0 END AS flag
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
    ), cid AS (
        SELECT doc_id, pos, tok,
               coalesce(sum(flag) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS chunk_id
        FROM tok
    ), chunks AS (
        SELECT doc_id, chunk_id,
               string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
               count(*) AS n_tokens
        FROM cid GROUP BY doc_id, chunk_id
    )
    SELECT md5(chunk_text) AS chunk_hash,
           count(*) AS n_occ,
           count(DISTINCT doc_id) AS n_docs,
           min(n_tokens) AS n_tokens
    FROM chunks
    GROUP BY md5(chunk_text)
    HAVING count(*) > 1
"""

# the Arrow winnowing form shares the HOF twin's oracle VERBATIM — one
# selection contract, two execution strategies, both engine-verified
ORACLES["x1_winnowing_arrow"] = ORACLES["x1_winnowing_fingerprints"]


def _contamination_bloom_oracle_sql(src: str = "documents") -> str:
    """GENERATED Bloom-screen oracle: the same md5-prefix shingle hashes,
    the same three xor-multiply position functions into one shared m-bit
    space, the same >= BLOOM_FLAG_MIN flag — false positives replay
    exactly, so per-doc exact/bloom hit counts hash-match."""
    pos_union = "\n            UNION\n            ".join(
        f"SELECT DISTINCT ((xor(hv, {b}) * {a}) % {_MH_MOD}) % {BLOOM_M} AS p FROM ph"
        for a, b in BLOOM_CONSTS
    )
    in_pos = " AND ".join(
        f"((xor(hv, {b}) * {a}) % {_MH_MOD}) % {BLOOM_M} IN (SELECT p FROM pos)"
        for a, b in BLOOM_CONSTS
    )
    return f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM {src}
        ), g AS (
            SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
            FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 3
        ), h AS (
            SELECT DISTINCT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hv
            FROM g
        ), ph AS (
            SELECT DISTINCT hv FROM h WHERE doc_id < 8
        ), pos AS (
            {pos_union}
        ), corpus AS (
            SELECT doc_id, hv FROM h WHERE doc_id >= 8
        ), bloom_hits AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
            FROM corpus
            WHERE {in_pos}
            GROUP BY doc_id
        ), exact_hits AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact_hits
            FROM corpus
            WHERE hv IN (SELECT hv FROM ph)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(e.n_exact_hits, 0) AS n_exact_hits,
               coalesce(b.n_bloom_hits, 0) AS n_bloom_hits,
               coalesce(b.n_bloom_hits, 0) >= {BLOOM_FLAG_MIN} AS flagged
        FROM (SELECT DISTINCT doc_id FROM corpus) d
        LEFT JOIN exact_hits e USING (doc_id)
        LEFT JOIN bloom_hits b USING (doc_id)
    """


ORACLES["x1_contamination_bloom"] = _contamination_bloom_oracle_sql()

ORACLES["x1_source_overlap"] = """
    WITH t AS (
        SELECT source,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT DISTINCT source, array_to_string(toks[i:i+2], ' ') AS s
        FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 3
    ), h AS (
        SELECT DISTINCT source,
               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hv
        FROM g
    ), sz AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY source
    ), common AS (
        SELECT x.source AS source_a, y.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM h x JOIN h y ON x.hv = y.hv AND x.source < y.source
        GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b, a.n AS n_a, b.n AS n_b,
           coalesce(c.n_common, 0) AS n_common,
           round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
                 / (a.n + b.n - coalesce(c.n_common, 0)), 6) AS jaccard,
           round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
                 / least(a.n, b.n), 6) AS containment
    FROM sz a
    JOIN sz b ON a.source < b.source
    LEFT JOIN common c ON c.source_a = a.source AND c.source_b = b.source
"""


def x1_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's 8-gram
    occurrences whose gram is FIRST introduced by that doc (first = the
    corpus's min doc_id — the ingestion-order proxy every snapshot-ordered
    crawl pipeline has). The running-freshness diagnostic of RefinedWeb/
    FineWeb-style curation: a crawl slice whose novel_frac collapses is
    re-crawling what the corpus already holds, and per-doc novelty ~0
    flags boilerplate mirrors that document-level dedup missed (the same
    signal family as x1_repeated_passages, aggregated to the doc instead
    of the gram).

    Shape: the x1_repeated_passages skeleton — linear zip_with shingling
    (functions/text.py::shingles), one (gram, doc) pre-aggregated shuffle
    (two-level, no countDistinct Expand) — then min(doc_id) per gram and
    a gram-keyed join back: both sides of that join are outputs of the
    SAME (gram, doc) exchange, so the sort/partitioning is reused, and
    the build side is the corpus-sized first-doc table at ANY scale (no
    data-dependent flip — Catalyst sees corpus-sized stats and picks
    sort-merge; nothing to pin, unlike the span-removal excision joins
    whose build side only LOOKED small). Final per-doc combine is a
    narrow doc_id-keyed aggregate. novel_frac = novel/total is a single
    IEEE division of two exact longs — bit-identical on both engines,
    shipped unrounded. Docs with < 8 tokens have no grams and are
    excluded (they carry no novelty evidence either way).

    Reference parity: no corpus statistics in the reference
    (bulkupload.py is a counter-only uploader); §2.9 north-star extension
    alongside Lee et al. 2022's repeated-passage analysis."""
    per_doc = _gram8_per_doc(spark, sf_dir)  # shared persisted substrate (r13-opt)
    first = per_doc.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        per_doc.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), F.col("occ"))
                .otherwise(F.lit(0))
            ).cast("long").alias("novel_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "novel_grams",
            (F.col("novel_grams").cast("double") / F.col("n_grams"))
            .alias("novel_frac"),
        )
    )


QUERIES["x1_novelty_score"] = x1_novelty_score

ORACLES["x1_novelty_score"] = """
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
        FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
        WHERE len(toks) >= 8
    ), per_doc AS (
        SELECT gram, doc_id, count(*) AS occ FROM g GROUP BY gram, doc_id
    ), first AS (
        SELECT gram, min(doc_id) AS first_doc FROM per_doc GROUP BY gram
    )
    SELECT p.doc_id,
           CAST(sum(p.occ) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN p.occ ELSE 0 END) AS BIGINT) AS novel_grams,
           CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN p.occ ELSE 0 END) AS DOUBLE)
               / CAST(sum(p.occ) AS DOUBLE) AS novel_frac
    FROM per_doc p JOIN first f USING (gram)
    GROUP BY p.doc_id
"""


def x1_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-side contamination fraction — the GPT-3/PaLM "dirtiness" form
    of decontamination (Brown et al. 2020 Appendix C): for every TRAIN
    document, the fraction of its distinct shingles that appear anywhere
    in the eval probe set. The existing x1_contamination family answers
    the probe-side question (which eval items leak?); this answers the
    train-side one (which documents to drop or scrub, and how dirty is
    the corpus overall?) — the number a curation report actually quotes.

    Shape: reads the SAME persisted shingle_base substrate; probe side
    collapses to a DISTINCT 8-byte-hash set (bounded by the eval gram
    vocabulary — eval suites are fixed-size, so at 100 TB this side is
    small and stats-driven join selection broadcasts it; if an eval set
    ever rivals the corpus, the plan degrades to exactly the
    x1_contamination_indexed posting join, uniform 8-byte keys, no pin
    needed because BOTH estimates and reality are large). Corpus side
    explodes its hash array, one equi-join + per-doc count, then a
    doc_id-keyed left join backfills zero-hit documents with 0 — every
    train doc reports, dirty or not. dirty_frac is an exact-long IEEE
    division, shipped unrounded.

    Reference parity: none (counter-only uploader); §2.9 north-star
    extension; semantics per Brown et al. 2020 / Chowdhery et al. 2022
    decontamination appendices."""
    base = shingle_base(load_table(spark, sf_dir, "documents"))
    probe_hashes = (
        base.filter(F.col("doc_id") < 8)
        .select(F.explode("hs").alias("sh_hash"))
        .distinct()
    )
    corpus = base.filter(F.col("doc_id") >= 8).select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("hs").alias("sh_hash")
    )
    hits = (
        corpus.join(probe_hashes, "sh_hash")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        base.filter(F.col("doc_id") >= 8)
        .select("doc_id", F.size("sh").cast("long").alias("n_shingles"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
                / F.col("n_shingles")
            ).alias("dirty_frac"),
        )
    )


QUERIES["x1_contamination_fraction"] = x1_contamination_fraction

ORACLES["x1_contamination_fraction"] = """
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 4, 1)),
                   i -> array_to_string(t[i:least(i + 4, len(t))], ' ')
               )) AS s
        FROM (
            SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
            FROM documents
        )
    ), probe_grams AS (
        SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id < 8
    ), expl AS (
        SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id >= 8
    ), hits AS (
        SELECT e.doc_id, count(*) AS n_overlap
        FROM expl e JOIN probe_grams p USING (gram)
        GROUP BY e.doc_id
    )
    SELECT c.doc_id,
           CAST(len(c.s) AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / len(c.s) AS dirty_frac
    FROM sh c LEFT JOIN hits h USING (doc_id)
    WHERE c.doc_id >= 8
"""


# ---------------------------------------------------------------------------
# X1 — soft dedup: reweight duplicates instead of dropping them
# ---------------------------------------------------------------------------


def x1_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication — downweight duplicated content instead of
    removing it (the sampling-reweight alternative to hard dedup, cf.
    SoftDeDup, He et al. 2024): every document gets sampling weight
    1/d where d is the size of its exact-fingerprint duplicate group, so
    a group of d copies contributes exactly one document's worth of
    expected training mass while still exposing all d layouts/sources.

    Per source: document counts, how many sit in duplicated groups, raw
    vs effective (weight-summed) token mass, and the retention ratio —
    the number a data recipe needs to convert raw crawl mass into
    deduplicated training-token budgets.

    Scale shape: one window count over the fingerprint shuffle (the same
    narrow md5 key every exact-dedup form here shuffles on), then a
    per-source partial+final aggregate; nothing is quadratic in group
    size and no text leaves the executors after fingerprinting."""
    from swiftbulkuploader_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fp")
    base = docs.select(
        "source",
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).withColumn("dupc", F.count(F.lit(1)).over(w))
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("dupc") > 1).cast("long")).alias("n_dup_docs"),
        F.sum("n_tokens").alias("raw_tokens"),
        F.sum(F.col("n_tokens").cast("double") / F.col("dupc")).alias(
            "effective_tokens"
        ),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_dup_docs",
        "raw_tokens",
        "effective_tokens",
        (F.col("effective_tokens") / F.col("raw_tokens")).alias("retention"),
    )


QUERIES["x1_soft_dedup_weights"] = x1_soft_dedup_weights

ORACLES["x1_soft_dedup_weights"] = """
    WITH d AS (
        SELECT source,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
               CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
                    THEN 0
                    ELSE len(string_split(
                        trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))
               END AS n_tokens
        FROM documents
    ), g AS (
        SELECT source, n_tokens,
               count(*) OVER (PARTITION BY fp) AS dupc
        FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN dupc > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
           sum(CAST(n_tokens AS DOUBLE) / dupc) AS effective_tokens,
           sum(CAST(n_tokens AS DOUBLE) / dupc) / sum(n_tokens) AS retention
    FROM g
    GROUP BY source
"""


X1_CONT_DF_CAP = 64     # stop-gram cap: shingles in more docs carry no signal
X1_CONT_MIN_SHARED = 3  # noise floor on shared-shingle count
X1_CONT_TAU = 0.5       # containment threshold (exact integer division)


def x1_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection: pairs where the smaller document's
    shingle set is >= 50% contained in the larger's — the subset-duplicate
    case (a doc quoted inside a longer one) that SYMMETRIC Jaccard dedup
    structurally misses (|A| << |B| caps Jaccard at |A|/|B| no matter how
    complete the containment; Broder's containment coefficient is the
    standard fix). `subset_missed` marks exactly those pairs, the audit
    sample for an ExactSubstr pass.

    Shape: the shared persisted shingle_base substrate, a stop-gram df cap
    (2 <= df <= 64 — singleton grams can't pair, ubiquitous grams are
    boilerplate; same cap argument as x8_link_prediction, replayed by the
    oracle), then a gram-keyed self-join + (a, b) count. BOTH gram joins
    are pinned sort-merge: their build sides are DATA-DEPENDENT
    (small on clean corpora, corpus-sized on boilerplate — the
    x1_dup_span_removal OOM lesson, CLAUDE.md rule 11). containment and
    jaccard are exact integer divisions — no rounding anywhere."""
    base = shingle_base(load_table(spark, sf_dir, "documents"))
    g = base.select("doc_id", F.explode("sh").alias("s"))
    sz = base.select("doc_id", F.size("sh").alias("n"))
    dfc = (
        g.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= X1_CONT_DF_CAP))
        .select("s")
    )
    # r13-opt (guide §5): gg feeds BOTH sides of the pair self-join and
    # Catalyst plans no exchange reuse across the aliased branches — the
    # df-cap merge join (and the dfc aggregation under it) executed twice
    # per action. Persist computes it once; the join STRATEGY pins are
    # untouched (the rule-12 OOM tuning concerned broadcast/shuffle-hash
    # build sides, not a spillable MEMORY_AND_DISK cache of the capped
    # posting list, whose size is bounded by df_cap * distinct grams).
    gg = g.join(dfc.hint("merge"), "s").persist()
    p1 = gg.select("s", F.col("doc_id").alias("a"))
    p2 = gg.select("s", F.col("doc_id").alias("b"))
    pr = (
        p1.join(p2.hint("merge"), "s")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= X1_CONT_MIN_SHARED)
    )
    out = (
        pr.join(sz.select(F.col("doc_id").alias("a"), F.col("n").alias("sa")), "a")
        .join(sz.select(F.col("doc_id").alias("b"), F.col("n").alias("sb")), "b")
    )
    cont = F.col("c").cast("double") / F.least("sa", "sb").cast("double")
    jac = F.col("c").cast("double") / (F.col("sa") + F.col("sb") - F.col("c")).cast("double")
    return (
        out.select(
            "a",
            "b",
            F.col("c").cast("long").alias("shared"),
            F.col("sa").cast("long").alias("size_a"),
            F.col("sb").cast("long").alias("size_b"),
            cont.alias("containment"),
            jac.alias("jaccard"),
            (jac < F.lit(0.5)).alias("subset_missed"),
        )
        .where(F.col("containment") >= F.lit(float(X1_CONT_TAU)))
    )


QUERIES["x1_containment_pairs"] = x1_containment_pairs

ORACLES["x1_containment_pairs"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
        FROM documents
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 4, 1)),
                   i -> array_to_string(t[i:least(i + 4, len(t))], ' ')
               )) AS s
        FROM t
    ), g AS MATERIALIZED (
        SELECT doc_id, unnest(s) AS gram FROM sh
    ), sz AS (
        SELECT doc_id, len(s) AS n FROM sh
    ), dfc AS MATERIALIZED (
        SELECT gram FROM g GROUP BY gram
        HAVING count(*) >= 2 AND count(*) <= {X1_CONT_DF_CAP}
    ), gg AS MATERIALIZED (
        SELECT g.doc_id, g.gram FROM g JOIN dfc USING (gram)
    ), pr AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        FROM gg x JOIN gg y ON x.gram = y.gram AND x.doc_id < y.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {X1_CONT_MIN_SHARED}
    ), scored AS (
        SELECT pr.a, pr.b,
               CAST(pr.c AS BIGINT) AS shared,
               CAST(sa.n AS BIGINT) AS size_a,
               CAST(sb.n AS BIGINT) AS size_b,
               CAST(pr.c AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
                   AS containment,
               CAST(pr.c AS DOUBLE) / CAST(sa.n + sb.n - pr.c AS DOUBLE)
                   AS jaccard
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
    )
    SELECT *, jaccard < CAST(0.5 AS DOUBLE) AS subset_missed
    FROM scored
    WHERE containment >= CAST({X1_CONT_TAU} AS DOUBLE)
"""


def x1_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survivorship of the exact keep-best dedup — the mixture
    accounting a corpus owner reads AFTER deduping: which sources lose
    docs (their content exists elsewhere, often higher-quality) and what
    share of each source's character mass survives. Keeper per exact
    fingerprint group = highest n_chars, doc_id tie-break (the
    x1_dedup_keep_best policy on full-text md5 fingerprints).

    Shape: one fingerprint groupBy (max_by keeper — no window, no
    self-join), one broadcast-size join back on the fingerprint, one
    per-source aggregate. Every output is an exact integer or an integer
    ratio (bit-identical across engines).

    Reference parity: none (reference dedups nothing); §2.9 extension."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(normalize_ws(F.col("text")))))
    base = docs.select("doc_id", "source", "n_chars", fp.alias("fp"))
    # scalar composite key (n_chars desc, doc_id asc): DuckDB v1.0.0's
    # arg_max has no struct-key overload, so both engines rank on
    # n_chars * 1e12 - doc_id. Computed in exact wide-integer space
    # (Spark decimal(38,0) vs DuckDB HUGEINT) so the key cannot wrap
    # int64 once n_chars exceeds ~9.2e6 (a 9 MB document is realistic at
    # 100 TB; BIGINT would wrap silently in Spark and error in DuckDB).
    keep = base.groupBy("fp").agg(
        F.expr(
            "max_by(doc_id, CAST(n_chars AS DECIMAL(38,0))"
            " * 1000000000000 - doc_id)"
        ).alias("keeper_id")
    )
    flagged = base.join(keep, "fp").select(
        "source",
        "n_chars",
        (F.col("doc_id") == F.col("keeper_id")).alias("kept"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        (
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("kept_frac"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_kept"),
    )


QUERIES["x1_dedup_survivorship"] = x1_dedup_survivorship

ORACLES["x1_dedup_survivorship"] = f"""
    WITH base AS (
        SELECT doc_id, source, n_chars, {_FP_DUCK} AS fp FROM documents
    ), keep AS (
        SELECT fp, arg_max(doc_id, CAST(n_chars AS HUGEINT)
                                   * 1000000000000 - doc_id)
                   AS keeper_id
        FROM base GROUP BY fp
    ), flagged AS (
        SELECT b.source, b.n_chars,
               b.doc_id = k.keeper_id AS kept
        FROM base b JOIN keep k ON b.fp = k.fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS kept_frac,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_kept
    FROM flagged GROUP BY source
"""


SWEEP_TAUS = (0.5, 0.6, 0.7, 0.8, 0.9)


def x1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup THRESHOLD SWEEP: pair and affected-doc counts at Jaccard
    cutoffs 0.5..0.9, from ONE pass over the shared exact-Jaccard pair
    frame (allpairs_prefix_pairs, tau=0.5 — every sweep point is a filter of
    it) — the tuning curve read before fixing a dedup threshold: where
    the pair count knees is where near-dups separate from topical
    similarity. n_docs_affected counts distinct docs in >= tau pairs
    (the mass a dedup at that tau would touch).

    Shape: explode 5 threshold literals over the cached pair frame, union
    endpoints, one distinct + two aggregates. Jaccard is an exact integer
    ratio, each cutoff a DOUBLE literal — the >= decision is bit-identical
    across engines."""
    pairs = allpairs_prefix_pairs(spark, sf_dir, tau=0.5)  # (a, b, jaccard)
    taus = F.explode(
        F.array(*[F.lit(float(t)) for t in SWEEP_TAUS])
    ).alias("tau")
    hit = pairs.select("a", "b", "jaccard", taus).filter(
        F.col("jaccard") >= F.col("tau")
    )
    n_pairs = hit.groupBy("tau").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    docs_hit = (
        hit.select("tau", F.col("a").alias("d"))
        .union(hit.select("tau", F.col("b").alias("d")))
        .distinct()
        .groupBy("tau")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_affected"))
    )
    return n_pairs.join(docs_hit, "tau").select(
        "tau", "n_pairs", "n_docs_affected"
    )


QUERIES["x1_threshold_sweep"] = x1_threshold_sweep


def _threshold_sweep_oracle_sql() -> str:
    taus = ", ".join(f"CAST({t} AS DOUBLE)" for t in SWEEP_TAUS)
    return f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
        FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 3
    ), sz AS (
        SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
    ), pr AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        FROM g x JOIN g y ON x.s = y.s AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ), ej AS (
        SELECT a, b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= CAST(0.5 AS DOUBLE)
    ), hit AS (
        SELECT a, b, jaccard, tau
        FROM ej, unnest([{taus}]) AS u(tau)
        WHERE jaccard >= tau
    ), np AS (
        SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs
        FROM hit GROUP BY tau
    ), nd AS (
        SELECT tau, CAST(count(*) AS BIGINT) AS n_docs_affected
        FROM (SELECT DISTINCT tau, d
              FROM (SELECT tau, a AS d FROM hit
                    UNION ALL SELECT tau, b AS d FROM hit))
        GROUP BY tau
    )
    SELECT np.tau, np.n_pairs, nd.n_docs_affected
    FROM np JOIN nd ON np.tau = nd.tau
"""


ORACLES["x1_threshold_sweep"] = _threshold_sweep_oracle_sql()


def x1_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup plan (r8 verdict ask #6): a NEW batch of
    documents screened against the FROZEN corpus in ONE composed plan —
    exact fingerprint dedup + MinHash near-dup + eval decontamination —
    emitting a keep/drop verdict with provenance columns per new doc.
    This is the production shape of recrawl ingestion
    (plans/maintenance.py::manifest_delta finds the new keys; this is
    the content-level screen the delta then flows through): the frozen
    side's fingerprint/band/shingle bases are STATIC substrates the
    batch probes, never a corpus self-join.

    Two-epoch fixture: doc_id % 5 == 0 is the new batch (one fifth of
    the corpus), the rest is frozen — deterministic, so the whole
    composition value-hashes against DuckDB.

    Stages (each reusing the oracled single-corpus form's machinery):
    * exact: full-text md5 fingerprint (x1_exact_dedup's) joined against
      frozen fingerprints; exact_dup_of = MIN matching frozen id.
    * near-dup: _mh_exact_base/_mh_exact_bands (the x1_minhash_exact
      pipeline) with NEW bands equi-joined against FROZEN bands — the
      candidate space is cross-epoch only, the at-scale win of
      incremental ingestion (band buckets of the frozen base are the
      persisted index; each batch shuffles only its own bands).
      Verified at exact Jaccard >= 0.5; near_dup_of = best frozen match
      (max 6-dp Jaccard, min-id tie-break via a wide-integer arg_max
      key — decimal(38,0)/HUGEINT, the overflow-safe composite-key
      discipline).
    * decontam: the x1_contamination screen with a WIDER probe set
      (frozen docs 0-99 stand in for an eval suite; the 8-doc set never
      fires against the 20%% batch at test SFs — the dead-substrate
      trap) containment-screened (>= 0.5) against each new doc's
      5-shingles; n_flagged_probes counts hits.

    Verdict precedence: drop_contaminated > drop_exact > drop_near_dup
    > keep — decontamination is the compliance-severity action (an
    eval-leaking doc must surface as such even when it is also a dup);
    the columns carry every fact, so downstream accounting never
    depends on the precedence. Sentinels -1 / -1.0 mark "no match"
    (engine-stable, no NULLs in compared columns).

    Stream twin (TESTED, not just noted): the factored body
    ``incremental_screen`` runs per micro-batch under foreachBatch
    (streaming/incremental_stream.py) against the same static
    frozen/probe frames; tests/test_incremental_stream.py pins
    stream == batch across a two-micro-batch split. No operator here is
    batch-only (no global sorts or windows over the frozen side).

    Reference parity: readme.md's resume re-run skips already-uploaded
    PATHS; this is the same idempotence promoted to content identity
    (§2.9 extension).

    Round 12 (r11 verdict ask #1 — the 2.96->4.69 s bench regression, of
    which 2.3 s was re-materializing substrates per rep): every per-row
    substrate (fingerprints, hash-set base, bands, shingles) is now a
    doc_id FILTER of the memoized full-corpus frames (mh_corpus_parts /
    shingle_base), so the contract query builds NO new checkpoint per
    call; ``incremental_screen`` keeps deriving from raw frames for the
    streaming twin, which screens genuinely unseen batches."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % 5) == 0
    base, bands = mh_corpus_parts(spark, sf_dir)
    froz_fp = docs.filter(~is_new).select(
        F.col("doc_id").alias("f_id"), _incr_fp().alias("fp")
    )
    probes = (
        shingle_base(docs)
        .filter((F.col("doc_id") < 100) & ~is_new)
        .select(F.col("sh").alias("p_sh"), F.size("sh").alias("p_n"))
    )
    substrates = FrozenSubstrates(
        froz_fp,
        base.filter(~is_new),
        bands.filter(~is_new),
        probes,
    )
    return incremental_screen(
        docs.filter(is_new),
        substrates=substrates,
        new_base=base.filter(is_new),
        new_bands=bands.filter(is_new),
    )


def _incr_fp() -> Column:
    """The exact-dup fingerprint of the incremental screen (md5 of the
    ws-normalized lowercased text)."""
    return F.md5(F.lower(F.trim(normalize_ws(F.col("text")))))


class FrozenSubstrates:
    """The frozen-corpus index the incremental screen probes: exact
    fingerprints, MinHash hash-set base, LSH bands, and the eval-probe
    shingle sets. ``build_frozen_substrates(materialize=True)`` (the
    streaming path) eagerly localCheckpoints every frame so micro-batch
    N>=1 re-reads materialized partitions — per-batch work proportional
    to the BATCH, never the frozen corpus; ``materialize=False`` (the
    one-shot batch contract query) keeps the single-consumer frames lazy
    so the batch plan streams them through their one join without an
    extra materialization pass."""

    def __init__(self, froz_fp: DataFrame, base_f: DataFrame,
                 bands_f: DataFrame, probes: DataFrame):
        self.froz_fp = froz_fp      # (f_id, fp)
        self.base_f = base_f        # (doc_id, hs)  — always checkpointed
        self.bands_f = bands_f      # (doc_id, bj, c0..c3)
        self.probes = probes        # (p_sh, p_n)   — broadcast side


def build_frozen_substrates(frozen_docs: DataFrame,
                            probe_docs: DataFrame,
                            materialize: bool = True) -> FrozenSubstrates:
    """Derive the frozen-side index ONCE (r9 verdict ask #1: the
    streaming twin must never re-derive the corpus index per
    micro-batch). ``_mh_exact_base`` is eagerly checkpointed internally
    either way (it is consumed by both the band derivation and the
    verify join); with ``materialize`` the fingerprint / band / probe
    frames are checkpointed too, so nothing upstream of them ever
    re-executes."""
    froz_fp = frozen_docs.select(
        F.col("doc_id").alias("f_id"), _incr_fp().alias("fp")
    )
    base_f = _mh_exact_base(frozen_docs)
    bands_f = _mh_exact_bands(base_f)
    probes = shingle_base(probe_docs).select(
        F.col("sh").alias("p_sh"), F.size("sh").alias("p_n")
    )
    if materialize:
        froz_fp = froz_fp.localCheckpoint(eager=True)
        bands_f = bands_f.localCheckpoint(eager=True)
        probes = probes.localCheckpoint(eager=True)
    return FrozenSubstrates(froz_fp, base_f, bands_f, probes)


def incremental_screen(new_docs: DataFrame,
                       frozen_docs: DataFrame | None = None,
                       probe_docs: DataFrame | None = None,
                       substrates: FrozenSubstrates | None = None,
                       new_base: DataFrame | None = None,
                       new_bands: DataFrame | None = None,
                       ) -> DataFrame:
    """The screening body of x1_incremental_dedup over ARBITRARY
    (doc_id, source, text) frames — factored out so the streaming twin
    (streaming/incremental_stream.py) runs the identical plan per
    micro-batch. Per-doc derivations (fingerprints, hash sets, bands,
    shingles) are computed per side, so a row's outputs depend only on
    (its text, the frozen side) — the property that makes
    stream == batch hold by construction.

    The frozen side is consumed through ``FrozenSubstrates``: pass
    ``substrates`` prebuilt (the streaming path builds + checkpoints
    them ONCE before ``.start()``) or let the one-shot batch path derive
    them lazily from (frozen_docs, probe_docs). ``new_base``/``new_bands``
    (round 12) let a caller that already holds the new side's
    base/banding frames (the memoized-corpus contract query) skip the
    per-call derivation; both default to deriving from ``new_docs``."""
    if substrates is None:
        substrates = build_frozen_substrates(
            frozen_docs, probe_docs, materialize=False
        )
    new_fp = new_docs.select("doc_id", "source", _incr_fp().alias("fp"))
    exact = (
        new_fp.join(substrates.froz_fp, "fp", "left")
        .groupBy("doc_id", "source")
        .agg(F.min("f_id").alias("exact_dup_of"))
    )

    base_n = _mh_exact_base(new_docs) if new_base is None else new_base
    base_f = substrates.base_f
    bn = _mh_exact_bands(base_n) if new_bands is None else new_bands
    bf = substrates.bands_f
    cand = (
        bn.alias("x")
        .join(bf.alias("y"), ["bj", "c0", "c1", "c2", "c3"])
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    verified = (
        cand.join(
            base_n.select(F.col("doc_id").alias("a"), F.col("hs").alias("ha")),
            "a",
        )
        .join(
            base_f.select(F.col("doc_id").alias("b"), F.col("hs").alias("hb")),
            "b",
        )
        .withColumn("c", F.size(F.array_intersect("ha", "hb")))
        .withColumn("den", F.size("ha") + F.size("hb") - F.col("c"))
        .filter(F.col("c").cast("double") / F.col("den") >= F.lit(0.5))
        .select(
            "a", "b",
            F.round(F.col("c").cast("double") / F.col("den"), 6).alias("j"),
        )
    )
    best = verified.groupBy("a").agg(
        F.expr(
            "max_by(b, CAST(round(j * 1000000) AS DECIMAL(38,0))"
            " * 1000000000000 - b)"
        ).alias("near_dup_of"),
        F.max("j").alias("near_jaccard"),
    ).withColumnRenamed("a", "doc_id")

    newsh = shingle_base(new_docs).select(
        "doc_id", F.col("sh").alias("d_sh")
    )
    cont = (
        newsh.join(F.broadcast(substrates.probes))
        .select(
            "doc_id",
            (
                (F.size(F.array_intersect("d_sh", "p_sh")) / F.col("p_n"))
                >= 0.5
            ).cast("long").alias("flag"),
        )
        .groupBy("doc_id")
        .agg(F.sum("flag").alias("n_flagged"))
    )

    out = exact.join(best, "doc_id", "left").join(cont, "doc_id", "left")
    nfl = F.coalesce(F.col("n_flagged"), F.lit(0))
    verdict = (
        F.when(nfl > 0, F.lit("drop_contaminated"))
        .when(F.col("exact_dup_of").isNotNull(), F.lit("drop_exact"))
        .when(F.col("near_dup_of").isNotNull(), F.lit("drop_near_dup"))
        .otherwise(F.lit("keep"))
    )
    return out.select(
        "doc_id",
        "source",
        verdict.alias("verdict"),
        F.coalesce(F.col("exact_dup_of"), F.lit(-1)).cast("long").alias(
            "exact_dup_of"
        ),
        F.coalesce(F.col("near_dup_of"), F.lit(-1)).cast("long").alias(
            "near_dup_of"
        ),
        F.coalesce(F.col("near_jaccard"), F.lit(-1.0)).alias("near_jaccard"),
        nfl.cast("long").alias("n_flagged_probes"),
    )


QUERIES["x1_incremental_dedup"] = x1_incremental_dedup

ORACLES["x1_incremental_dedup"] = f"""
    WITH fps AS (
        SELECT doc_id, source, {_FP_DUCK} AS fp FROM documents
    ), exact AS (
        SELECT n.doc_id, n.source, min(f.doc_id) AS exact_dup_of
        FROM (SELECT * FROM fps WHERE doc_id % 5 = 0) n
        LEFT JOIN (SELECT * FROM fps WHERE doc_id % 5 <> 0) f
          ON n.fp = f.fp
        GROUP BY 1, 2
    ), t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
        FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 3
    ), h AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hv
        FROM g
    ), sigs AS (
        SELECT doc_id,
               {_mh_sig_cols_sql()}
        FROM h GROUP BY doc_id
    ), bands AS (
        {_mh_band_rows_sql()}
    ), cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y
          ON x.bj = y.bj AND x.c0 = y.c0 AND x.c1 = y.c1
         AND x.c2 = y.c2 AND x.c3 = y.c3
        WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
    ), sz AS (
        SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id
    ), pr AS (
        SELECT cand.a, cand.b, count(*) AS c
        FROM cand
        JOIN h hx ON cand.a = hx.doc_id
        JOIN h hy ON cand.b = hy.doc_id AND hx.hv = hy.hv
        GROUP BY cand.a, cand.b
    ), nearv AS (
        SELECT a, b,
               round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS j
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= CAST(0.5 AS DOUBLE)
    ), best AS (
        SELECT a AS doc_id,
               arg_max(b, CAST(round(j * 1000000) AS HUGEINT)
                          * 1000000000000 - b) AS near_dup_of,
               max(j) AS near_jaccard
        FROM nearv GROUP BY 1
    ), shq AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(t2) - 4, 1)),
                   i -> array_to_string(t2[i:least(i + 4, len(t2))], ' ')
               )) AS s
        FROM (
            SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t2
            FROM documents
        )
    ), probes AS (
        SELECT s AS p_sh, len(s) AS p_n
        FROM shq WHERE doc_id < 100 AND doc_id % 5 <> 0
    ), conta AS (
        SELECT c.doc_id,
               sum(CASE WHEN CAST(len(list_intersect(c.s, p.p_sh)) AS DOUBLE)
                             / p.p_n >= 0.5
                        THEN 1 ELSE 0 END) AS n_flagged
        FROM shq c CROSS JOIN probes p
        WHERE c.doc_id % 5 = 0
        GROUP BY 1
    )
    SELECT e.doc_id, e.source,
           CASE WHEN coalesce(co.n_flagged, 0) > 0 THEN 'drop_contaminated'
                WHEN e.exact_dup_of IS NOT NULL THEN 'drop_exact'
                WHEN b.near_dup_of IS NOT NULL THEN 'drop_near_dup'
                ELSE 'keep' END AS verdict,
           CAST(coalesce(e.exact_dup_of, -1) AS BIGINT) AS exact_dup_of,
           CAST(coalesce(b.near_dup_of, -1) AS BIGINT) AS near_dup_of,
           coalesce(b.near_jaccard, CAST(-1 AS DOUBLE)) AS near_jaccard,
           CAST(coalesce(co.n_flagged, 0) AS BIGINT) AS n_flagged_probes
    FROM exact e
    LEFT JOIN best b USING (doc_id)
    LEFT JOIN conta co USING (doc_id)
"""


# ---------------------------------------------------------------------------
# X1 — variable-length longest-shared-substring profile
# (round 13, r12 verdict ask #6b)
# ---------------------------------------------------------------------------

LSS_K = 8  # the fixed gram width the variable-length runs are built from


def longest_shared_spans(docs: DataFrame,
                         gram_pos: DataFrame | None = None) -> DataFrame:
    """Per candidate pair, the variable-length shared-substring profile
    from fixed-k gram matches: a shared token run of length L contains
    L-k+1 consecutive k-gram matches at a CONSTANT position offset
    (pa - pb), so per (pair, diagonal) the gaps-and-islands trick
    (pa - row_number ordered by pa) groups consecutive matches into
    runs and longest_span_tokens = max(run) + k - 1 — the
    suffix-automaton answer ("longest common substring, in tokens")
    recovered with joins and windows only. Factored from
    x1_longest_shared_span so crafted-text tests pin the arithmetic.

    ``gram_pos`` (session-4): an optional precomputed (doc_id, p0, gram)
    posting — the contract query passes the shared persisted _gram_pos8
    substrate so the self-join's two sides read ONE cached frame instead
    of executing the compute-dense shingling subtree twice; the
    crafted-docs test path (gram_pos=None) builds the identical posting
    inline."""
    from pyspark.sql.window import Window

    if gram_pos is not None:
        g = gram_pos.select("doc_id", F.col("p0").alias("pos"), "gram")
    else:
        toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
        g = (
            spread(docs)
            .filter(F.size(toks) >= LSS_K)
            .select(
                "doc_id",
                F.posexplode(shingles(F.col("text"), LSS_K)).alias("pos", "gram"),
            )
        )
    gx = g.select(F.col("doc_id").alias("a"), F.col("pos").alias("pa"),
                  "gram")
    gy = g.select(F.col("doc_id").alias("b"), F.col("pos").alias("pb"),
                  "gram")
    # merge pin: the gram join's build side is DATA-DEPENDENT (corpus-
    # sized on boilerplate) — the x1_dup_span_removal lesson (CLAUDE.md
    # rule 12); sort-merge spills instead of OOMing
    m = (
        gx.join(gy.hint("merge"), "gram")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "pa", "pb")
    )
    r = m.withColumn("diag", F.col("pa") - F.col("pb")).withColumn(
        "island",
        F.col("pa") - F.row_number().over(
            Window.partitionBy("a", "b", "diag").orderBy("pa")
        ),
    )
    runs = r.groupBy("a", "b", "diag", "island").agg(
        F.count(F.lit(1)).alias("run")
    )
    return runs.groupBy("a", "b").agg(
        F.sum("run").cast("long").alias("n_matched_grams"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        (F.max("run") + F.lit(LSS_K - 1)).cast("long")
        .alias("longest_span_tokens"),
    ).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
        "n_matched_grams", "n_islands", "longest_span_tokens",
    )


def x1_longest_shared_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-shared-substring LENGTH profile per candidate pair — the
    variable-length signal beside the fixed-k span family (r12 verdict
    ask #6b): x1_dup_span_removal excises fixed 8-gram lattices and
    x1_containment_pairs measures set containment, but neither says HOW
    LONG the longest verbatim shared passage is; this does, per pair
    sharing >= 1 exact 8-gram — the statistic that separates full-text
    mirrors (span ~ doc length) from quote-level reuse (span ~ tens of
    tokens), i.e. the tuning signal for a span-dedup threshold. Spans
    10..95 tokens at every SF (variance pinned in
    tests/test_liveness_pins.py); exact run arithmetic pinned on
    crafted overlapping/offset texts in tests/test_round13_ops.py.

    Shape at 100 TB: one posexplode of the linear-shingle arrays, one
    gram-keyed sort-merge join (pinned — the data-dependent-build-side
    lesson), then windows PARTITIONED by (pair, diagonal) whose width is
    bounded by the longer document, never the corpus. Candidate volume
    is gram-collision volume — the x1_repeated_passages class (at true
    scale the join would ride the 8-byte xxhash64 key twin; the literal
    form keeps the full value oracle).

    Reference parity: none (§2.9 span-dedup extension; Lee et al. 2022
    ExactSubstr's "longest duplicated substring" diagnostic)."""
    # the shared substrate is fixed at width 8 — valid only while LSS_K
    # is. An assert would be stripped under `python -O` and silently feed
    # 8-gram positions into a k != 8 span computation (r13 advice #1), so
    # the guard is a real exception.
    if LSS_K != 8:
        raise ValueError(
            f"x1_longest_shared_span shares the fixed-width-8 gram-position "
            f"substrate (_gram_pos8); LSS_K={LSS_K} requires parameterizing "
            "_gram_pos8 by gram width"
        )
    return longest_shared_spans(
        load_table(spark, sf_dir, "documents"),
        gram_pos=_gram_pos8(spark, sf_dir),
    )


QUERIES["x1_longest_shared_span"] = x1_longest_shared_span

ORACLES["x1_longest_shared_span"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, u.i AS pos,
               array_to_string(toks[u.i + 1 : u.i + {LSS_K}], ' ') AS gram
        FROM t, unnest(range(len(toks) - {LSS_K - 1})) AS u(i)
        WHERE len(toks) >= {LSS_K}
    ), m AS (
        SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb
        FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
    ), r AS (
        SELECT a, b, pa - pb AS diag, pa,
               pa - row_number() OVER (PARTITION BY a, b, pa - pb
                                       ORDER BY pa) AS island
        FROM m
    ), runs AS (
        SELECT a, b, count(*) AS run
        FROM r GROUP BY a, b, diag, island
    )
    SELECT a AS doc_a, b AS doc_b,
           CAST(sum(run) AS BIGINT) AS n_matched_grams,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(max(run) + {LSS_K - 1} AS BIGINT) AS longest_span_tokens
    FROM runs GROUP BY 1, 2
"""
