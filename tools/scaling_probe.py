"""Scaling-curve probe: run representative operator shapes at N and 10N
synthesized rows and report the wall-clock ratio. A shape whose ratio is
~10x is linear (scales out by adding executors); super-linear ratios flag
an operator that would NOT survive a 100x scale-up.

Synthesized via spark.range (no parquet dependency) with hash-mixed
columns, so the probe measures the operator, not the scan.

Usage: python tools/scaling_probe.py [base_n] [shape ...]
(default base_n 1_000_000; default all shapes — name shapes to subset, so a
full-suite run can be split across invocations within a CI time budget)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from swiftbulkuploader_spark.session import get_spark


def _events(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.abs(F.xxhash64("id")) % 5000).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000
        ).alias("ts"),
        (F.abs(F.xxhash64("id", F.lit(1))) % 1000 / 10.0).alias("value"),
        (F.abs(F.xxhash64("id", F.lit(2))) % 200_000).alias("text_key"),
    )


def shape_range_window(df):
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return df.select(F.sum("value").over(w).alias("s"))


def shape_dedup(df):
    return df.groupBy(F.md5(F.col("text_key").cast("string")).alias("h")) \
             .agg(F.min("event_id").alias("keep"))


def shape_join_agg(df):
    dim = df.sparkSession.range(5000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("seg")
    )
    return (
        df.join(F.broadcast(dim), "user_id")
        .groupBy("seg").agg(F.sum("value").alias("total"), F.count("*").alias("n"))
    )


def shape_sessionize(df):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts", 1).over(w))
    brk = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return df.select(
        "user_id", "event_id",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_no"),
    )


def shape_quantize_hof(df):
    # int8 quantization over a synthesized 32-dim vector (training_prep.py
    # shape): per-row HOF chain transform -> array_max -> zip_with ->
    # aggregate, scale bound outside the lambda
    v = F.transform(
        F.sequence(F.lit(1), F.lit(32)),
        lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 1000) / 500.0 - 1.0,
    )
    base = df.select("event_id", v.alias("v"))
    scale = F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
    codes = F.zip_with(
        "v", F.array_repeat(scale, F.size("v")),
        lambda x, s: F.round(x / s).cast("long"),
    )
    zero = F.lit(0).cast("long")
    return base.select(
        F.aggregate(codes, zero, lambda acc, x: acc + x).alias("sum_q")
    )


def shape_pack_cumsum(df):
    # sequence-packing shape (training_prep.py): per-shard ordered exclusive
    # cumsum -> integer-div chunk id -> groupBy chunk
    shard = (F.col("text_key") % 64).alias("shard")
    toks = df.select(shard, "event_id", (F.col("value") * 10).cast("long").alias("n"))
    w = (
        Window.partitionBy("shard")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunk = F.floor(F.coalesce(F.sum("n").over(w), F.lit(0)) / 2048).alias("chunk")
    return (
        toks.select("shard", chunk, "n")
        .groupBy("shard", "chunk")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("toks"))
    )


def shape_poisson_bootstrap(df):
    """rows x B explode shape (stats_inference.py::x6_poisson_bootstrap,
    round-8 form): explode to B/2 hash rows, one md5 per (row, g) yielding
    TWO 13-hex 52-bit uniforms, hex-string inverse-CDF weights, map-side
    combine to B groups. Linear ratio = the per-row constant dominates and
    the B-group aggregate never grows."""
    from swiftbulkuploader_spark.operators.stats_inference import BOOT_THR_HEX

    B = 32
    thr = BOOT_THR_HEX
    g = F.explode(F.sequence(F.lit(1), F.lit(B // 2))).alias("g")
    rows = df.select(F.col("event_id").alias("k"), F.col("value").alias("x"), g)
    hh = F.md5(F.concat(F.col("k").cast("string"), F.lit(":"),
                        F.col("g").cast("string")))
    pairs = F.array(*[
        F.struct(
            ((F.col("g") - F.lit(1)) * 2 + F.lit(j)).alias("b"),
            F.substring(hh, (j - 1) * 13 + 1, 13).alias("s"),
        )
        for j in (1, 2)
    ])
    ex = rows.select("x", F.explode(pairs).alias("p")).select(
        "x", F.col("p.b").alias("b"), F.col("p.s").alias("s")
    )
    w = F.lit(6)
    for k in range(len(thr) - 1, -1, -1):
        w = F.when(F.col("s") < F.lit(thr[k]), F.lit(k)).otherwise(w)
    return (
        ex.select("b", "x", w.cast("long").alias("w"))
        .groupBy("b")
        .agg((F.sum(F.col("w") * F.col("x")) / F.sum("w").cast("double")).alias("m"))
    )


def shape_shuffle_shard(df):
    # global-shuffle shape (training_prep.py::x6_global_shuffle): row-local
    # md5 key + hash-mod shard -> per-shard position window. One shuffle on
    # shard, sort within shard — ratio ~10x means the global permutation
    # never pays for a global sort.
    key = F.md5(F.col("event_id").cast("string"))
    shard = (F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % 64).alias("shard")
    keyed = df.select("event_id", key.alias("k"), shard)
    w = Window.partitionBy("shard").orderBy("k")
    return keyed.select("event_id", "shard", F.row_number().over(w).alias("pos"))


def shape_inverted_index_join(df):
    # contamination-indexed shape (dedup.py::x1_contamination_indexed):
    # posting-list equi-join on an 8-byte hash + two-level aggregation.
    # Corpus side scales with n (16 postings/doc); probe side fixed (the
    # eval set). Ratio ~10x = the scan side dominates, as designed.
    spark = df.sparkSession
    corpus = df.select(
        F.col("event_id").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("i"),
    ).select("doc_id", (F.abs(F.xxhash64("doc_id", "i")) % 1_000_000).alias("h"))
    probes = spark.range(10_000).select(
        (F.col("id") % 500).alias("probe_id"),
        (F.abs(F.xxhash64("id")) % 1_000_000).alias("h"),
    )
    return (
        corpus.join(probes, "h")
        .groupBy("probe_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .groupBy("probe_id")
        .agg(F.max("n_match").alias("best"))
    )


def shape_label_prop_round(df):
    # one connected-components round, mirroring components.py's per-round
    # join/aggregate shape AND its symmetric-edge construction: edges are
    # symmetrized and labels cover every node reachable from either
    # endpoint (one row per node, distinct — labels without distinct would
    # fan the join out quadratically per key). Per-round cost must stay
    # linear in edge count; round COUNT is bounded by cluster diameter,
    # not data size.
    e = df.select(
        (F.col("event_id") % 500_000).alias("a"),
        (F.abs(F.xxhash64("event_id")) % 500_000).alias("b"),
    )
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    labels = edges.select(F.col("a").alias("b"), F.col("a").alias("label")).distinct()
    return (
        edges.join(labels, "b")
        .groupBy("a")
        .agg(F.min("label").alias("nbr_label"))
    )


def shape_lpa_argmax_round(df):
    # x8_label_propagation's per-round shape: neighbor-label join ->
    # (node, label) count -> node-PARTITIONED row_number argmax with the
    # deterministic (cnt desc, label asc) tie-break. Differs from
    # label_prop_round's min-agg by the windowed argmax pass over the
    # grouped counts (same shuffle key, no extra exchange); per-round
    # cost must stay linear in edge count.
    e = df.select(
        (F.col("event_id") % 500_000).alias("a"),
        (F.abs(F.xxhash64("event_id")) % 500_000).alias("b"),
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node") % 1000
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    return (
        und.join(labels.select(F.col("node").alias("a"), "label"), "a")
        .groupBy(F.col("b").alias("node"), F.col("label"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node", "label")
    )


def shape_dup_clusters_full(df):
    # x1_dup_clusters' closure stage END-TO-END: the real multi-round
    # connected_components loop (localCheckpoints, convergence probes and
    # all) over a synthesized bounded-diameter pair graph — groups of 4
    # nodes chained to their group head, the dense/shallow structure LSH
    # near-dup graphs have in practice. Cost model: rounds ~ diameter
    # (constant here), per-round cost linear in edges.
    from swiftbulkuploader_spark.operators.components import connected_components

    edges = df.select(
        F.col("event_id").alias("a"),
        (F.col("event_id") - F.col("event_id") % 4).alias("b"),
    )
    return connected_components(edges).groupBy("component").agg(
        F.count("*").alias("n")
    )


def shape_hybrid_search(df):
    # x2_hybrid_search shape: two independent rankings — a cheap keyed
    # score and a 64-dim dot product (the vector side's real cost) — each
    # cut to a top-50 pool (TakeOrderedAndProject, no global sort), rank
    # windows over the 50-row pools only, full-outer RRF fusion.
    q = [((h * 2654435761) % 1000) / 1000.0 for h in range(64)]
    dot = F.aggregate(
        F.zip_with(
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 1000) / 1000.0,
            ),
            F.array(*[F.lit(v) for v in q]),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lex = (
        df.select("event_id", (F.abs(F.xxhash64("text_key")) % 100_000 / 1000.0).alias("s"))
        .orderBy(F.desc("s"), "event_id").limit(50)
    )
    vec = df.select("event_id", dot.alias("s")).orderBy(F.desc("s"), "event_id").limit(50)
    wl = Window.orderBy(F.desc("s"), "event_id")
    pools = [p.select("event_id", F.row_number().over(wl).alias(f"r{i}"))
             for i, p in enumerate((lex, vec))]
    rrf = (
        F.coalesce(F.lit(1.0) / (60 + F.col("r0")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (60 + F.col("r1")), F.lit(0.0))
    )
    return (
        pools[0].join(pools[1], "event_id", "full_outer")
        .select("event_id", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "event_id").limit(20)
    )


def shape_training_manifest(df):
    # x10_training_manifest's composed plan: quality filter -> fingerprint
    # window dedup -> broadcast decontam anti-join -> shard cumsum pack ->
    # chunk aggregate, all in ONE optimizer pass (no materialization
    # between stages).
    probes = df.sparkSession.range(1000).select(F.abs(F.xxhash64("id")).alias("fp"))
    base = df.select(
        "event_id",
        F.abs(F.xxhash64("text_key")).alias("fp"),
        F.col("value").alias("quality"),
        (F.col("value") * 10).cast("long").alias("n_tok"),
    )
    filtered = base.filter(F.col("quality") > 5.0)
    w = Window.partitionBy("fp").orderBy("event_id")
    deduped = filtered.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    clean = deduped.join(F.broadcast(probes), "fp", "left_anti")
    shard = (F.col("fp") % 64).alias("shard")
    wp = (
        Window.partitionBy("shard").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunk = F.floor(F.coalesce(F.sum("n_tok").over(wp), F.lit(0)) / 2048).alias("chunk")
    return (
        clean.select(shard, "event_id", "n_tok")
        .select("shard", chunk, "n_tok")
        .groupBy("shard", "chunk")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("toks"))
    )


def shape_merge_broadcast_delta(df):
    """merge_into's broadcast_delta form: huge target, delta = target/1000.
    Mirrors operators/mutations.py — target scanned twice (left join +
    semi), never shuffled; inserts resolved by two broadcast joins."""
    from swiftbulkuploader_spark.operators.mutations import merge_into

    target = df.select(
        F.col("event_id").alias("id"),
        F.col("user_id").alias("status"),
        F.col("value").alias("size"),
    )
    delta = target.filter(F.col("id") % 1000 == 0).select(
        "id", (F.col("status") + 1).alias("status"), (F.col("size") * 1.1).alias("size")
    )
    return merge_into(target, delta, key="id", update_cols=["status", "size"],
                      broadcast_delta=True)


def shape_pagerank_round(df):
    """One PageRank round over a synthesized bipartite edge list (mirrors
    operators/hierarchy.py::x8_pagerank's per-iteration join+agg; the real
    op runs 3 of these over checkpointed inputs)."""
    edges = df.select(
        F.col("user_id").alias("src"),
        (F.col("text_key") % 10_000 + 100_000).alias("dst"),
    )
    sym = edges.union(edges.selectExpr("dst AS src", "src AS dst"))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    pr = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "pr", F.lit(1.0e-5)
    )
    return (
        sym.join(deg, "src")
        .join(pr.select(F.col("node").alias("src"), "pr"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("in_pr"))
    )


def _gram_array():
    # synthesized ~40-60 B gram strings (the real 8-grams average ~50 B);
    # shared by the string-keyed and hash-keyed repeated-passages shapes so
    # their only difference is the shuffle key width. Keys are MOSTLY
    # UNIQUE (50M key space), matching real corpora where the typical gram
    # occurs once — the regime where map-side combine can't collapse the
    # shuffle and the key width IS the shuffle cost
    return F.array(*[
        F.concat(
            (F.abs(F.xxhash64("event_id", F.lit(i))) % 50_000_000).cast("string"),
            F.lit(" the quick brown gram body over the lazy dog "),
            (F.abs(F.xxhash64("event_id", F.lit(i))) % 5000).cast("string"),
        )
        for i in range(8)
    ])


def _repeated_two_level(grams, key):
    # the real op's two-level aggregation (dedup.py): per-(key, doc)
    # pre-agg instead of a countDistinct Expand, then per-key doc stats
    per_doc = grams.groupBy(key, "event_id").agg(F.count(F.lit(1)).alias("occ"))
    return (
        per_doc.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occ"),
            F.min("event_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def shape_repeated_grams(df):
    """x1_repeated_passages' core: explode per-row gram arrays, two-level
    aggregate keyed on the LITERAL gram string (~50 B shuffle key)."""
    grams = df.select("event_id", F.explode(_gram_array()).alias("gram"))
    return _repeated_two_level(grams, "gram")


def shape_repeated_grams_hashed(df):
    """x1_repeated_passages_hashed's core: the SAME two-level aggregation
    keyed on xxhash64(gram) — 8-byte shuffle rows instead of ~50-byte
    strings. Compare sec/shuffle_mb against `repeated_grams` at the same n:
    the byte reduction on the dominant exchange is the point of the
    variant."""
    grams = df.select(
        "event_id",
        F.explode(F.transform(_gram_array(), lambda g: F.xxhash64(g))).alias("gh"),
    )
    return _repeated_two_level(grams, "gh")


ALLPAIRS_HOT_DF = 600


def shape_winnowing(df):
    """x1_winnowing_fingerprints' core: materialize a per-row hash array,
    slide a W=4 window of array_min slices, distinct + aggregate — pure
    per-row compute, no shuffle. Linear ratio = the selection is O(m*W)
    per row (the lambda references a materialized attribute, not a
    captured expression)."""
    hs = F.transform(
        F.sequence(F.lit(1), F.lit(48)),
        lambda i: F.abs(F.xxhash64(F.col("event_id"), i)) % 100_000_000,
    )
    base = df.select("event_id", hs.alias("hs"))
    m = F.size("hs")
    nw = F.greatest(m - F.lit(3), F.lit(1))
    wins = F.transform(F.sequence(F.lit(1), nw),
                       lambda i: F.array_min(F.slice("hs", i, 4)))
    fps = F.array_distinct(wins)
    return base.select(
        F.aggregate(fps, F.lit(0).cast("long"), lambda a, x: a + x).alias("fp_sum")
    )


def shape_winnowing_arrow(df):
    """x1_winnowing_arrow's core on the SAME synthesized 48-hash docs as
    shape_winnowing: one numpy sliding-window-min pass per Arrow batch
    instead of the per-row interpreted-HOF slice chain — the measured
    answer to SCALING.md's 'compute once at ingest / vectorize' row."""
    from swiftbulkuploader_spark.operators.dedup import winnowing_stats_arrow

    hs = F.transform(
        F.sequence(F.lit(1), F.lit(48)),
        lambda i: F.abs(F.xxhash64(F.col("event_id"), i)) % 100_000_000,
    )
    base = df.select(F.col("event_id").alias("doc_id"), hs.alias("hs"))
    # same per-row output volume as shape_winnowing (no trailing agg), so
    # the two shapes differ ONLY in the selection strategy being measured
    return winnowing_stats_arrow(base).select("fp_sum")


def shape_bloom_screen(df):
    """x1_contamination_bloom's core: 12 synthetic shingle hashes/doc, a
    fixed 1k-hash probe set -> bounded set-bit position table -> three
    broadcast left-semi joins + per-doc counts. Linear ratio = the screen
    is one corpus pass; the filter side is constant-size by construction."""
    from swiftbulkuploader_spark.operators.dedup import (
        BLOOM_CONSTS,
        BLOOM_M,
        _MH_MOD,
    )

    hs = F.sequence(F.lit(1), F.lit(12))
    posts = df.select(
        F.col("event_id").alias("doc_id"),
        F.explode(
            F.transform(hs, lambda i: F.abs(F.xxhash64("event_id", i)) % 4_000_000_000)
        ).alias("h"),
    )

    def pos(h, j):
        a, b = BLOOM_CONSTS[j]
        return (h.bitwiseXOR(F.lit(b)) * F.lit(a)) % F.lit(_MH_MOD) % F.lit(BLOOM_M)

    spark = df.sparkSession
    probe = spark.range(1000).select(
        (F.abs(F.xxhash64("id", F.lit(99))) % 4_000_000_000).alias("h")
    )
    positions = None
    for j in range(3):
        pj = probe.select(pos(F.col("h"), j).alias("p"))
        positions = pj if positions is None else positions.unionByName(pj)
    positions = positions.distinct()
    hits = posts.select(
        "doc_id", *[pos(F.col("h"), j).alias(f"p{j}") for j in range(3)]
    )
    for j in range(3):
        hits = hits.join(
            F.broadcast(positions.withColumnRenamed("p", f"pp{j}")),
            F.col(f"p{j}") == F.col(f"pp{j}"),
            "left_semi",
        )
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))


def shape_source_overlap(df):
    """x1_source_overlap's core: 200 sources, 12 shingles/doc (2 hot
    shared across ALL sources) -> per-source DISTINCT postings -> hash
    join whose per-key fan-out is bounded by n_sources^2, NOT df — the
    property that makes the matrix safe where a per-doc posting join
    needs prefix filtering."""
    hot = [
        (F.col("event_id") % 2 + 10_000_000_000 + i).alias("k") for i in range(2)
    ]
    cold = [
        (F.abs(F.xxhash64("event_id", F.lit(i))) % 1_000_000_000_000).alias("k")
        for i in range(10)
    ]
    posts = (
        df.select(
            (F.col("event_id") % 200).alias("source"),
            F.explode(F.array(*hot, *cold)).alias("h"),
        )
        .distinct()
    )
    common = (
        posts.alias("x")
        .join(posts.alias("y"), "h")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(F.col("x.source").alias("a"), F.col("y.source").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return common.agg(F.sum("c").alias("s"))


def shape_bigram_lm(df):
    """x3_bigram_logprob's core: 32 tokens/doc from a 200k vocab ->
    row-local shifted-zip_with bigram pairs -> (w1,w2) count shuffle ->
    per-doc scorer joins (bigram + unigram tables) + 1-row vocab
    broadcast. The join-heavy big sibling of shape_pmi_pairs; linear
    ratio = posting tables grow with distinct pairs, joins stay
    hash-partitioned."""
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(32)),
        lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 200_000).cast("string"),
    )
    docs = df.select(F.col("event_id").alias("doc_id"), toks.alias("t"))
    n = F.size("t")
    pairs = F.zip_with(
        F.slice("t", 1, n - 1),
        F.expr("slice(t, 2, size(t) - 1)"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = docs.select(F.explode("t").alias("w"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cuc"))
    vv = cu.agg(F.count(F.lit(1)).cast("double").alias("v"))
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cbc"))
    return (
        bg.join(cb, ["w1", "w2"])
        .join(cu.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(F.sum(F.log((F.col("cbc") + F.lit(1)).cast("double")
                         / (F.col("cuc") + F.col("v")))).alias("s"))
    )


def shape_pmi_pairs(df):
    """x3_pmi_cooccurrence's core: shifted zip_with pair generation (2
    pairs per token), canonical ordering, map-side-combined (w1, w2)
    aggregate with a min-count HAVING — the windowed co-occurrence shuffle
    shape. Keys drawn zipf-ish from a 200k vocab."""
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(32)),
        lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 200_000).cast("string"),
    )
    base = df.select(toks.alias("t"))
    n = F.size("t")

    def shifted(j):
        a = F.slice("t", 1, F.greatest(n - j, F.lit(0)))
        b = F.slice("t", 1 + j, F.greatest(n - j, F.lit(0)))
        return F.zip_with(a, b, lambda x, y: F.struct(
            F.least(x, y).alias("w1"), F.greatest(x, y).alias("w2")))

    return (
        base.select(F.explode(F.concat(shifted(1), shifted(2))).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("c").alias("total"))
    )


def shape_star_components_chain(df):
    """connected_components_star over an n-node PATH — the adversarial
    diameter case label propagation cannot close in bounded rounds
    (rounds ~ n) but the Kiveris star algorithm closes in ~log n round
    pairs. Ratio ~10x means per-round cost is linear and the +log rounds
    are noise."""
    from swiftbulkuploader_spark.operators.components import (
        connected_components_star,
    )

    edges = df.select(
        F.col("event_id").alias("a"), (F.col("event_id") + 1).alias("b")
    )
    return connected_components_star(edges).agg(
        F.countDistinct("component").alias("n_components")
    )


def shape_star_components_chain_reliable(df):
    """connected_components_star(reliable=True) on the same n-node path:
    round frames checkpoint to FILES instead of non-evictable
    block-manager memory, which is what moves the local wall past the
    ~3M-node path an 8 GB JVM hits with localCheckpoint (components.py
    memory note). Run with base_n 400k so the 10x point is a 4M-node
    path — BEYOND the documented 3M wall."""
    from swiftbulkuploader_spark.operators.components import (
        connected_components_star,
    )

    edges = df.select(
        F.col("event_id").alias("a"), (F.col("event_id") + 1).alias("b")
    )
    return connected_components_star(edges, reliable=True).agg(
        F.countDistinct("component").alias("n_components")
    )


def shape_lloyd_refine(df):
    """Two-round deterministic Lloyd's refinement (the x2_ivf_kmeans_topk
    quantizer, similarity.py::lloyd_refined_centroids) over n synthetic
    64-dim embeddings — the one heavyweight operator family without a
    probe row until round 7. Per round the plan is: (a) assignment — a
    bounded k-row broadcast + max-of-struct argmax (k*dim FLOPs/row, no
    shuffle) followed by a vec_id-keyed combine, (b) update — the
    vecs-with-assignment join plus the posexplode (cluster,pos) mean,
    whose SHUFFLE carries rows x dim elements before map-side combine
    collapses each partition to <= k*dim groups. Expectation: wall and
    shuffle bytes both ~linear in rows (rows x dim dominates); a
    super-linear ratio would mean the mean shuffle isn't combining
    map-side."""
    from swiftbulkuploader_spark import memo
    from swiftbulkuploader_spark.operators import similarity as S

    memo.clear("lloyd")  # probe measures training, not the round-7 memo
    emb = df.select(
        F.col("event_id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 1000)
            .cast("double") / 1000.0,
        ).alias("embedding"),
    )
    cents = S.lloyd_refined_centroids(emb, k=16, rounds=2)
    return df.sparkSession.range(1).select(
        F.lit(len(cents)).cast("long").alias("k_refined")
    )


def _allpairs_posts(df):
    # 12 distinct shingles per doc: 2 HOT (consecutive blocks of
    # ALLPAIRS_HOT_DF = 600 docs share them -> df = 600 at every n, the
    # boilerplate/stopword shingles) + 10 cold near-unique ones. The hot
    # keys are what make the naive posting join blow up: candidates
    # ~ vocab * C(df, 2) = n * df per hot shingle.
    hot1 = (F.col("event_id") - F.col("event_id") % ALLPAIRS_HOT_DF).alias("k")
    hot2 = (
        F.col("event_id")
        - (F.col("event_id") + ALLPAIRS_HOT_DF // 2) % ALLPAIRS_HOT_DF
        + 10_000_000_000
    ).alias("k")
    cold = [
        (F.abs(F.xxhash64("event_id", F.lit(i))) % 1_000_000_000_000
         + 100_000_000_000).alias("k")
        for i in range(10)
    ]
    return df.select(
        F.col("event_id").alias("doc"),
        F.explode(F.array(hot1, hot2, *cold)).alias("k"),
    )


def shape_allpairs_naive(df):
    """The naive all-pairs posting join x1_allpairs_prefix exists to avoid:
    every same-shingle doc pair is a candidate, so the two df=600 hot
    shingles contribute ~n * 600 pairs — candidate volume grows with df
    per occurrence (df^2 per key), i.e. SUPER-LINEAR in df while the data
    only grows linearly. Run at base_n 100k (the 10x point shuffles ~6e8
    candidate pairs; the prefix twin below stays linear)."""
    posts = _allpairs_posts(df)
    # merge-join hint: Catalyst's size estimate of the synthesized
    # posting table is far below reality and it would try (and OOM) a
    # broadcast; at corpus scale this join is always a shuffle join
    # downstream mirrors the real operator: candidates feed a PAIR
    # aggregation (a shuffle keyed on the pair), not a free fused count —
    # this is where candidate volume actually costs at scale
    return (
        posts.alias("x").hint("merge")
        .join(posts.alias("y"), "k")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .groupBy(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def shape_allpairs_prefix(df):
    """Prefix filtering on the same postings (Bayardo, tau=0.5): rank each
    doc's shingles rarest-first and join only the first
    |d| - ceil(tau*|d|) + 1 = 7 of the 12 — the df=600 hot shingles rank
    LAST and never enter the join, so candidates collapse to cold-key
    collisions. Compare n_cand-driven sec/shuffle vs shape_allpairs_naive."""
    posts = _allpairs_posts(df)
    # df table is ~n*10 distinct cold keys — nothing here is broadcastable
    # (Catalyst's synthesized-size estimates say otherwise), hence hints
    df_tab = posts.groupBy("k").agg(F.count(F.lit(1)).alias("df")).hint("merge")
    w = Window.partitionBy("doc").orderBy("df", "k")
    prefix = (
        posts.join(df_tab, "k")
        .withColumn("rk", F.row_number().over(w))
        # |d| - ceil(tau*|d|) + 1 = 12 - 6 + 1 = 7 of the 12 shingles
        .filter(F.col("rk") <= 7)
        .select("doc", "k")
    )
    return (
        prefix.alias("x").hint("merge")
        .join(prefix.alias("y"), "k")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .groupBy(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def shape_cdc_chunking(df):
    """x1_cdc_chunks end-to-end on synthesized 48-token docs via the REAL
    cdc_chunk_frame (posexplode -> per-row md5 gear test -> per-doc ROWS
    cumsum -> (doc, chunk) order-pinned reassembly), then the chunk_hash
    fingerprint aggregate. Token rows = 48n through a doc-partitioned
    window — the shuffle is (doc_id)-keyed and the chunk-hash exchange is
    narrow, so wall and shuffle bytes should both be ~linear; the chunk
    texts are near-unique (5000-token vocab, ~8-token chunks), the
    no-map-side-collapse worst case for the fingerprint groupBy."""
    from swiftbulkuploader_spark.operators.dedup import cdc_chunk_frame

    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(48)),
            lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 5000)
            .cast("string"),
        ),
    )
    docs = df.select(F.col("event_id").alias("doc_id"), text.alias("text"))
    chunks = cdc_chunk_frame(docs)
    return (
        chunks.select(F.md5("chunk_text").alias("h"), "doc_id", "n_tokens")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"),
             F.countDistinct("doc_id").alias("n_docs"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )


def shape_ivfpq_serve(df):
    """x2_ivf_pq_topk's SERVE path over n synthesized 64-dim embeddings:
    coarse 16-centroid argmax assignment (bounded literal broadcast,
    k*dim FLOPs/row), prune to the 4 probed clusters (~25% of rows — at
    rest this filter is partition pruning and the assignment is free),
    PQ-encode the survivors via the janino-safe broadcast-codebook +
    min-of-struct join (128-row build side), then the 8 literal ADC table
    lookups and a TakeOrderedAndProject top-10. Everything before the
    128-fanout encode join is whole-stage codegen with NO shuffle, and
    the encode exchange collapses to ~1 row/vector map-side — so wall
    should be ~linear in rows and shuffle bytes ~rows, not rows x 128.
    The real query's trailing cluster-observability join (which needs the
    shared-base persist) is omitted: the probe measures the compute
    stages, not the cache. vec_id is HASH-derived (not the range id):
    spark.range's range partitioning co-locates equal ids, which would
    let Catalyst satisfy the encode groupBy without an exchange — a
    parquet-backed index has no such guarantee, so the probe must pay
    (and meter) the one rows-sized encode shuffle the real query pays."""
    from swiftbulkuploader_spark.operators import similarity as S

    def synth_vec(seed):
        return [((seed * 2654435761 + i * 40503) % 1000) / 1000.0
                for i in range(64)]

    cents = [synth_vec(s) for s in range(16)]
    books = [
        [synth_vec(100 + m * 16 + k)[m * 8:(m + 1) * 8] for k in range(16)]
        for m in range(8)
    ]
    q = synth_vec(999)
    emb = df.select(
        F.abs(F.xxhash64("event_id")).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 1000)
            .cast("double") / 1000.0,
        ).alias("embedding"),
    )
    probe = sorted(
        range(16), key=lambda i: (-round(S._py_cos(q, cents[i]), 6), -i)
    )[:4]
    pruned = emb.withColumn(
        "cluster",
        S.assign_ivf_cluster(
            F.col("embedding").cast("array<double>"), cents, round_dp=6
        ),
    ).filter(F.col("cluster").isin(probe))
    based = S._pq_best_frame(df.sparkSession, "", books, emb=pruned)
    dtab = [
        [F.round(S._pq_sqdist_lit(q, m * 8, books[m][k]), 6) for k in range(16)]
        for m in range(8)
    ]
    adc = None
    for m in range(8):
        t = F.element_at(F.array(*dtab[m]), F.col(f"b{m}")["k"] + 1)
        adc = t if adc is None else adc + t
    return (
        based.select("vec_id", adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def shape_logreg_train(df):
    """x3_quality_train's distributed batch-GD shape: 3 synthesized
    6-dp-rounded features, a teacher label, then 2 fixed gradient rounds —
    each ONE full scan + ONE 1-row algebraic aggregate (partial sums
    map-side, a 4-double exchange) whose collect is a bounded 4-scalar
    fetch — and a final accuracy aggregate. Unlike the contract query the
    probe does NOT persist the feature frame: each round re-derives it
    from the range source, which IS the documented 100 TB shape ('each
    round costs one corpus scan with a 4-double shuffle'). The GD rounds
    run during shape construction (inside the timed region, like
    dup_clusters_full). Linear wall ratio = the gradient aggregate
    combines map-side and nothing accumulates round-over-round."""
    lr = 1.0
    feats = df.select(
        F.round((F.abs(F.xxhash64("event_id", F.lit(1))) % 1000) / 100.0, 6)
        .alias("x1"),
        F.round((F.abs(F.xxhash64("event_id", F.lit(2))) % 1000) / 1000.0, 6)
        .alias("x2"),
        F.round((F.abs(F.xxhash64("event_id", F.lit(3))) % 1000) / 1000.0, 6)
        .alias("x3"),
    )
    teacher_z = F.round(
        F.lit(-2.0) + F.lit(0.35) * F.col("x1")
        + F.lit(1.5) * F.col("x2") + F.lit(2.0) * F.col("x3"), 6
    )
    feats = feats.withColumn(
        "y", F.when(teacher_z >= 0.0, 1.0).otherwise(0.0)
    )
    w = [0.0, 0.0, 0.0, 0.0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(2):
        z6 = F.round(
            F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3"), 6
        )
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z6)) - F.col("y")
        row = feats.agg(*[
            F.round(F.lit(w[j]) - F.lit(lr) * F.avg(err * xs[j]), 6)
            .alias(f"w{j}")
            for j in range(4)
        ]).first()  # bounded: one 4-scalar gradient row per round
        w = [float(row[f"w{j}"]) for j in range(4)]
    zf = F.round(
        F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3"), 6
    )
    hit = F.when(
        F.when(zf >= 0.0, 1.0).otherwise(0.0) == F.col("y"), 1.0
    ).otherwise(0.0)
    return feats.agg(
        F.round(F.avg(hit), 6).alias("acc"), F.count(F.lit(1)).alias("n")
    )


def _skew_fact_dim(df):
    # 90% of fact rows share key 0 (the lang='en' / mega-domain shape);
    # the rest spread uniformly over the 100k-key dim
    fact = df.select(
        F.when(F.col("event_id") % 10 < 9, F.lit(0))
        .otherwise(F.col("text_key") % 100_000)
        .cast("long")
        .alias("k"),
        "value",
    )
    dim = df.sparkSession.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("payload")
    )
    return fact, dim


def shape_skew_join_unsalted(df):
    """Baseline pathology: skewed fact SMJ dim with AQE skew-join OFF —
    one reducer drags 90% of the fact side. The number the other two
    skew shapes are measured against."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    fact, dim = _skew_fact_dim(df)
    return (
        fact.hint("merge")
        .join(dim, "k")
        .agg(F.sum(F.col("value") + F.col("payload")).alias("s"))
    )


def shape_skew_join_salted(df):
    """plans/skew.py::salted_join under the same skew, AQE skew-join OFF:
    dim replicated over 32 salts, hot fact key spread over 32 reducers —
    the manual fix for shapes AQE can't split."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    from swiftbulkuploader_spark.plans.skew import salted_join

    fact, dim = _skew_fact_dim(df)
    return salted_join(fact, dim.hint("merge"), "k", 32).agg(
        F.sum(F.col("value") + F.col("payload")).alias("s")
    )


def shape_skew_join_aqe(df):
    """The same join with AQE's runtime skew split ON (threshold lowered to
    fire at probe scale; force flag because the trailing agg would
    otherwise veto the extra shuffle). The runner snapshots/restores the
    mutated confs (_MUTATED_CONFS) around every shape, so these settings
    never leak into other shapes regardless of subset or order."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
    fact, dim = _skew_fact_dim(df)
    return (
        fact.hint("merge")
        .join(dim, "k")
        .agg(F.sum(F.col("value") + F.col("payload")).alias("s"))
    )


def shape_span_removal(df):
    """x1_dup_span_removal's full skeleton: gram explode -> duplicated-gram
    groupBy with keeper selection -> shuffle hash join back -> position
    sequence explode + DISTINCT confined to excised spans -> left-anti join
    against the word lattice -> per-doc sort_array reassembly. The gram key
    space (_gram_array, 50M keys) gives a birthday-collision dup rate of a
    few percent at 8M+ grams — the real-corpus regime where most grams are
    unique and the excision join stays sparse."""
    occ = (
        df.select("event_id", F.posexplode(_gram_array()).alias("p0", "gram"))
        .select(
            "event_id",
            (F.col("p0") + 1).alias("start"),
            # mirror the operator: hash before the shuffle, 8-byte keys
            F.xxhash64("gram").alias("gh"),
            (F.col("event_id") * 1_000_000 + F.col("p0") + 1).alias("occ_key"),
        )
    )
    dup = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("occ_key").alias("keep_key"))
        .filter(F.col("n_occ") >= 2)
        .select("gh", "keep_key")
    )
    # shuffle_hash hints mirror the real operator: the 10M point here has
    # gram load factor 1.6 (a boilerplate-stress regime) and the dup set is
    # tens of millions of rows — the broadcast Catalyst would pick from its
    # post-filter estimate OOMs the driver (observed before the hint)
    covered = (
        occ.join(dup.hint("merge"), "gh")
        .filter(F.col("occ_key") != F.col("keep_key"))
        .select(
            "event_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(7))).alias("pos"),
        )
        .distinct()
    )
    # the word lattice: ~15 synthetic words/doc (8 grams ~= a 15-word doc)
    wordarr = F.array(*[
        (F.abs(F.xxhash64("event_id", F.lit(100 + i))) % 90_000).cast("string")
        for i in range(15)
    ])
    words = (
        df.select("event_id", F.posexplode(wordarr).alias("p0", "w"))
        .select("event_id", (F.col("p0") + 1).alias("pos"), "w")
    )
    kept = words.join(covered.hint("merge"), ["event_id", "pos"], "left_anti")
    return kept.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("retained_text"),
    )


def shape_span_removal_shared(df):
    """x1_dup_span_removal's r13-opt (change-26) form: the gram POSITIONS
    posting is a PERSISTED shared substrate (literal ~50 B gram strings —
    in the shared frame the string survives to the cache instead of being
    hashed away in the scan stage; the _gram_pos8 trade), and `occ`
    projects the 8-byte xxhash64 key off the cached read. Downstream is
    byte-identical to shape_span_removal, merge pins included. The probe
    question (CLAUDE.md rule 12): at the 10M stress point (gram load
    factor 1.6), does persisting the corpus-wide literal posting keep the
    plan inside memory-and-disk bounds with no join-strategy flip and no
    blow-up vs the inline form? The harness clearCache()s after each
    timed run, so reps don't stack substrate copies."""
    posting = df.select(
        "event_id", F.posexplode(_gram_array()).alias("p0", "gram")
    ).persist()
    occ = posting.select(
        "event_id",
        (F.col("p0") + 1).alias("start"),
        F.xxhash64("gram").alias("gh"),
        (F.col("event_id") * 1_000_000 + F.col("p0") + 1).alias("occ_key"),
    )
    dup = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("occ_key").alias("keep_key"))
        .filter(F.col("n_occ") >= 2)
        .select("gh", "keep_key")
    )
    covered = (
        occ.join(dup.hint("merge"), "gh")
        .filter(F.col("occ_key") != F.col("keep_key"))
        .select(
            "event_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(7))).alias("pos"),
        )
        .distinct()
    )
    wordarr = F.array(*[
        (F.abs(F.xxhash64("event_id", F.lit(100 + i))) % 90_000).cast("string")
        for i in range(15)
    ])
    words = (
        df.select("event_id", F.posexplode(wordarr).alias("p0", "w"))
        .select("event_id", (F.col("p0") + 1).alias("pos"), "w")
    )
    kept = words.join(covered.hint("merge"), ["event_id", "pos"], "left_anti")
    return kept.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("retained_text"),
    )


def shape_kcenter_greedy(df):
    """x2_kcenter_select's full skeleton (similarity.py): k=8 greedy
    farthest-point rounds over n synthesized 64-dim vectors. Each round
    folds the running min-distance against the newest pick's LITERAL
    vector (one fused-codegen cosine added per round — k stays far from
    the janino cliff) and takes a TakeOrderedAndProject(1) argmax: a
    bounded 1-row collect, per-partition top-1 + driver merge, NO shuffle
    anywhere. The contract query keeps the fold stateless, so round r
    re-executes the whole lineage: r scans of the corpus by round k-1,
    O(k^2/2) scan-equivalents total (the docstring's documented trade —
    an at-rest deployment persists the running-min column and pays k
    scans). Expectation: wall ~linear in rows at fixed k, and the probe's
    10x point verifies the re-executed lineage stays scan-bound (ratio
    ~10, shuffle bytes ~0) rather than degrading super-linearly."""
    from swiftbulkuploader_spark.operators import similarity as S

    emb = df.select(
        F.col("event_id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 1000)
            .cast("double") / 1000.0,
        ).alias("v"),
    )
    seed = emb.orderBy("vec_id").limit(1).collect()[0]  # bounded: 1 row
    picks = [(int(seed["vec_id"]), [float(x) for x in seed["v"]])]
    cur = emb
    for r in range(2, 9):
        last_id, last_vec = picks[-1]
        d = F.round(
            F.lit(1.0)
            - F.coalesce(
                S.cosine_similarity(F.col("v"), S._lit_vec(last_vec)),
                F.lit(-2.0),
            ),
            6,
        )
        cur = cur.filter(F.col("vec_id") != last_id).withColumn(
            "mind", d if r == 2 else F.least(F.col("mind"), d)
        )
        # bounded: TakeOrdered(1) argmax, one row per round
        top = (
            cur.orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        picks.append((int(top["vec_id"]), [float(x) for x in top["v"]]))
    return df.sparkSession.range(1).select(
        F.lit(len(picks)).cast("long").alias("k_selected")
    )




def shape_triangle_count(df):
    """x8_triangle_count's full pipeline (degrees -> (deg,id) orientation ->
    wedge join -> closure join) on a synthetic HEAVY-TAILED graph: the
    quadratic node-density transform (u*u div m) concentrates edges on a
    hub set with degree ~n/sqrt(m) (~12k at 10M edges) — the regime where
    a naive wedge join on raw degrees does hub_deg^2 (~1.4e8 wedges per
    hub) and the degree orientation is what bounds the work: hubs sort
    HIGHEST in (deg, id) order, so oriented edges point INTO them and
    their out-degree (the squared term) stays ~0. Node space scales with
    n (m = n/4) so density — and the operator's per-row work — is held
    constant across the 1x -> 10x step."""
    n = df.agg(F.max("event_id")).first()[0] + 1
    m = max(n // 4, 1000)
    e = (
        df.selectExpr(
            f"abs(xxhash64(event_id)) % {m} AS ua",
            f"abs(xxhash64(event_id, 7)) % {m} AS ub",
        )
        .selectExpr(f"(ua * ua) div {m} AS x", f"(ub * ub) div {m} AS y")
        .filter("x != y")
        .selectExpr("least(x, y) AS a", "greatest(x, y) AS b")
        .distinct()
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("node"), "d"
    )
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    paths = o.select(F.col("src").alias("u"), F.col("dst").alias("v")).join(
        o.select(F.col("src").alias("v"), F.col("dst").alias("w")), "v"
    )
    return paths.join(
        o.select(F.col("src").alias("u"), F.col("dst").alias("w")), ["u", "w"]
    ).agg(F.count(F.lit(1)).alias("n_triangles"))




def shape_bpe_train(df):
    """x3_bpe_train's full iterative loop (3 merge rounds) over a
    synthesized DISTINCT-WORD vocabulary of n 8-hex-char words: per round
    one exploded (x, y) pair-count shuffle over vocab rows (~7 pairs/word,
    map-side combined to the <=256-pair hex alphabet), a bounded 1-row
    argmax collect, and a narrow string-replace merge. Linear-per-round in
    vocab size is the claim; the corpus enters real training only through
    the one tokenize+count shuffle that builds the vocab table."""
    from pyspark.sql import functions as FF

    words = df.selectExpr(
        "substr(md5(cast(event_id as string)), 1, 8) AS t", "1 AS cnt"
    ).select(
        FF.regexp_replace("t", "(.)", " $1 ").alias("w0"), "cnt"
    ).persist()
    wcol = FF.col("w0")
    last = None
    for _ in range(3):
        syms = FF.split(FF.trim(wcol), "  ")
        n = FF.size(syms)
        pairx = FF.zip_with(
            FF.slice(syms, 1, FF.greatest(n - 1, FF.lit(0))),
            FF.slice(syms, 2, FF.greatest(n - 1, FF.lit(0))),
            lambda a, b: FF.struct(a.alias("x"), b.alias("y")),
        )
        agg = (
            words.select(FF.explode(pairx).alias("p"), "cnt")
            .groupBy("p.x", "p.y")
            .agg(FF.sum("cnt").alias("c"))
            .orderBy(FF.col("c").desc(), FF.col("x").asc(), FF.col("y").asc())
        )
        top = agg.limit(1).collect()
        x, y = top[0]["x"], top[0]["y"]
        wcol = FF.replace(wcol, FF.lit(f" {x}  {y} "), FF.lit(f" {x}{y} "))
        last = agg
    words.unpersist()
    return last.limit(100)


def shape_link_prediction(df):
    """x8_link_prediction's FULL pipeline (basket-capped order->part
    projection -> co-occurrence >= LP_MIN_SHARED edges -> LP_MAX_DEG wedge
    cap -> wedge join -> anti-join + CN/Jaccard/Adamic-Adar) at its stress
    points: co-buying groups of 30 parts give a dense thresholded graph
    whose group count scales with n (work tracks n, not n^2); one
    MEGA-ORDER holds 0.2% of all rows (~2k distinct parts at 1M — without
    LP_BASKET_CAP its projection alone is 4M pairs at 1M and 400M at 10M);
    and 5% of rows attach a REGIONAL hub part spanning ~50 groups (degree
    ~10^3 in the thresholded graph — without LP_MAX_DEG it becomes a wedge
    center with deg^2 fan-out). Linear wall ratio = both caps hold."""
    from swiftbulkuploader_spark.operators.components import (
        LP_BASKET_CAP,
        LP_MAX_DEG,
        LP_MIN_SHARED,
    )

    n = df.agg(F.max("event_id")).first()[0] + 1
    orders = max(n // 5, 100)
    groups = max(n // 300, 10)
    regions = max(groups // 50, 2)
    B = 30
    part_space = groups * B
    cells = df.selectExpr(
        f"CASE WHEN event_id % 500 = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE 1 + abs(xxhash64(event_id, 11)) % {orders} END AS ok",
        "event_id",
    ).selectExpr(
        "ok",
        f"CASE WHEN ok = 0 THEN abs(xxhash64(event_id, 17)) % {part_space} "
        f"WHEN event_id % 20 = 0 THEN {part_space} + (ok % {regions}) "
        f"ELSE ((ok % {groups}) * {B}) + abs(xxhash64(event_id, 13)) % {B} "
        f"END AS pk",
    ).distinct()
    bsize = cells.groupBy("ok").agg(F.count(F.lit(1)).alias("bs"))
    cells = cells.join(
        bsize.where(F.col("bs") <= LP_BASKET_CAP).select("ok"), "ok"
    )
    c1 = cells.select("ok", F.col("pk").alias("a"))
    c2 = cells.select("ok", F.col("pk").alias("b"))
    e = (
        c1.join(c2, "ok")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= LP_MIN_SHARED)
        .select("a", "b")
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("node"), "d"
    )
    capped = und.join(
        deg.where(F.col("d") <= LP_MAX_DEG).select(
            F.col("node").alias("a"), F.col("d").alias("dm")
        ),
        "a",
    )
    u1 = capped.select(F.col("a").alias("m"), F.col("b").alias("x"), "dm")
    u2 = capped.select(F.col("a").alias("m"), F.col("b").alias("y"))
    wedges = u1.join(u2, "m").where(F.col("x") < F.col("y"))
    cand = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(F.lit(1.0) / F.log(F.col("dm").cast("double"))).alias("adamic_adar"),
    )
    non_edges = cand.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"], "left_anti"
    )
    return (
        non_edges.join(deg.select(F.col("node").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("node").alias("y"), F.col("d").alias("dy")), "y")
        .select(
            "x", "y", "cn",
            (F.col("cn").cast("double")
             / (F.col("dx") + F.col("dy") - F.col("cn")).cast("double")).alias("jaccard"),
            "adamic_adar",
        )
    )


def shape_pca_power(df):
    """x2_pca_power's per-round shape at 32 dims: a row-local literal-vector
    dot fold, then the (pos)-keyed map-side-combined w-sum shuffle
    (rows x dim values -> dim rows — the Lloyd mean-update shape), with the
    bounded dim-row collect + renormalize between rounds. 2 full rounds.
    Linear wall = the update shuffle tracks rows x dim; the collect is O(dim)
    regardless of n."""
    dim = 32
    vexpr = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.abs(F.xxhash64(F.col("event_id"), i)) % 1000) / 500.0 - 1.0,
    )
    rows = df.select(vexpr.alias("x"))
    v = [1.0 / dim ** 0.5] * dim
    out = None
    for _ in range(2):
        vlit = F.lit([float(t) for t in v])
        dot = F.aggregate(
            F.zip_with(F.col("x"), vlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        contrib = rows.select(dot.alias("dot"), F.posexplode("x").alias("pos", "cv"))
        wdf = contrib.groupBy("pos").agg(F.sum(F.col("cv") * F.col("dot")).alias("w"))
        n2 = wdf.agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
        vrows = (
            wdf.crossJoin(n2)
            .select("pos", F.round(F.col("w") / F.sqrt("n2"), 6).alias("v"))
            .orderBy("pos")
            .collect()  # bounded: dim rows
        )
        v = [float(r["v"]) for r in vrows]
        out = wdf
    return out


def shape_containment_pairs(df):
    """x1_containment_pairs' gram-join pipeline at stress: (doc, gram) rows
    with co-citing groups of 30 grams (group count scales with n — constant
    density), a BOILERPLATE gram present in ~2% of all docs (df >> cap:
    excluded by the 2<=df<=64 stop-gram filter, which otherwise would emit
    ~(0.02n)^2 pairs), both gram joins pinned sort-merge like the operator.
    Linear wall = the df cap holds at the boilerplate stress point."""
    n = df.agg(F.max("event_id")).first()[0] + 1
    docs = max(n // 20, 100)          # ~20 gram rows per doc
    groups = max(docs // 10, 10)      # 10 docs co-citing a 30-gram pool
    B = 30
    g = df.selectExpr(
        f"abs(xxhash64(event_id, 3)) % {docs} AS doc_id",
        "event_id",
    ).selectExpr(
        "doc_id",
        f"CASE WHEN event_id % 50 = 0 THEN {groups * B} + 1 "
        f"ELSE ((doc_id % {groups}) * {B}) + abs(xxhash64(event_id, 5)) % {B} "
        f"END AS gram",
    ).distinct()
    sz = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsz"))
    dfc = (
        g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 64))
        .select("gram")
    )
    gg = g.join(dfc.hint("merge"), "gram")
    p1 = gg.select("gram", F.col("doc_id").alias("a"))
    p2 = gg.select("gram", F.col("doc_id").alias("b"))
    pr = (
        p1.join(p2.hint("merge"), "gram")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 3)
    )
    return (
        pr.join(sz.select(F.col("doc_id").alias("a"), F.col("nsz").alias("sa")), "a")
        .join(sz.select(F.col("doc_id").alias("b"), F.col("nsz").alias("sb")), "b")
        .select(
            "a", "b", "c",
            (F.col("c").cast("double") / F.least("sa", "sb").cast("double"))
            .alias("containment"),
        )
        .where(F.col("containment") >= 0.5)
    )


def shape_km_survival(df):
    """x7_kaplan_meier's two-level bounded prefix-sum skeleton
    (sessions.py:117) — the round-8 rewrite of the class the r7 verdict
    flagged (single-partition exact-microsecond window), now shared by
    x2_label_auc's rank prefix. Synthesized so the STRESS grows with n:
    n/10 users (~10 events each) scattered over an n-second span, so the
    per-user duration histogram lands ~360 rows in each 3600-second
    bucket while the bucket table itself grows only as span/3600 (n/3600
    rows — the bounded level-2 window; 2.8k rows at 10M, ~87k for a
    10-year span at 100 TB). Expectation: wall ~linear (the per-user
    aggregate dominates), level-1 windows stay partitioned (<= 3600 rows
    by construction), and shuffle bytes track the per-user aggregate +
    histogram — NOT an n-row single-task sort."""
    n = df.agg(F.max("event_id")).first()[0] + 1
    users = max(n // 10, 1000)
    ev = df.select(
        (F.abs(F.xxhash64("event_id")) % users).alias("uid"),
        F.col("ts"),
        F.when(
            (F.abs(F.xxhash64("event_id", F.lit(3))) % 20) == 0,
            F.lit("error"),
        ).otherwise(F.lit("view")).alias("etype"),
    )
    per_user = ev.groupBy("uid").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("t_end"),
        F.min(F.when(F.col("etype") == "error", F.col("ts"))).alias("t_err"),
    )
    dur_us = (
        F.unix_micros(F.coalesce("t_err", "t_end").cast("timestamp"))
        - F.unix_micros(F.col("t0").cast("timestamp"))
    )
    durs = per_user.select(
        dur_us.alias("dur_us"), F.col("t_err").isNotNull().alias("evt")
    ).select(F.expr("dur_us div 1000000").alias("dur_s"), "evt")
    hist = (
        durs.groupBy("dur_s")
        .agg(
            F.count(F.lit(1)).alias("n_at_t"),
            F.sum(F.when(F.col("evt"), 1).otherwise(0)).alias("d"),
        )
        .withColumn("bkt", F.expr("dur_s div 3600"))
    )
    total = hist.agg(F.sum("n_at_t").alias("n_total"))  # 1-row broadcast
    b_tot = hist.groupBy("bkt").agg(F.sum("n_at_t").alias("b_n"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    b_off = b_tot.select(
        "bkt",
        F.coalesce(F.sum("b_n").over(w_bkt), F.lit(0)).alias("n_before_bkt"),
    )
    w_in_excl = Window.partitionBy("bkt").orderBy("dur_s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = (
        hist.join(F.broadcast(b_off), "bkt")
        .crossJoin(F.broadcast(total))
        .select(
            "bkt",
            "dur_s",
            "d",
            (
                F.col("n_total")
                - F.col("n_before_bkt")
                - F.coalesce(F.sum("n_at_t").over(w_in_excl), F.lit(0))
            ).alias("n_at_risk"),
        )
        .where(F.col("d") > 0)
    )
    frac = F.col("d").cast("double") / F.col("n_at_risk").cast("double")
    term = (
        F.when(F.col("d") < F.col("n_at_risk"), F.log(F.lit(1.0) - frac))
        .otherwise(F.lit(0.0))
    )
    w_in_cum = Window.partitionBy("bkt").orderBy("dur_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ev2 = risk.select(
        "bkt", "dur_s", "d", "n_at_risk",
        F.sum(term).over(w_in_cum).alias("cum_term_in"),
    )
    eb = ev2.groupBy("bkt").agg(F.max_by("cum_term_in", "dur_s").alias("b_term"))
    eb_off = eb.select(
        "bkt",
        F.coalesce(F.sum("b_term").over(w_bkt), F.lit(0.0)).alias("term_off"),
    )
    return ev2.join(F.broadcast(eb_off), "bkt").select(
        "dur_s", "d", "n_at_risk",
        F.exp(F.col("term_off") + F.col("cum_term_in")).alias("survival"),
    )


def _zipf_frontier(df):
    """Zipf domain substrate (r10 verdict ask #2 — 'design probes to hit
    the STRESS regime'): 20% of rows on ONE mega-domain plus a 1/d tail
    over 100k domains (log-uniform inverse CDF = Zipf(1)), the shape of
    a real web crawl that the uniform d%20 contract substrate never
    exercises. keeper_doc = event_id (unique, the frontier contract)."""
    import math as _math

    u = (
        F.abs(F.xxhash64("event_id", F.lit(7))) % 1_000_000
    ).cast("double") / 1_000_000.0
    tail = F.floor(F.exp(u * F.lit(_math.log(100_000.0)))).cast("long") + 1
    dom = F.when(F.col("event_id") % 5 == 0, F.lit(1)).otherwise(tail)
    return df.select(
        dom.alias("registered_domain"),
        F.col("event_id").alias("keeper_doc"),
        F.md5(F.col("event_id").cast("string")).alias("canonical_url"),
    )


def shape_url_frontier_window_zipf(df):
    """Baseline pathology: the per-domain slot rank as ONE window —
    WindowExec moves the mega-domain's 20% of all rows to a single
    task. The number the bucketed shape is measured against (and the
    plan x1_url_frontier shipped before round 11)."""
    keepers = _zipf_frontier(df)
    wd = Window.partitionBy("registered_domain").orderBy(
        "keeper_doc", "canonical_url"
    )
    return keepers.select(
        "canonical_url", "registered_domain",
        (F.row_number().over(wd) - 1).cast("long").alias("slot"),
    )


def shape_url_frontier_bucketed_zipf(df):
    """plans/skew.py::bucketed_rank under the same Zipf skew — local
    rank in order-aligned keeper_doc buckets + cumulative offsets;
    every stage bounded by bucket occupancy, not domain share. The plan
    x1_url_frontier ships since round 11."""
    from swiftbulkuploader_spark.plans.skew import bucketed_rank

    keepers = _zipf_frontier(df)
    ranked = bucketed_rank(
        keepers, "registered_domain", "keeper_doc", 1 << 16,
        out="rn", tie_cols=("canonical_url",),
    )
    return ranked.select(
        "canonical_url", "registered_domain",
        (F.col("rn") - 1).cast("long").alias("slot"),
    )


def _mutual_knn_core(df, n_clusters):
    """Shared body: synth 8-dim vectors, cluster-assign, within-cluster
    self-join -> per-vector top-3 -> reciprocal join (the x2_mutual_knn
    shape with the quantizer width as the variable). n_clusters=None
    buckets contiguous 256-id ranges (width constant at any n);
    an int hashes into that many clusters (width grows with n)."""
    cluster = (
        F.floor(F.col("event_id") / F.lit(256))
        if n_clusters is None
        else (F.abs(F.xxhash64("event_id", F.lit(99))) % n_clusters)
    )
    vecs = df.select(
        F.col("event_id").alias("vec_id"),
        F.array(*[
            ((F.abs(F.xxhash64("event_id", F.lit(j))) % 1000) / 1000.0)
            for j in range(8)
        ]).alias("v"),
        cluster.alias("cluster"),
    )
    x, y = vecs.alias("x"), vecs.alias("y")
    dot = F.aggregate(
        F.zip_with(F.col("x.v"), F.col("y.v"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, e: acc + e,
    )
    pairs = x.join(
        y,
        (F.col("x.cluster") == F.col("y.cluster"))
        & (F.col("x.vec_id") != F.col("y.vec_id")),
    ).select(
        F.col("x.vec_id").alias("sa"), F.col("y.vec_id").alias("sb"),
        F.round(dot, 6).alias("cos"),
    )
    w = Window.partitionBy("sa").orderBy(F.col("cos").desc(),
                                         F.col("sb").asc())
    topk = pairs.withColumn("rn", F.row_number().over(w)) \
        .filter(F.col("rn") <= 3).select("sa", "sb", "cos")
    t1, t2 = topk.alias("t1"), topk.alias("t2")
    return (
        t1.join(t2, (F.col("t1.sa") == F.col("t2.sb"))
                & (F.col("t1.sb") == F.col("t2.sa")))
        .filter(F.col("t1.sa") < F.col("t1.sb"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def shape_mutual_knn_fixed_nlist(df):
    """Pathology: mutual kNN blocked by a FIXED 16-cluster quantizer —
    cluster width grows with n, so the within-cluster pair space is
    O(n^2/16): the wall ratio at 10x data should read ~quadratic. This
    is the x2_mutual_knn contract plan run beyond its design point (the
    contract corpus is bounded; a 100 TB run must NOT use fixed
    n_list)."""
    return _mutual_knn_core(df, 16)


def shape_mutual_knn_fixed_width(df):
    """The scale path: the quantizer's n_list grows with the corpus so
    cluster WIDTH stays ~256 — pair space ∝ n * width = linear. The
    documented 100 TB form of x2_mutual_knn (SCALING.md). Width is held
    by bucketing contiguous id ranges (a stand-in for training
    n_list ∝ n centroids — the blocking arithmetic is what's being
    measured, not the quantizer)."""
    return _mutual_knn_core(df, None)


def shape_url_domain_stats_zipf(df):
    """x1_url_domain_stats' aggregate (count + two countDistincts) under
    the Zipf domain substrate — measured to DOCUMENT its structural
    skew-safety rather than salt it blindly: the distinct branches'
    expand keys include the counted value (spread), and every partial
    is map-side combined to <= 1 row per (domain, task), so no reducer
    ever receives a domain's raw rows."""
    keepers = _zipf_frontier(df).withColumn(
        "host", F.concat(F.lit("h"), (F.col("keeper_doc") % 50).cast("string")),
    )
    return keepers.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.countDistinct("canonical_url").alias("n_urls"),
    )


def shape_span_islands(df):
    """x1_longest_shared_span's post-join half (round 13): matched-gram
    rows -> (pair, diagonal) gaps-and-islands window -> run fold ->
    per-pair profile. The gram join FEEDING it is the probed
    repeated_grams / span_removal class; this isolates the NEW
    per-diagonal window, whose partition width is bounded by document
    length (64 here), never the corpus — expected linear."""
    m = df.select(
        (F.col("event_id") / 256).cast("long").alias("pair"),
        ((F.col("event_id") % 256) / 64).cast("long").alias("diag"),
        ((F.col("event_id") % 64) * 2
         + (F.abs(F.xxhash64("event_id", F.lit(3))) % 2)).alias("pa"),
    )
    r = m.withColumn(
        "island",
        F.col("pa") - F.row_number().over(
            Window.partitionBy("pair", "diag").orderBy("pa")
        ),
    )
    runs = r.groupBy("pair", "diag", "island").agg(
        F.count(F.lit(1)).alias("run")
    )
    return runs.groupBy("pair").agg(
        F.sum("run").alias("n_matched"),
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run").alias("max_run"),
    )


SHAPES = {
    "km_survival": shape_km_survival,
    "containment_pairs": shape_containment_pairs,
    "pca_power_2round": shape_pca_power,
    "link_prediction": shape_link_prediction,
    "span_removal": shape_span_removal,
    "span_removal_shared": shape_span_removal_shared,
    "span_islands": shape_span_islands,
    "triangle_count": shape_triangle_count,
    "bpe_train_3round": shape_bpe_train,
    "kcenter_greedy": shape_kcenter_greedy,
    "range_window_1h": shape_range_window,
    "merge_broadcast_delta": shape_merge_broadcast_delta,
    "pagerank_round": shape_pagerank_round,
    "repeated_grams": shape_repeated_grams,
    "repeated_grams_hashed": shape_repeated_grams_hashed,
    "exact_dedup": shape_dedup,
    "broadcast_join_agg": shape_join_agg,
    "sessionize": shape_sessionize,
    "quantize_hof_32d": shape_quantize_hof,
    "pack_cumsum": shape_pack_cumsum,
    "poisson_bootstrap": shape_poisson_bootstrap,
    "shuffle_shard": shape_shuffle_shard,
    "inverted_index_join": shape_inverted_index_join,
    "label_prop_round": shape_label_prop_round,
    "lpa_argmax_round": shape_lpa_argmax_round,
    "dup_clusters_full": shape_dup_clusters_full,
    "hybrid_search_rrf": shape_hybrid_search,
    "training_manifest": shape_training_manifest,
    "star_components_chain": shape_star_components_chain,
    "star_components_chain_reliable": shape_star_components_chain_reliable,
    "lloyd_refine_2round": shape_lloyd_refine,
    "cdc_chunking": shape_cdc_chunking,
    "ivfpq_serve": shape_ivfpq_serve,
    "logreg_train_2round": shape_logreg_train,
    "winnowing_select": shape_winnowing,
    "winnowing_select_arrow": shape_winnowing_arrow,
    "bloom_screen": shape_bloom_screen,
    "source_overlap": shape_source_overlap,
    "pmi_pairs": shape_pmi_pairs,
    "bigram_lm": shape_bigram_lm,
    "allpairs_naive": shape_allpairs_naive,
    "allpairs_prefix": shape_allpairs_prefix,
    "skew_join_unsalted": shape_skew_join_unsalted,
    "skew_join_salted": shape_skew_join_salted,
    "skew_join_aqe": shape_skew_join_aqe,
    "url_frontier_window_zipf": shape_url_frontier_window_zipf,
    "url_frontier_bucketed_zipf": shape_url_frontier_bucketed_zipf,
    "url_domain_stats_zipf": shape_url_domain_stats_zipf,
    "mutual_knn_fixed_nlist": shape_mutual_knn_fixed_nlist,
    "mutual_knn_fixed_width": shape_mutual_knn_fixed_width,
}


# session confs the three skew shapes mutate at construction time. They
# take effect at EXECUTION (inside main()'s timing loop, after the shape
# function returned), so the save/restore must wrap the whole per-shape
# measurement in the runner — a try/finally inside the shape function
# would restore BEFORE the timed write runs and change what is measured.
# With the runner-level restore, any shape subset in any order sees the
# session defaults, not whatever the previous skew shape left behind.
_MUTATED_CONFS = (
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.forceOptimizeSkewedJoin",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
)


def _snapshot_confs(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in _MUTATED_CONFS}


def _restore_confs(spark, snap: dict[str, str | None]) -> None:
    for k, v in snap.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _shuffle_write_bytes(spark) -> int | None:
    """Cumulative shuffle-write bytes across all completed stages, via the
    UI REST API (the probe session enables the UI for exactly this). None
    if the endpoint is unavailable — byte columns are then omitted."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        with urllib.request.urlopen(f"{base}/api/v1/applications", timeout=5) as r:
            app_id = json.load(r)[0]["id"]
        url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=5) as r:
            stages = json.load(r)
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:  # noqa: BLE001
        return None


def _stage_ids(spark) -> set[int]:
    """IDs of all completed stages so far (marker for _max_task_spread)."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return set()
        with urllib.request.urlopen(f"{base}/api/v1/applications", timeout=5) as r:
            app_id = json.load(r)[0]["id"]
        url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=5) as r:
            return {s["stageId"] for s in json.load(r)}
    except Exception:  # noqa: BLE001
        return set()


def _max_task_spread(spark, since: set[int],
                     min_tasks: int = 8,
                     min_stage_ms: int = 500,
                     min_med_ms: int = 0) -> float | None:
    """Worst straggler ratio (max task runtime / median task runtime)
    over the stages completed since `since` — the r10 verdict's skew
    'done' meter ('no straggler task >10x median'). Trivial stages
    (few tasks or sub-min_stage_ms total run time) are skipped: their
    max/median is scheduling noise, not skew. ``min_med_ms`` (round 12)
    additionally skips stages whose MEDIAN task is below the floor: a
    max/median over a ~1 ms median measures scheduler jitter on a
    sub-second stage, not a scale-relevant straggler (the first
    close-out run reported '836x' on such a stage while the query's
    wall ratio was 1.34)."""
    import statistics
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        with urllib.request.urlopen(f"{base}/api/v1/applications", timeout=5) as r:
            app_id = json.load(r)[0]["id"]
        url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=5) as r:
            stages = json.load(r)
        worst = None
        for s in stages:
            if s["stageId"] in since or s.get("numCompleteTasks", 0) < min_tasks:
                continue
            if s.get("executorRunTime", 0) < min_stage_ms:
                continue
            durl = (f"{base}/api/v1/applications/{app_id}/stages/"
                    f"{s['stageId']}/{s['attemptId']}?details=true")
            with urllib.request.urlopen(durl, timeout=10) as r:
                detail = json.load(r)
            tasks = detail.get("tasks", {}) or {}
            runs = [
                t.get("taskMetrics", {}).get("executorRunTime", 0)
                for t in tasks.values()
                if t.get("status") == "SUCCESS" and t.get("taskMetrics")
            ]
            if len(runs) < min_tasks:
                continue
            med = statistics.median(runs)
            if med <= 0 or med < min_med_ms:
                continue
            ratio = max(runs) / med
            if worst is None or ratio > worst:
                worst = ratio
        return worst
    except Exception:  # noqa: BLE001
        return None


def main() -> None:
    base_n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    wanted = sys.argv[2:]
    unknown = set(wanted) - set(SHAPES)
    if unknown:
        raise SystemExit(
            f"unknown shape(s): {sorted(unknown)}; known: {sorted(SHAPES)}"
        )
    shapes = {k: v for k, v in SHAPES.items() if not wanted or k in wanted}
    # UI on: the stages REST endpoint is the shuffle-byte meter
    spark = get_spark("scaling_probe", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    # warmup
    _events(spark, 10_000).agg(F.count("*")).collect()

    out = {}
    for name, shape in shapes.items():
        times, sbytes, spreads = [], [], []
        snap = _snapshot_confs(spark)
        try:
            for n in (base_n, base_n * 10):
                best = float("inf")
                bytes_run = None
                spread_run = None
                for rep in range(2):
                    # shape construction INSIDE the timed region: iterative
                    # shapes (dup_clusters_full) run their loop's jobs during
                    # construction, not at the final write
                    b0 = _shuffle_write_bytes(spark) if rep == 1 else None
                    marker = _stage_ids(spark) if rep == 1 else None
                    t0 = time.time()
                    shape(_events(spark, n)).write.format("noop").mode("overwrite").save()
                    best = min(best, time.time() - t0)
                    # drop any substrate a shape persisted INSIDE the timed
                    # region (span_removal_shared) so reps/sizes don't stack
                    # storage blocks; a no-op for the persist-free shapes
                    spark.catalog.clearCache()
                    if rep == 1 and b0 is not None:
                        b1 = _shuffle_write_bytes(spark)
                        if b1 is not None:
                            bytes_run = b1 - b0
                    if rep == 1 and marker is not None:
                        spread_run = _max_task_spread(spark, marker)
                times.append(best)
                sbytes.append(bytes_run)
                spreads.append(spread_run)
        finally:
            _restore_confs(spark, snap)
        out[name] = {
            "sec_1x": round(times[0], 3),
            "sec_10x": round(times[1], 3),
            "ratio": round(times[1] / times[0], 2),
        }
        if sbytes[0] is not None and sbytes[1] is not None:
            out[name]["shuffle_mb_1x"] = round(sbytes[0] / 1e6, 1)
            out[name]["shuffle_mb_10x"] = round(sbytes[1] / 1e6, 1)
        if spreads[0] is not None and spreads[1] is not None:
            # worst straggler (max task / median task) across the run's
            # non-trivial stages — >10x flags a skew-funneled operator
            out[name]["task_spread_1x"] = round(spreads[0], 1)
            out[name]["task_spread_10x"] = round(spreads[1], 1)
    print(json.dumps({"base_n": base_n, "shapes": out}))
    spark.stop()


if __name__ == "__main__":
    main()
