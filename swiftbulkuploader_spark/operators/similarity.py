"""Similarity search over embeddings (SURVEY.md §2.9 X2).

Three tiers over the `embeddings` table (array<float>, 64-dim):

* brute-force top-k    — codegen'd cosine (higher-order functions) against a
                         constant query vector; TakeOrderedAndProject top-k.
                         The correctness baseline; oracle-checked against
                         DuckDB's list_cosine_similarity.
* random-hyperplane LSH — deterministic signed-projection bucket signature;
                         search only the query's bucket. The 100 TB path:
                         the bucket column is computed once at ingest and
                         the scan prunes to one bucket.
* all-pairs LSH join   — bucket self-join + exact cosine verify for
                         similarity-graph construction (near-dup by
                         embedding); never materializes n^2.

Hyperplanes are derived deterministically from a seed via a splitmix-style
integer mix (no RNG state, reproducible across runs/engines) and broadcast
as literal arrays — at 1000 executors each task evaluates them in codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table
from swiftbulkuploader_spark.functions.vectors import cosine_similarity, dot_product

DIM = 64
N_PLANES = 16


def _splitmix(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & (2**64 - 1)
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
    return x ^ (x >> 31)


def hyperplanes(n_planes: int = N_PLANES, dim: int = DIM, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes (sum of 4 uniforms, CLT)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            acc = 0.0
            for _ in range(4):
                state = _splitmix(state + 1)
                acc += (state / 2**64) - 0.5
            row.append(acc)
        planes.append(row)
    return planes


def _lit_vec(values: list[float]) -> Column:
    """An array<double> literal in ONE Py4J call. `F.lit(list)` builds the
    identical Literal (same values, same dtype, verified bit-equal) as
    `F.array(*[F.lit(v) for v in values])` but without the per-element
    driver round trips — the call-by-call form cost x2_ivf_pq_topk ~6 s
    of PLAN-BUILD time at 16 centroids x 64 dims + 128 codebook entries
    (round-7 profile: 8.8 s build / 2.0 s execute)."""
    return F.lit([float(v) for v in values])


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit signature: bit i set iff dot(vec, plane_i) >= 0. Pure codegen."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = _lit_vec(plane)
        bit = F.when(dot_product(vec, plane_col) >= 0, F.lit(2**i).cast("long")).otherwise(0)
        sig = sig + bit
    return sig


# corpus count, anchor label and anchor vector are session memos
# (r13-opt): 16 x2 query builders fetch the same anchor embedding — one
# bounded 1-row driver job per session instead of one per call per rep


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    return memo.get(spark, "emb_count", (sf_dir,),
                    lambda: load_table(spark, sf_dir, "embeddings").count())


def _query_label(spark: SparkSession, sf_dir: str) -> str:
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        qrow = emb.filter(F.col("vec_id") == 0).select("label").first()
        if qrow is None:
            raise ValueError("query vec_id=0 not found")
        return qrow["label"]

    return memo.get(spark, "query_label", (sf_dir,), build)


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        row = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()
        if row is None:
            raise ValueError(f"query vec_id={vec_id} not found")
        return [float(v) for v in row[0]]

    return memo.get(spark, "query_vector", (sf_dir, vec_id), build)


def x2_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 embedding. The full scan +
    TakeOrderedAndProject is the exact baseline every ANN variant is
    measured against."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    qcol = _lit_vec(q)
    return (
        emb.select(
            "vec_id",
            "label",
            F.round(cosine_similarity(F.col("embedding").cast("array<double>"), qcol), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def x2_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector (posexplode + groupBy(label, pos)) then cosine of
    each label centroid vs the global centroid — the embedding-space profile
    report. Aggregation is positional, so it scales with rows x dim, not n^2."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    label_means = (
        pos.groupBy("label", "pos")
        .agg(F.avg("v").alias("mv"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["mv"]).alias("centroid"))
    )
    # the global centroid is one small array — evaluate it driver-side and
    # inline as a literal (like Spark's ScalarSubquery; avoids a 1-row BNLJ)
    grow = (
        pos.groupBy("pos")
        .agg(F.avg("v").alias("mv"))
        .orderBy("pos")
        .collect()
    )
    gcentroid = _lit_vec([float(r["mv"]) for r in grow])
    return label_means.select(
        "label",
        F.round(cosine_similarity(F.col("centroid"), gcentroid), 6).alias("centroid_cos"),
    )


N_PLANES_TOPK = 8  # bucket-search planes: sized so buckets hold ~n/2^planes
                   # vectors; 16 planes over 2k vectors would isolate everything


def x2_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: restrict the scan to vectors sharing the query's LSH bucket
    (plus hamming-1 neighbor buckets for recall), then exact cosine top-10.
    At scale the signature is a persisted partition column -> bucket pruning
    reads a fraction of the corpus. Oracle-checked (round 4): the
    deterministic hyperplanes inline as literals into the DuckDB SQL, so
    the bucket assignment itself is engine-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = hyperplanes(N_PLANES_TOPK)
    q = _query_vector(spark, sf_dir, 0)
    qsig = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(q, plane)) >= 0:
            qsig |= 1 << i
    probe = [qsig] + [qsig ^ (1 << i) for i in range(N_PLANES_TOPK)]  # multi-probe
    qcol = _lit_vec(q)
    return (
        emb.withColumn("sig", lsh_signature(F.col("embedding"), planes))
        .filter(F.col("sig").isin(probe))
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding").cast("array<double>"), qcol), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def x2_lsh_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding similarity graph: self-join on LSH signature buckets, score
    every candidate pair with exact cosine. Shuffle is on the signature;
    only same-bucket candidates are scored, never n^2. Consumers threshold
    downstream (e.g. >= 0.95 for near-dup removal) — emitting the scored
    candidates keeps the operator meaningful on corpora with no near-dups,
    like the driver's isotropic embeddings. Oracle-checked (round 4) via
    plane-literal signatures, like x2_lsh_bucket_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = hyperplanes()
    sigs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("vec"),
        lsh_signature(F.col("embedding"), planes).alias("sig"),
    )
    l, r = sigs.alias("l"), sigs.alias("r")
    return (
        l.join(r, (F.col("l.sig") == F.col("r.sig")) & (F.col("l.vec_id") < F.col("r.vec_id")))
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.round(cosine_similarity(F.col("l.vec"), F.col("r.vec")), 6).alias("cos_sim"),
        )
    )


N_CENTROIDS = 16
N_PROBE = 4


def _sql_double(v: float) -> str:
    """A double literal as SQL text. Python repr is the shortest
    round-trip decimal, and Spark's parser (Double.parseDouble level)
    recovers the identical bits — verified bit-equal to F.lit(v)."""
    return repr(float(v)) + "D"


def _sql_dvec(values: list[float]) -> str:
    """array<double> literal as SQL text (the _lit_vec of the SQL-text
    plan-build path)."""
    return "array(" + ", ".join(_sql_double(v) for v in values) + ")"


def _sql_cosine(vec_sql: str, cvec_sql: str) -> str:
    """functions/vectors.py::cosine_similarity as SQL text — the SAME
    Catalyst tree (zip_with product, 0.0-seeded left fold, sqrt norms,
    null on zero denom) built in ONE parse instead of per-element Py4J
    round trips. Bit-identical by construction: the parsed lambdas and
    the Python-built lambdas resolve to the same expressions."""
    dot = (
        f"aggregate(zip_with({vec_sql}, {cvec_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )

    def norm(a: str) -> str:
        return (
            f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        )

    denom = f"({norm(vec_sql)} * {norm(cvec_sql)})"
    return f"CASE WHEN {denom} > 0 THEN {dot} / {denom} END"


def assign_ivf_cluster(vec: Column | str, centroids: list[list[float]],
                       round_dp: int | None = None) -> Column:
    """Nearest-centroid id as a pure Column expression: array of
    (cos, cid) structs, array_max picks the best (struct ordering compares
    fields left-to-right, so equal-cos ties go to the HIGHER cid). At ingest
    time this becomes a partition column.

    ``round_dp`` rounds each cosine before the argmax — set it (6) when the
    assignment must be engine-exact against a DuckDB oracle computing its
    own doubles; leave None for the pure-Spark path.

    Pass ``vec`` as a SQL STRING (e.g. "CAST(embedding AS ARRAY<DOUBLE>)")
    to build the whole k-centroid scoring array in ONE F.expr parse — the
    Column form costs ~16 HOF cosine constructions of Py4J round trips
    (~1.5 s of pure plan-build time at k=16, r9 verdict ask #5); the two
    forms produce the identical expression tree (test_similarity pins
    value equality)."""
    if isinstance(vec, str):
        structs = []
        for i, c in enumerate(centroids):
            cos = f"coalesce({_sql_cosine(vec, _sql_dvec(c))}, -2.0D)"
            if round_dp is not None:
                cos = f"round({cos}, {round_dp})"
            structs.append(f"named_struct('cos', {cos}, 'cid', {i})")
        return F.expr(f"array_max(array({', '.join(structs)})).cid")
    scored = F.array(*[
        F.struct(
            _maybe_round(
                F.coalesce(cosine_similarity(vec, _lit_vec(c)), F.lit(-2.0)),
                round_dp,
            ).alias("cos"),
            F.lit(i).alias("cid"),
        )
        for i, c in enumerate(centroids)
    ])
    return F.array_max(scored)["cid"]


def _maybe_round(col: Column, dp: int | None) -> Column:
    return F.round(col, dp) if dp is not None else col


def _ivf_centroids(spark: SparkSession, sf_dir: str,
                   n: int = N_CENTROIDS) -> list[list[float]]:
    """Deterministic coarse quantizer: the first ``n`` vectors by id
    (a k-means init; at scale you'd refine with pyspark.ml KMeans — the
    query path is identical either way). The fetch is a bounded n-row
    collect but still a driver Spark job (~0.1-1 s warm, the rule-10
    class), so it is a session memo: ~10 call sites across the
    IVF/PQ/semantic families re-ran it per query before (r13-opt)."""
    def build():
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < n)
            .orderBy("vec_id")
            .select("embedding")
            .collect()
        )
        return [[float(v) for v in r[0]] for r in rows]

    return memo.get(spark, "ivf_centroids", (sf_dir, n), build)


def _py_cos(a: list[float], b: list[float]) -> float:
    """Driver-side cosine (sequential double ops, mirrors the oracle)."""
    num = sum(x * y for x, y in zip(a, b))
    den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
    return num / den if den else -2.0


def _probe_pick(spark: SparkSession, centroids: list[list[float]],
                q: list[float], n_probe: int) -> list[int]:
    """ENGINE-side probe selection (round 8, from the r7 advice): the
    n_probe nearest centroids by cosine ROUNDED TO 6 DP IN SPARK (cid-desc
    tie-break), collected from a bounded k-row frame. The previous pick
    used Python round() (half-even) over a Python-recomputed cosine while
    the oracle replays DuckDB round (half-away) over
    list_cosine_similarity — a half-way edge could flip the probe set and
    hence the whole top-k. Spark and DuckDB both round half-away, so the
    systematic rounding-mode divergence is gone; what remains is the same
    summation-order-ulp-at-a-boundary residual every rounded comparison
    in this module carries. Bounded collect: k centroid rows (PLANS.md
    allowlist class), memoized per (centroids, q, n_probe) so the IVF
    family pays it once per session per quantizer."""
    def build():
        cent_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cid int, cv array<double>",
        )
        rows = (
            cent_df.select(
                "cid",
                F.round(
                    F.coalesce(cosine_similarity(F.col("cv"), _lit_vec(q)),
                               F.lit(-2.0)),
                    6,
                ).alias("cos"),
            )
            .orderBy(F.col("cos").desc(), F.col("cid").desc())
            .limit(n_probe)
            .collect()
        )
        return [r["cid"] for r in rows]

    args = (tuple(tuple(c) for c in centroids), tuple(q), n_probe)
    return memo.get(spark, "probe_pick", args, build)


def ivf_search(emb: DataFrame, centroids: list[list[float]], q: list[float],
               n_probe: int = N_PROBE, k: int = 10,
               round_dp: int | None = 6) -> DataFrame:
    """The shared IVF query path: assign -> probe the n_probe nearest
    centroids (rounded cos, cid-desc tie-break — mirrors the oracle's ORDER
    BY exactly) -> exact cosine top-k inside the probed clusters. Both
    quantizer variants (first-n deterministic, pyspark.ml KMeans-refined)
    call this, so probe/tie-break semantics can never silently diverge
    between the operators the recall eval compares."""
    probe = _probe_pick(emb.sparkSession, centroids, q, n_probe)
    qcol = _lit_vec(q)
    return (
        emb.withColumn(
            "cluster",
            assign_ivf_cluster(
                "CAST(embedding AS ARRAY<DOUBLE>)", centroids,
                round_dp=round_dp,
            ),
        )
        .filter(F.col("cluster").isin(probe))
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), qcol), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def x2_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest coarse centroid,
    probe the N_PROBE centroids closest to the query, exact cosine inside
    the probed clusters only. At scale the cluster id is a persisted
    partition column -> partition pruning reads ~N_PROBE/N_CENTROIDS of the
    corpus.

    Oracle-checkable (round-4 upgrade from rows-only): the quantizer is
    deterministic (first-16-by-id centroids) and every compared cosine —
    probe selection, cluster argmax, final ranking — is rounded to 6 dp
    with id tie-breaks before any ordering decision (see `ivf_search`), so
    DuckDB reproduces the identical result from its own double arithmetic
    (the same recipe that oracles x1_semantic_dedup)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    return ivf_search(emb, cents, q)


LLOYD_ROUNDS = 2

# The refined coarse quantizer is a session memo (CLAUDE.md rule 5,
# extended round 7): at scale the quantizer is trained ONCE and reused by
# every probe query, so retraining 2 Lloyd rounds per invocation
# (x2_ivf_kmeans_topk, then AGAIN inside x2_ann_recall) was pure wasted
# work. Keyed by (input plan, k, rounds); the refinement is fully
# deterministic (first-k seed, fixed rounds, 6-dp-quantized arithmetic),
# so caching cannot change any compared value.


def lloyd_refined_centroids(emb: DataFrame, k: int = N_CENTROIDS,
                            rounds: int = LLOYD_ROUNDS) -> list[list[float]]:
    """Distributed Lloyd's k-means refinement with FULLY DETERMINISTIC,
    engine-reproducible arithmetic (round 6 — replaces the pyspark.ml
    KMeans whose sampled init forced a rows-only check):

    * init: the first ``k`` vectors by id (the `_ivf_centroids` seed);
    * assignment: rounded-to-6-dp cosine argmax with ties to the HIGHER
      cid — the exact `assign_ivf_cluster` contract, executed as a
      bounded broadcast of the k-row centroid table + max-of-struct
      aggregation (the x2_pq_codes template; an unrolled k x dim
      expression would trip janino's 64 KB method limit);
    * update: per-(cluster, pos) mean via posexplode, ROUNDED TO 6 DP —
      quantizing each refined centroid so cross-engine sum-order ulps
      cannot leak into the next round's assignments;
    * a FIXED round count (the x8_pagerank fixed-budget discipline), so
      DuckDB replays the whole refinement as ``rounds`` chained CTE
      blocks;
    * empty clusters drop (both engines aggregate only over assigned
      vectors) and the survivors are compactly relabeled in cid order.

    Returns the refined centroids as a plain list — a BOUNDED driver
    collect (<= k rows of dim doubles, the allowlisted scalar/centroid
    class) feeding the shared `ivf_search` literal path. The list is
    memoized per (session, input plan, k, rounds) — see the note above.

    Rounding-edge triage note (round-7, from ADVICE): the 6-dp rounding of
    engine-computed doubles (F.avg centroid means, cosine argmax inputs)
    relies on both engines rounding identically; a single-ulp divergence
    landing EXACTLY on a half-way representation edge in round 1 would
    compound through assignments into the compared top-10. Verify passes
    at both SFs, so this is accepted residual risk — if this query's hash
    ever mismatches in a future round, triage as a rounding-edge first
    (diff the per-round centroid tables between engines), not a logic bug."""
    spark = emb.sparkSession
    return memo.get(spark, "lloyd", (emb, k, rounds),
                    lambda: _lloyd_train(spark, emb, k, rounds))


def _lloyd_train(spark: SparkSession, emb: DataFrame, k: int,
                 rounds: int) -> list[list[float]]:
    # read 2x per Lloyd round (assignment + mean join) plus the seed scan:
    # plan-keyed persist so the cast projection runs once per session
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).persist()
    seed = (
        vecs.filter(F.col("vec_id") < k).orderBy("vec_id")
        .select("v").collect()
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in r["v"]]) for i, r in enumerate(seed)],
        "cid int, cv array<double>",
    )
    for _ in range(rounds):
        sc = F.struct(
            F.round(
                F.coalesce(
                    cosine_similarity(F.col("v"), F.col("cv")), F.lit(-2.0)
                ),
                6,
            ).alias("cos"),
            F.col("cid").alias("cid"),
        )
        asn = (
            vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", sc.alias("sc"))
            .groupBy("vec_id")
            # struct max compares (cos, cid) left-to-right: equal rounded
            # cosines resolve to the higher cid, mirroring the oracle's
            # ORDER BY cos DESC, cid DESC
            .agg(F.max("sc")["cid"].alias("cluster"))
        )
        cents = (
            vecs.join(asn, "vec_id")
            .select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("mv"))
            .groupBy("cluster")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pairs")
            )
            .select(
                F.col("cluster").alias("cid"),
                F.transform("pairs", lambda p: p["mv"]).alias("cv"),
            )
            # k tiny rows; materialize so the next round's broadcast does
            # not re-execute the whole previous round's lineage
            .localCheckpoint(eager=True)
        )
    rows = cents.orderBy("cid").collect()  # bounded: <= k centroid rows
    vecs.unpersist()  # refined centroids memoized; the cast projection is done
    return [[float(x) for x in r["cv"]] for r in rows]


def x2_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a Lloyd-REFINED coarse quantizer — the documented
    upgrade path of `_ivf_centroids` ("at scale you'd refine with
    KMeans") realized with deterministic arithmetic end to end, so the
    query graduates from rows-only (pyspark.ml's sampled init, rounds 1-5)
    to a full value-hash oracle: first-k seed, 2 fixed Lloyd rounds with
    6-dp-rounded assignments and centroid means, then the SAME
    assign -> probe -> exact-cosine-top-10 path as x2_ivf_topk
    (`ivf_search`), so probe/tie-break semantics can never diverge
    between the quantizer variants the recall eval compares.

    Scale shape: per round, one bounded k-row broadcast + max-of-struct
    assignment pass and one (cluster, pos)-keyed mean shuffle (rows x dim,
    map-side combined) — the standard distributed Lloyd's; the refined
    centroid table stays k x dim doubles, driver-bounded. The refinement
    runs ONCE per session/input (memoized by lloyd_refined_centroids, round 7):
    repeat invocations — and x2_ann_recall's second call — reuse the
    trained quantizer, mirroring production where the coarse quantizer is
    trained once and served to every probe query."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = lloyd_refined_centroids(emb)
    q = _query_vector(spark, sf_dir, 0)
    return ivf_search(emb, cents, q)


def x2_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched kNN join: 8 query vectors x the rest of the corpus, top-5
    neighbors per query — the many-to-many retrieval shape (each training
    example fetches its nearest references).

    Spark shape: broadcast the (bounded) query side into a nested-loop
    join, score codegen-side, rank per query. The corpus never re-shuffles
    and the cross-product is |corpus| x |queries| with queries bounded —
    the only cross join this engine allows (cf. the IVF/LSH variants for
    unbounded query sets). Ranking is on the ROUNDED similarity plus
    vec_id so the order is engine-exact."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    corpus = emb.filter(F.col("vec_id") >= 8).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "q_id",
        "vec_id",
        F.round(cosine_similarity(F.col("emb"), F.col("q_emb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", "cos_sim", F.col("rn").cast("long").alias("rn"))
    )


RRF_K = 60        # the standard reciprocal-rank-fusion damping constant
HYBRID_POOL = 50  # per-ranking candidate pool fused (bounds all windows)


def x2_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG-serving shape: a lexical ranking (distinct-
    token overlap with the query doc) and a vector ranking (embedding
    cosine) fused by Reciprocal Rank Fusion, rrf = Σ 1/(K + rank).

    Scale shape: each ranking is a full scan + TakeOrderedAndProject top-50
    (no global sort ever materializes); rank assignment and the full-outer
    fusion then touch only the two 50-row pools, so every window in the
    plan is bounded by HYBRID_POOL regardless of corpus size. Ranks are
    assigned over ROUNDED scores with doc_id tiebreak, so both engines rank
    identical values. Query = doc/vec 0 (1-row bounded collects, the
    _query_vector pattern)."""
    from pyspark.sql import Window

    from swiftbulkuploader_spark.functions.text import normalize_ws

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    toks = F.array_distinct(F.split(F.lower(normalize_ws(F.col("text"))), " "))

    def query_tokens():
        qrow = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") == 0).select(toks.alias("t")).first()
        if qrow is None:
            raise ValueError("query doc_id=0 not found")
        return [str(t) for t in qrow["t"]]

    qtoks = memo.get(spark, "query_doc_tokens", (sf_dir,), query_tokens)
    qtok = F.array(*[F.lit(t) for t in qtoks])
    qvec = _lit_vec(_query_vector(spark, sf_dir, 0))

    lex_pool = (
        docs.filter(F.col("doc_id") >= 1)
        .select("doc_id", F.size(F.array_intersect(toks, qtok)).alias("lex_score"))
        .orderBy(F.col("lex_score").desc(), F.col("doc_id").asc())
        .limit(HYBRID_POOL)
    )
    # bounded input: rank windows run over the HYBRID_POOL-row top-k pools
    # only (TakeOrderedAndProject above), so the unpartitioned WindowExec
    # warnings these emit are intentional and O(pool)
    w_lex = Window.orderBy(F.col("lex_score").desc(), F.col("doc_id").asc())
    lex = lex_pool.withColumn("lex_rank", F.row_number().over(w_lex).cast("long"))

    vec_pool = (
        emb.filter(F.col("vec_id") >= 1)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), qvec), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
        .limit(HYBRID_POOL)
    )
    w_vec = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
    vec = vec_pool.withColumn("vec_rank", F.row_number().over(w_vec).cast("long"))

    rrf = (
        F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0))
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "vec_rank", F.round(rrf, 6).alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


MMR_POOL = 20
MMR_SELECT = 5
MMR_LAMBDA = 0.7


def mmr_select(pool_pdf, n_select: int = MMR_SELECT, lam: float = MMR_LAMBDA):
    """Greedy maximal-marginal-relevance over ONE bounded pool (pandas in,
    pandas out — the applyInPandas worker body). Deterministic: scores are
    rounded to 6 dp and ties break to the lowest vec_id."""
    import numpy as np
    import pandas as pd

    vecs = np.array([np.asarray(v, dtype=np.float64) for v in pool_pdf["vec"]])
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]
    sims = np.round(unit @ unit.T, 6)
    rel = pool_pdf["relevance"].to_numpy()
    ids = pool_pdf["vec_id"].to_numpy()
    selected: list[int] = []
    remaining = list(range(len(ids)))
    while remaining and len(selected) < n_select:
        best_i, best_score = None, None
        for i in remaining:
            redundancy = max((sims[i, j] for j in selected), default=0.0)
            score = round(lam * rel[i] - (1 - lam) * redundancy, 6)
            if (
                best_score is None
                or score > best_score
                or (score == best_score and ids[i] < ids[best_i])
            ):
                best_i, best_score = i, score
        selected.append(best_i)
        remaining.remove(best_i)
    return pd.DataFrame({
        "vec_id": [int(ids[i]) for i in selected],
        "relevance": [float(rel[i]) for i in selected],
        "mmr_rank": list(range(1, len(selected) + 1)),
    })


def x2_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification of a retrieval pool — the second stage of RAG
    serving: ANN narrows the corpus to MMR_POOL rows (TakeOrderedAndProject
    on rounded cosine, no global sort), then greedy maximal marginal
    relevance (lambda=0.7) picks MMR_SELECT results balancing relevance
    against redundancy with what's already picked.

    Scale shape — the bounded-pool pattern: the iterative O(pool^2) greedy
    runs in applyInPandas on ONE group of MMR_POOL rows, so its cost is
    constant regardless of corpus size; only the pool construction scans
    data. Oracle-checkable (round-4 upgrade from rows-only): with
    MMR_SELECT fixed at 5 the greedy loop UNROLLS into 5 chained CTEs in
    the DuckDB oracle — every score rounded to 6 dp with lowest-vec_id
    tie-breaks on both sides, so the iterative selection is engine-exact.
    Semantics additionally pinned by tests on crafted pools where
    diversification provably reorders pure-relevance ranking."""
    import pandas as pd  # noqa: F401 - applyInPandas dependency, fail early

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _lit_vec(_query_vector(spark, sf_dir, 0))
    pool = (
        emb.filter(F.col("vec_id") >= 1)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("vec"),
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), qvec), 6
            ).alias("relevance"),
        )
        .orderBy(F.col("relevance").desc(), F.col("vec_id").asc())
        .limit(MMR_POOL)
    )
    return (
        pool.groupBy(F.lit(1).alias("g"))
        .applyInPandas(
            lambda pdf: mmr_select(pdf),
            "vec_id long, relevance double, mmr_rank int",
        )
    )


def x2_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of each approximate index (IVF and
    multi-probe LSH) against the brute-force exact top-10 — the
    measurement loop every ANN deployment runs before trading exactness
    for partition/bucket pruning. One row per method:
    (method, k, n_hits, recall).

    Composes the existing operators (all deterministic since the round-4
    quantizer/plane-literal work), joins each id set against the exact
    one, and counts overlap; the oracle nests the queries' oracle SQL as
    derived tables, so the recall numbers themselves are engine-checked,
    not just the inputs."""
    # persist the 10-row exact frame: it feeds BOTH union branches, and
    # Spark does not CSE across union branches (cf. components.py) — without
    # it the full-corpus cosine scan would execute twice per action.
    # persist (not the former eager localCheckpoint) so the scan is lazy
    # and the plan-keyed cache entry is reused across calls (r13-opt)
    exact = x2_cosine_topk(spark, sf_dir).select("vec_id").persist()

    def recall_of(method: str, approx: DataFrame) -> DataFrame:
        return (
            exact.join(approx.select("vec_id"), "vec_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.lit(method).alias("method"),
                F.lit(10).cast("long").alias("k"),
                "n_hits",
                (F.col("n_hits") / F.lit(10.0)).alias("recall"),
            )
        )

    return (
        recall_of("ivf", x2_ivf_topk(spark, sf_dir))
        .unionByName(recall_of("ivf_kmeans", x2_ivf_kmeans_topk(spark, sf_dir)))
        .unionByName(recall_of("lsh", x2_lsh_bucket_topk(spark, sf_dir)))
    )


MRL_DIMS = (16, 32)


def x2_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati et al., NeurIPS'22
    — MRL embeddings are trained so PREFIXES of the vector are usable
    embeddings): brute-force cosine top-10 using only the first 16 / 32
    of the 64 dims, scored as recall against the full-dim exact top-10 —
    the measurement that decides how far an index can truncate (4x/2x
    smaller vectors, proportionally cheaper scans) before retrieval
    quality pays.

    Execution shape: `F.slice` on the embedding array inside the same
    codegen'd cosine — the truncated scan reads the SAME column and just
    folds fewer terms; at rest the truncation would be a persisted prefix
    column (or PQ on the prefix). One TakeOrderedAndProject per method,
    10-row joins for the recall counts; the driver embeddings are NOT
    MRL-trained, so recall here exercises the measurement, not a quality
    claim. Oracle nests the full-dim top-10 SQL and DuckDB list slicing
    (v[1:k]), every cosine rounded to 6 dp with vec_id tie-breaks."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)

    def topk(dims: int | None) -> DataFrame:
        vec = F.col("embedding").cast("array<double>")
        qv = q if dims is None else q[:dims]
        if dims is not None:
            vec = F.slice(vec, 1, dims)
        return (
            emb.select(
                "vec_id",
                F.round(
                    cosine_similarity(vec, _lit_vec(qv)), 6
                ).alias("cos_sim"),
            )
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
            .limit(10)
        )

    # feeds one join per truncation: persist so the full-dim scan runs
    # once (no CSE across the union branches; lazy + plan-keyed across
    # calls, r13-opt — see x2_ann_recall)
    exact = topk(None).select("vec_id").persist()
    out = None
    for dims in MRL_DIMS:
        r = (
            exact.join(topk(dims).select("vec_id"), "vec_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.lit(f"mrl{dims}").alias("method"),
                F.lit(10).cast("long").alias("k"),
                "n_hits",
                (F.col("n_hits") / F.lit(10.0)).alias("recall"),
            )
        )
        out = r if out is None else out.unionByName(r)
    return out


RP_OUT_DIM = 16
RP_IN_DIM = 64


def _achlioptas_entry(i: int, j: int) -> int:
    """Deterministic Achlioptas-sparse projection entry in {-1, 0, +1}
    (P = 1/6, 2/3, 1/6 via a fixed mixing formula): reproducible as plain
    integer arithmetic in ANY engine — no RNG state to ship."""
    return {0: 1, 5: -1}.get((i * 31 + j * 17) % 6, 0)


def x2_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims (Achlioptas
    2003, "Database-friendly random projections": sparse {-1,0,+1}
    entries scaled sqrt(3/k) preserve pairwise distances within
    1 ± epsilon) — the 4x dimensionality shrink applied before ANN
    indexing over billions of embeddings, complementing the int8
    quantization in x2_quantized_codes (that shrinks bytes/dim; this
    shrinks dims).

    Execution: the projection UNROLLS into 16 codegen'd signed sums over
    the embedding elements (~1/3 of terms survive the sparsity mask) —
    a pure whole-stage-codegen projection, no shuffle, no UDF, no matrix
    library; the same unrolled-dot-product discipline as semantic dedup's
    centroid assignment (dedup.py). The matrix is a FORMULA, not data, so
    DuckDB reproduces every output coordinate from the same integer
    arithmetic.

    Plan-build (r14-opt, CLAUDE.md rule 10 / r13 verdict ask #7): the 16
    sums are emitted as ONE F.expr parse each (the _sql_cosine/_sql_dvec
    discipline) instead of ~680 per-element Column constructions — the
    Column form cost ~1.4 s of pure Py4J plan-build per call. The parsed
    tree is expression-identical (left-associated adds over element_at,
    unary minus, `a - b` == `a + (-b)` exactly under IEEE 754, the scale
    as a repr()+'D' double literal bit-equal to F.lit), so every output
    coordinate is bit-for-bit the Column form's (pinned in
    tests/test_round14_opt.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = (3.0 / RP_OUT_DIM) ** 0.5
    outs = []
    for j in range(RP_OUT_DIM):
        terms: list[str] = []
        for i in range(RP_IN_DIM):
            e = _achlioptas_entry(i, j)
            if e == 0:
                continue
            ref = f"element_at(__v, {i + 1})"
            if not terms:
                terms.append(ref if e > 0 else f"-{ref}")
            else:
                terms.append(f"+ {ref}" if e > 0 else f"- {ref}")
        body = " ".join(terms) if terms else "CAST(0.0 AS DOUBLE)"
        outs.append(F.expr(f"({body}) * {scale!r}D").alias(f"p{j}"))
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__v")
    ).select("vec_id", *outs)


PQ_M = 8      # subspaces
PQ_DSUB = 8   # dims per subspace (8 x 8 = 64)
PQ_K = 16     # codebook entries per subspace -> 4-bit codes, 8 B/vector


# r13-opt: the codebook collect is a deterministic session memo —
# before memoization every PQ query re-ran the bounded 16-row collect per
# call; and the full-table PQ assignment (_pq_best_frame with the default
# embeddings input) is the identical broadcast-join + min-struct pipeline
# for x2_pq_codes, x2_pq_topk, x2_pq_distortion and ensure_index —
# persist + memoize it once per session. The pruned-input form
# (x2_ivf_pq_topk) bypasses the memo: its substrate is the
# probe-filtered subset, not the corpus.


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """books[m][k] = the k-th codebook entry of subspace m: the first PQ_K
    vectors' subvectors (deterministic init, same discipline as
    _ivf_centroids; a production build refines with per-subspace k-means —
    the encode/search path is identical either way). Bounded collect:
    PQ_K rows, memoized per session."""
    def build():
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < PQ_K).orderBy("vec_id")
            .select("embedding").collect()
        )
        vecs = [[float(v) for v in r[0]] for r in rows]
        return [
            [vec[m * PQ_DSUB:(m + 1) * PQ_DSUB] for vec in vecs]
            for m in range(PQ_M)
        ]

    return memo.get(spark, "pq_codebooks", (sf_dir,), build)


def _pq_sqdist_val(q: list[float], offset: int, cent: list[float]) -> float:
    """Query-to-codebook distance as ONE Python double. The sum is
    computed in the SAME sequential term order Catalyst's constant
    folder would use on the unrolled lit-chain — IEEE-754 double add/mul
    are deterministic, so the value is bit-identical (verified); the
    6-dp ROUNDING still happens Spark-side via the caller's
    round(<lit>, 6) (Python's half-even round() never touches a compared
    value — CLAUDE.md rule). The old per-term Column chain cost ~24 Py4J
    round trips x 128 codebook entries of pure plan-build time; the
    per-entry F.round(F.lit(v), 6) wrappers that replaced it still cost
    ~2 calls x 1024 — consumers now emit the whole table as SQL text
    (_adc_expr)."""
    term = None
    for i, c in enumerate(cent):
        d = q[offset + i] - c
        t = d * d
        term = t if term is None else term + t
    return term


def _adc_expr(q: list[float], books) -> Column:
    """The ADC distance column: sum over subspaces of the PRECOMPUTED
    query-to-codebook distance table lookup, with each subspace's 128
    rounded literals emitted as ONE SQL-text array (the _sql_dvec
    discipline — the per-entry F.round(F.lit(v), 6) form cost ~1 s of
    plan-build per PQ query at 8 x 128 entries, r9 verdict ask #5). The
    rounding stays Spark-side: round(<lit>, 6) in the parsed text is
    constant-folded by Catalyst with Spark semantics, never Python's
    half-even round()."""
    adc = None
    for m in range(PQ_M):
        tab = ", ".join(
            f"round({_sql_double(_pq_sqdist_val(q, m * PQ_DSUB, books[m][k]))}, 6)"
            for k in range(PQ_K)
        )
        t = F.element_at(F.expr(f"array({tab})"), F.col(f"b{m}")["k"] + 1)
        adc = t if adc is None else adc + t
    return adc


def _pq_best_frame(spark: SparkSession, sf_dir: str, books,
                   emb: DataFrame | None = None) -> DataFrame:
    """(vec_id, b0..b7) where b{m} = the min (rounded dist, code) struct of
    subspace m — the PQ assignment every consumer reads.

    Shape: broadcast the 128-row (m, k, centroid) table, nested-loop it
    against the vectors (bounded build side — the documented-ok BNLJ
    pattern), compute ONE unrolled 8-term distance per row, then collapse
    back to one row per vector with eight min-of-struct aggregates
    (partial aggregation combines the 128 rows map-side, so the exchange
    carries ~1 row per vector). This replaces a fully-unrolled 128-distance
    projection that blew janino's 64 KB method limit and silently fell
    back to INTERPRETED eval (~1.7 ms/row, measured) — the join form keeps
    every expression small enough for whole-stage codegen. min(struct)
    ties go to the smaller code (field-order comparison), matching the
    generated oracle's ORDER BY d, k.

    The full-table form (emb=None) is memoized + persisted per session
    (see the note above); an explicit emb input (the IVF-pruned subset)
    always computes fresh."""
    if emb is None:
        return memo.get(spark, "pq_best", (sf_dir,), lambda: _pq_best_frame(
            spark, sf_dir, books, load_table(spark, sf_dir, "embeddings"),
        ).persist())
    cb = spark.createDataFrame(
        [(m, k, books[m][k]) for m in range(PQ_M) for k in range(PQ_K)],
        "m int, k int, c array<double>",
    )
    joined = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).join(F.broadcast(cb))
    dist = None
    for i in range(PQ_DSUB):
        d = F.element_at("v", F.col("m") * PQ_DSUB + (i + 1)) - F.element_at(
            "c", i + 1
        )
        t = d * d
        dist = t if dist is None else dist + t
    scored = joined.select(
        "vec_id", "m", "k", F.round(dist, 6).alias("d")
    )
    return scored.groupBy("vec_id").agg(
        *[
            F.min(F.when(F.col("m") == mm, F.struct("d", "k"))).alias(f"b{mm}")
            for mm in range(PQ_M)
        ]
    )


def x2_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode (Jégou, Douze & Schmid, TPAMI 2011,
    "Product Quantization for Nearest Neighbor Search"): split 64 dims
    into 8 subspaces, snap each subvector to its nearest of 16 codebook
    entries — 64 floats (256 B) become 8 4-bit codes (~4 B), the memory
    layout billion-vector ANN indexes actually store. Output: the 8 codes
    + the total quantization error.

    Execution: see _pq_best_frame — broadcast codebook join + min-struct
    aggregation, every expression codegen-sized (the naive 128-distance
    unroll overflowed janino and ran interpreted). Distances round to 6 dp
    BEFORE the argmin (round-before-decision, CLAUDE.md rule 3) with ties
    to the smaller code, so the assignment is engine-exact; the oracle SQL
    is GENERATED with the same term order."""
    books = _pq_codebooks(spark, sf_dir)
    based = _pq_best_frame(spark, sf_dir, books)
    qerr = None
    for m in range(PQ_M):
        t = F.col(f"b{m}")["d"]
        qerr = t if qerr is None else qerr + t
    return based.select(
        "vec_id",
        *[F.col(f"b{m}")["k"].alias(f"c{m}") for m in range(PQ_M)],
        qerr.alias("qerr"),
    )


def x2_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-10 with the PQ codes: the query stays
    un-quantized; each subspace contributes a table lookup of the
    PRECOMPUTED query-to-codebook distance (16 doubles per subspace,
    inlined as literals — at scale the 128-entry table broadcasts and the
    scan never touches raw embeddings, only the 8-byte codes). Returns the
    10 nearest by estimated distance, vec_id tiebreak."""
    books = _pq_codebooks(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    based = _pq_best_frame(spark, sf_dir, books).filter(F.col("vec_id") >= 1)
    adc = _adc_expr(q, books)
    return (
        based.select("vec_id", adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def x2_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ — the composition billion-vector indexes actually serve
    (Jégou et al., TPAMI 2011, IVFADC): the coarse quantizer prunes the
    scan to the N_PROBE probed clusters, then Asymmetric Distance
    Computation ranks ONLY the surviving vectors' 8-byte PQ codes against
    the un-quantized query. Top-10 by estimated distance, vec_id
    tie-break; output carries the IVF cluster for observability.

    Scale shape, in order: (1) the cluster id is a persisted partition
    column at rest, so the probe filter is PARTITION PRUNING — the scan
    reads ~N_PROBE/N_CENTROIDS of the index; (2) PQ encoding (the
    broadcast-codebook + min-of-struct pattern of x2_pq_codes — janino-
    safe) runs over the pruned subset only; (3) the ADC is 8 literal
    table lookups per row, whole-stage codegen, no shuffle after the
    pruned scan. Every compared value is rounded to 6 dp before any
    ordering decision (cluster argmax, probe pick, ADC sum ordering) so
    the generated DuckDB oracle replays the identical result.

    At true scale codes are PRE-encoded at ingest (the encode stage here
    exists so the query is self-contained over the raw embeddings table);
    the serve-path cost is stages (1) + (3) only."""
    cents = _ivf_centroids(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    probe = _probe_pick(spark, cents, q, N_PROBE)
    emb = load_table(spark, sf_dir, "embeddings")
    pruned = (
        emb.withColumn(
            "cluster",
            assign_ivf_cluster(
                "CAST(embedding AS ARRAY<DOUBLE>)", cents, round_dp=6
            ),
        )
        .filter(F.col("cluster").isin(probe))
        .filter(F.col("vec_id") >= 1)
        # read twice (encode branch + cluster column join) with no CSE
        # across join branches — plan-keyed persist materializes the
        # pruned assignment once (shared-base discipline, CLAUDE.md r5)
        .persist()
    )
    # r13-opt: the per-row PQ code depends only on the row's own
    # embedding + the codebook, so encode-then-filter == filter-then-
    # encode — ride the SHARED memoized full-table code frame
    # (the pq_best memo, the x2_pq_codes substrate) and semi-restrict it
    # to the probed ids, instead of re-running the broadcast-codebook
    # encode over the pruned subset per call. This also matches the
    # at-scale serve path more closely (codes are PRE-encoded at
    # ingest; the serve query only reads the probed partitions' codes).
    based = _pq_best_frame(spark, sf_dir, books).join(
        pruned.select("vec_id", "cluster"), "vec_id"
    )
    adc = _adc_expr(q, books)
    return (
        based.select(
            "vec_id", F.col("cluster").cast("int").alias("cluster"),
            adc.alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


QUERIES = {
    "x2_pq_codes": x2_pq_codes,
    "x2_pq_topk": x2_pq_topk,
    "x2_ivf_pq_topk": x2_ivf_pq_topk,
    "x2_random_projection": x2_random_projection,
    "x2_mmr_rerank": x2_mmr_rerank,
    "x2_ann_recall": x2_ann_recall,
    "x2_knn_join": x2_knn_join,
    "x2_cosine_topk": x2_cosine_topk,
    "x2_label_centroid_sim": x2_label_centroid_sim,
    "x2_lsh_bucket_topk": x2_lsh_bucket_topk,
    "x2_lsh_similar_pairs": x2_lsh_similar_pairs,
    "x2_ivf_topk": x2_ivf_topk,
    "x2_hybrid_search": x2_hybrid_search,
}

_CENTROID_DUCK = """
    WITH pos AS (
        SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
               CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ), expanded AS (
        SELECT label, pos, emb[pos] AS v FROM pos
    ), label_means AS (
        SELECT label, pos, avg(v) AS mv FROM expanded GROUP BY label, pos
    ), global_means AS (
        SELECT pos, avg(v) AS mv FROM expanded GROUP BY pos
    ), dots AS (
        SELECT l.label,
               sum(l.mv * g.mv) AS dot,
               sqrt(sum(l.mv * l.mv)) AS nl,
               sqrt(sum(g.mv * g.mv)) AS ng
        FROM label_means l JOIN global_means g USING (pos)
        GROUP BY l.label
    )
    SELECT label, round(dot / (nl * ng), 6) AS centroid_cos FROM dots
"""

ORACLES = {
    # same deterministic quantizer recipe as the x1_semantic_dedup oracle:
    # first-16-by-id centroids, every cosine rounded to 6 dp before any
    # ordering, ties to higher cid (probe pick + argmax) / lower vec_id
    # (final ranking)
    "x2_ivf_topk": """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM e WHERE vec_id < 16
        ), q AS (
            SELECT v AS qv FROM e WHERE vec_id = 0
        ), probe AS (
            SELECT c.cid FROM c, q
            ORDER BY round(coalesce(list_cosine_similarity(c.cv, q.qv), -2.0), 6) DESC,
                     c.cid DESC
            LIMIT 4
        ), a AS (
            SELECT e.vec_id, e.v, c.cid,
                   round(coalesce(list_cosine_similarity(e.v, c.cv), -2.0), 6) AS cos
            FROM e CROSS JOIN c
        ), asn AS (
            SELECT vec_id, v, cid AS cluster FROM a
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, cid DESC) = 1
        )
        SELECT asn.vec_id,
               round(list_cosine_similarity(asn.v, q.qv), 6) AS cos_sim
        FROM asn, probe, q
        WHERE asn.cluster = probe.cid
        ORDER BY cos_sim DESC, asn.vec_id
        LIMIT 10
    """,
    "x2_knn_join": """
        WITH q AS (
            SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 8
        ), c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id >= 8
        ), s AS (
            SELECT q_id, vec_id,
                   round(list_cosine_similarity(e, qe), 6) AS cos_sim
            FROM c CROSS JOIN q
        )
        SELECT q_id, vec_id, cos_sim, rn FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC
            ) AS BIGINT) AS rn FROM s
        ) WHERE rn <= 5
    """,
    "x2_label_centroid_sim": _CENTROID_DUCK,
    "x2_cosine_topk": """
        SELECT vec_id, label,
               round(list_cosine_similarity(
                   CAST(embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)),
                   6) AS cos_sim
        FROM embeddings
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    """,
    # x2_lsh_* oracles appended below (plane-literal signatures)
}

ORACLES["x2_hybrid_search"] = f"""
    WITH qt AS (
        SELECT list_distinct(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS t
        FROM documents WHERE doc_id = 0
    ), lex_scored AS (
        SELECT d.doc_id,
               CAST(len(list_intersect(d.toks, qt.t)) AS INT) AS lex_score
        FROM (
            SELECT doc_id,
                   list_distinct(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS toks
            FROM documents WHERE doc_id >= 1
        ) d CROSS JOIN qt
    ), lex AS (
        SELECT doc_id, lex_score,
               CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id ASC) AS BIGINT) AS lex_rank
        FROM lex_scored
        QUALIFY lex_rank <= {HYBRID_POOL}
    ), vec_scored AS (
        SELECT vec_id AS doc_id,
               round(list_cosine_similarity(
                   CAST(embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos_sim
        FROM embeddings WHERE vec_id >= 1
    ), vec AS (
        SELECT doc_id, cos_sim,
               CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT) AS vec_rank
        FROM vec_scored
        QUALIFY vec_rank <= {HYBRID_POOL}
    )
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           l.lex_rank AS lex_rank,
           v.vec_rank AS vec_rank,
           round(COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0)
                 + COALESCE(1.0 / ({RRF_K} + v.vec_rank), 0), 6) AS rrf_score
    FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT 10
"""
ORACLES["x2_mmr_rerank"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
        SELECT v AS qv FROM e WHERE vec_id = 0
    ), pool AS (
        SELECT e.vec_id, e.v,
               round(list_cosine_similarity(e.v, q.qv), 6) AS relevance
        FROM e, q WHERE e.vec_id >= 1
        ORDER BY relevance DESC, e.vec_id LIMIT 20
    ), sims AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               round(coalesce(list_cosine_similarity(a.v, b.v), 0.0), 6) AS s
        FROM pool a, pool b WHERE a.vec_id <> b.vec_id
    ), s1 AS (
        SELECT p.vec_id, p.relevance FROM pool p
        ORDER BY round(0.7 * p.relevance, 6) DESC, p.vec_id LIMIT 1
    ), s2 AS (
        SELECT p.vec_id, p.relevance FROM pool p, s1
        WHERE p.vec_id NOT IN (s1.vec_id)
        ORDER BY round(0.7 * p.relevance - 0.3 * (SELECT s FROM sims WHERE ia = p.vec_id AND ib = s1.vec_id), 6) DESC, p.vec_id
        LIMIT 1
    ), s3 AS (
        SELECT p.vec_id, p.relevance FROM pool p, s1, s2
        WHERE p.vec_id NOT IN (s1.vec_id, s2.vec_id)
        ORDER BY round(0.7 * p.relevance - 0.3 * greatest((SELECT s FROM sims WHERE ia = p.vec_id AND ib = s1.vec_id),
                   (SELECT s FROM sims WHERE ia = p.vec_id AND ib = s2.vec_id)), 6) DESC, p.vec_id
        LIMIT 1
    ), s4 AS (
        SELECT p.vec_id, p.relevance FROM pool p, s1, s2, s3
        WHERE p.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id)
        ORDER BY round(0.7 * p.relevance - 0.3 * greatest((SELECT s FROM sims WHERE ia = p.vec_id AND ib = s1.vec_id),
                   (SELECT s FROM sims WHERE ia = p.vec_id AND ib = s2.vec_id),
                   (SELECT s FROM sims WHERE ia = p.vec_id AND ib = s3.vec_id)), 6) DESC, p.vec_id
        LIMIT 1
    ), s5 AS (
        SELECT p.vec_id, p.relevance FROM pool p, s1, s2, s3, s4
        WHERE p.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id, s4.vec_id)
        ORDER BY round(0.7 * p.relevance - 0.3 * greatest((SELECT s FROM sims WHERE ia = p.vec_id AND ib = s1.vec_id),
                   (SELECT s FROM sims WHERE ia = p.vec_id AND ib = s2.vec_id),
                   (SELECT s FROM sims WHERE ia = p.vec_id AND ib = s3.vec_id),
                   (SELECT s FROM sims WHERE ia = p.vec_id AND ib = s4.vec_id)), 6) DESC, p.vec_id
        LIMIT 1
    )
    SELECT vec_id, relevance, CAST(1 AS INTEGER) AS mmr_rank FROM s1
    UNION ALL
    SELECT vec_id, relevance, CAST(2 AS INTEGER) AS mmr_rank FROM s2
    UNION ALL
    SELECT vec_id, relevance, CAST(3 AS INTEGER) AS mmr_rank FROM s3
    UNION ALL
    SELECT vec_id, relevance, CAST(4 AS INTEGER) AS mmr_rank FROM s4
    UNION ALL
    SELECT vec_id, relevance, CAST(5 AS INTEGER) AS mmr_rank FROM s5
"""


# --- LSH oracles (round 4): the hyperplanes are deterministic Python
# doubles (splitmix mix, no RNG state), so they inline as literals into
# DuckDB SQL and the signatures are reproducible engine-side. Sign
# thresholds are ulp-robust (|dot| ~ O(1) for these planes; a flip would
# need |dot| within float round-off of zero), and the ranked cosine is the
# same rounded list_cosine_similarity recipe as every other vector oracle.


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"


def _sig_sql(vcol: str, planes: list[list[float]]) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_inner_product({vcol}, {_plane_sql(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({terms})"


_TOPK_PLANES = hyperplanes(N_PLANES_TOPK)
_PROBE_COND = " OR ".join(
    ["s.sig = q.qsig"]
    + [f"s.sig = xor(q.qsig, {1 << i})" for i in range(N_PLANES_TOPK)]
)
ORACLES["x2_lsh_bucket_topk"] = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
        SELECT v AS qv, {_sig_sql("v", _TOPK_PLANES)} AS qsig
        FROM e WHERE vec_id = 0
    ), s AS (
        SELECT vec_id, v, {_sig_sql("v", _TOPK_PLANES)} AS sig FROM e
    )
    SELECT s.vec_id, round(list_cosine_similarity(s.v, q.qv), 6) AS cos_sim
    FROM s, q
    WHERE {_PROBE_COND}
    ORDER BY cos_sim DESC, s.vec_id
    LIMIT 10
"""

_PAIR_PLANES = hyperplanes()
ORACLES["x2_lsh_similar_pairs"] = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), s AS (
        SELECT vec_id, v, {_sig_sql("v", _PAIR_PLANES)} AS sig FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
"""

# recall@10 oracle (defined AFTER the LSH oracle it nests): each method's
# oracle SQL nested as a derived table, overlap counted — checks the
# measurement, not just the inputs
# x2_ann_recall's oracle is assembled at the END of this module: since
# round 6 it nests the GENERATED Lloyd-refined-IVF oracle
# (_ivf_kmeans_oracle_sql, defined below) alongside the ivf/lsh ones.


def _rp_oracle_sql() -> str:
    """The projection oracle is GENERATED from the same Python formula the
    Spark plan unrolls, so the two sides cannot drift: identical term
    order (left-associated sum), identical sparsity mask, identical scale
    literal."""
    scale = (3.0 / RP_OUT_DIM) ** 0.5
    cols = []
    for j in range(RP_OUT_DIM):
        terms = []
        for i in range(RP_IN_DIM):
            e = _achlioptas_entry(i, j)
            if e == 0:
                continue
            sign = "-" if e < 0 else ("+" if terms else "")
            terms.append(f"{sign} v[{i + 1}]" if terms or e < 0 else f"v[{i + 1}]")
        expr = " ".join(terms) if terms else "CAST(0 AS DOUBLE)"
        cols.append(f"({expr}) * CAST({scale!r} AS DOUBLE) AS p{j}")
    cols_sql = ",\n           ".join(cols)
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT vec_id,
           {cols_sql}
        FROM e
    """


ORACLES["x2_random_projection"] = _rp_oracle_sql()


def _pq_codes_oracle_sql() -> str:
    """GENERATED oracle for the PQ encode: codebooks self-derive from the
    first PQ_K embeddings (CAST float->double is exact, so they equal the
    Spark side's collected literals); every subspace distance unrolls in
    the same left-associated term order; per-subspace argmin via
    row_number(ORDER BY d, k) = the struct-min's smaller-code tie rule."""
    d_cols = []
    for m in range(PQ_M):
        terms = " + ".join(
            f"(e.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            f" * (e.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            for i in range(PQ_DSUB)
        )
        d_cols.append(f"round({terms}, 6) AS d{m}")
    d_sql = ",\n                   ".join(d_cols)
    bm_ctes = ",\n        ".join(
        f"""bm{m} AS (
            SELECT vec_id, k AS c{m}, d{m} AS e{m}
            FROM d
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d{m}, k) = 1
        )"""
        for m in range(PQ_M)
    )
    joins = " ".join(f"JOIN bm{m} USING (vec_id)" for m in range(1, PQ_M))
    qerr = " + ".join(f"e{m}" for m in range(PQ_M))
    cs = ", ".join(f"CAST(c{m} AS INT) AS c{m}" for m in range(PQ_M))
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), cb AS (
            SELECT vec_id AS k, v FROM e WHERE vec_id < {PQ_K}
        ), d AS (
            SELECT e.vec_id, cb.k,
                   {d_sql}
            FROM e CROSS JOIN cb
        ),
        {bm_ctes}
        SELECT vec_id, {cs}, {qerr} AS qerr
        FROM bm0 {joins}
    """


def _pq_topk_oracle_sql() -> str:
    """ADC oracle: reuses the encode CTEs, adds the query-to-codebook
    distance table (same unrolled term order against the vec_id=0 row)
    and one 16-row join per subspace for the lookups."""
    codes = _pq_codes_oracle_sql()
    # strip the final SELECT; rebuild with the ADC lookups
    prefix = codes[: codes.rindex("SELECT vec_id,")]
    qd_cols = []
    for m in range(PQ_M):
        terms = " + ".join(
            f"(q.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            f" * (q.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            for i in range(PQ_DSUB)
        )
        qd_cols.append(f"round({terms}, 6) AS qd{m}")
    qd_sql = ",\n                   ".join(qd_cols)
    lookups = " ".join(
        f"JOIN qd j{m} ON bm{m}.c{m} = j{m}.k" for m in range(PQ_M)
    )
    adc = " + ".join(f"j{m}.qd{m}" for m in range(PQ_M))
    joins = " ".join(f"JOIN bm{m} USING (vec_id)" for m in range(1, PQ_M))
    return f"""{prefix.rstrip()}, q AS (
            SELECT v FROM e WHERE vec_id = 0
        ), qd AS (
            SELECT cb.k,
                   {qd_sql}
            FROM cb CROSS JOIN q
        )
        SELECT vec_id, {adc} AS adc_dist
        FROM bm0 {joins} {lookups}
        WHERE vec_id >= 1
        ORDER BY adc_dist ASC, vec_id ASC
        LIMIT 10
    """


ORACLES["x2_pq_codes"] = _pq_codes_oracle_sql()
ORACLES["x2_pq_topk"] = _pq_topk_oracle_sql()


def _ivf_pq_topk_oracle_sql() -> str:
    """GENERATED IVFADC oracle: the x2_ivf_topk assignment/probe CTEs
    (first-16 centroids, 6-dp-rounded cosines, higher-cid ties) prune the
    corpus, then the x2_pq_topk encode + ADC-lookup CTEs rank the pruned
    set — the same unrolled term order and ORDER BY d, k argmin tie rule
    as the component oracles, composed."""
    d_cols, qd_cols = [], []
    for m in range(PQ_M):
        terms = " + ".join(
            f"(f.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            f" * (f.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            for i in range(PQ_DSUB)
        )
        d_cols.append(f"round({terms}, 6) AS d{m}")
        qterms = " + ".join(
            f"(q.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            f" * (q.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            for i in range(PQ_DSUB)
        )
        qd_cols.append(f"round({qterms}, 6) AS qd{m}")
    d_sql = ",\n                   ".join(d_cols)
    qd_sql = ",\n                   ".join(qd_cols)
    bm_ctes = ",\n        ".join(
        f"""bm{m} AS (
            SELECT vec_id, k AS c{m}
            FROM d
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d{m}, k) = 1
        )"""
        for m in range(PQ_M)
    )
    joins = " ".join(f"JOIN bm{m} USING (vec_id)" for m in range(PQ_M))
    lookups = " ".join(
        f"JOIN qd j{m} ON bm{m}.c{m} = j{m}.k" for m in range(PQ_M)
    )
    adc = " + ".join(f"j{m}.qd{m}" for m in range(PQ_M))
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM e WHERE vec_id < {N_CENTROIDS}
        ), q AS (
            SELECT v FROM e WHERE vec_id = 0
        ), probe AS (
            SELECT c.cid FROM c, q
            ORDER BY round(coalesce(list_cosine_similarity(c.cv, q.v), -2.0), 6) DESC,
                     c.cid DESC
            LIMIT {N_PROBE}
        ), a AS (
            SELECT e.vec_id, e.v, c.cid,
                   round(coalesce(list_cosine_similarity(e.v, c.cv), -2.0), 6) AS cos
            FROM e CROSS JOIN c
        ), asn AS (
            SELECT vec_id, v, cid AS cluster FROM a
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, cid DESC) = 1
        ), f AS (
            SELECT asn.vec_id, asn.v, asn.cluster
            FROM asn JOIN probe ON asn.cluster = probe.cid
            WHERE asn.vec_id >= 1
        ), cb AS (
            SELECT vec_id AS k, v FROM e WHERE vec_id < {PQ_K}
        ), d AS (
            SELECT f.vec_id, cb.k,
                   {d_sql}
            FROM f CROSS JOIN cb
        ),
        {bm_ctes},
        qd AS (
            SELECT cb.k,
                   {qd_sql}
            FROM cb CROSS JOIN q
        )
        SELECT f.vec_id, CAST(f.cluster AS INT) AS cluster, {adc} AS adc_dist
        FROM f {joins} {lookups}
        ORDER BY adc_dist ASC, f.vec_id ASC
        LIMIT 10
    """


ORACLES["x2_ivf_pq_topk"] = _ivf_pq_topk_oracle_sql()


def _ivf_kmeans_oracle_sql(k: int = N_CENTROIDS, dim: int = 64,
                           rounds: int = LLOYD_ROUNDS,
                           n_probe: int = N_PROBE) -> str:
    """GENERATED Lloyd-refined-IVF oracle: the fixed round count unrolls
    into chained CTE blocks (the x8_pagerank discipline), each block =
    rounded-cosine argmax assignment (QUALIFY row_number, ties to higher
    cid) + 6-dp-rounded per-(cluster, pos) means — exactly the arithmetic
    `lloyd_refined_centroids` runs, then the shared x2_ivf_topk probe/
    top-10 recipe over the refined (compactly relabeled) centroids."""
    blocks = []
    prev = "c0"
    for r in range(1, rounds + 1):
        blocks.append(f"""a{r} AS (
            SELECT e.vec_id, {prev}.cid,
                   round(coalesce(list_cosine_similarity(e.v, {prev}.cv),
                                  CAST(-2.0 AS DOUBLE)), 6) AS cos
            FROM e CROSS JOIN {prev}
        ), asn{r} AS (
            SELECT vec_id, cid AS cluster FROM a{r}
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, cid DESC) = 1
        ), m{r} AS (
            SELECT asn{r}.cluster, u.i, round(avg(e.v[u.i]), 6) AS mv
            FROM asn{r} JOIN e USING (vec_id),
                 unnest(range(1, {dim + 1})) AS u(i)
            GROUP BY asn{r}.cluster, u.i
        ), c{r} AS (
            SELECT cluster AS cid, list(mv ORDER BY i) AS cv
            FROM m{r} GROUP BY cluster
        )""")
        prev = f"c{r}"
    chain = ", ".join(blocks)
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM e WHERE vec_id < {k}
        ), {chain}, cf AS (
            SELECT row_number() OVER (ORDER BY cid) - 1 AS cid, cv
            FROM {prev}
        ), q AS (
            SELECT v AS qv FROM e WHERE vec_id = 0
        ), probe AS (
            SELECT cf.cid FROM cf, q
            ORDER BY round(coalesce(list_cosine_similarity(cf.cv, q.qv),
                                    CAST(-2.0 AS DOUBLE)), 6) DESC,
                     cf.cid DESC
            LIMIT {n_probe}
        ), af AS (
            SELECT e.vec_id, e.v, cf.cid,
                   round(coalesce(list_cosine_similarity(e.v, cf.cv),
                                  CAST(-2.0 AS DOUBLE)), 6) AS cos
            FROM e CROSS JOIN cf
        ), asnf AS (
            SELECT vec_id, v, cid AS cluster FROM af
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, cid DESC) = 1
        )
        SELECT asnf.vec_id,
               round(list_cosine_similarity(asnf.v, q.qv), 6) AS cos_sim
        FROM asnf, probe, q
        WHERE asnf.cluster = probe.cid
        ORDER BY cos_sim DESC, asnf.vec_id
        LIMIT 10
    """


QUERIES["x2_ivf_kmeans_topk"] = x2_ivf_kmeans_topk
ORACLES["x2_ivf_kmeans_topk"] = _ivf_kmeans_oracle_sql()

# recall eval: every approximate method joined against the brute-force
# top-10, each side's SQL nested as a derived table so the recall NUMBERS
# are engine-checked, not just the inputs (three methods since round 6)
ORACLES["x2_ann_recall"] = f"""
    SELECT 'ivf' AS method,
           CAST(10 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           count(*) / CAST(10.0 AS DOUBLE) AS recall
    FROM ({ORACLES["x2_cosine_topk"]}) exact
    JOIN ({ORACLES["x2_ivf_topk"]}) approx USING (vec_id)
    UNION ALL
    SELECT 'ivf_kmeans',
           CAST(10 AS BIGINT),
           CAST(count(*) AS BIGINT),
           count(*) / CAST(10.0 AS DOUBLE)
    FROM ({ORACLES["x2_cosine_topk"]}) exact
    JOIN ({ORACLES["x2_ivf_kmeans_topk"]}) approx USING (vec_id)
    UNION ALL
    SELECT 'lsh',
           CAST(10 AS BIGINT),
           CAST(count(*) AS BIGINT),
           count(*) / CAST(10.0 AS DOUBLE)
    FROM ({ORACLES["x2_cosine_topk"]}) exact
    JOIN ({ORACLES["x2_lsh_bucket_topk"]}) approx USING (vec_id)
"""


def _mrl_recall_oracle_sql() -> str:
    """GENERATED truncation-recall oracle: full-dim exact top-10 joined
    against each prefix-sliced top-10, one UNION ALL branch per MRL dim."""
    branches = []
    for dims in MRL_DIMS:
        branches.append(f"""
    SELECT 'mrl{dims}' AS method,
           CAST(10 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           count(*) / CAST(10.0 AS DOUBLE) AS recall
    FROM ({ORACLES["x2_cosine_topk"]}) exact
    JOIN (
        SELECT vec_id,
               round(list_cosine_similarity(
                   CAST(embedding AS DOUBLE[])[1:{dims}],
                   (SELECT CAST(embedding AS DOUBLE[])[1:{dims}]
                    FROM embeddings WHERE vec_id = 0)), 6) AS cos_sim
        FROM embeddings
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    ) approx USING (vec_id)""")
    return "\n    UNION ALL\n".join(branches)


QUERIES["x2_mrl_recall"] = x2_mrl_recall
ORACLES["x2_mrl_recall"] = _mrl_recall_oracle_sql()


def x2_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health datasheet — the one-row audit run before
    trusting a vector column at scale: L2-norm mean/spread (un-normalized
    or truncated embeddings surface here first) and the ANISOTROPY signal
    ||mean vector|| / mean ||vector|| — ~0 for a well-spread space, -> 1
    when embeddings collapse toward a common direction (the classic
    "representation collapse / rogue dimension" failure that silently
    ruins cosine retrieval).

    Shape: one codegen'd fold per row for the norms (no shuffle), one
    positional avg for the centroid (rows x dim, map-side combined), and
    the centroid norm collapses to a driver literal (the
    x2_label_centroid_sim ScalarSubquery pattern — no 1-row BNLJ).
    Everything is algebraic; the ratio is rounded 6 dp, raw moments ship
    unrounded under the 9-sig-digit verifier normalization."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    stats = emb.select(nrm.alias("nrm")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.avg("nrm").alias("avg_norm"),
        F.stddev_samp("nrm").alias("sd_norm"),
    )
    cent = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg("x").alias("mv"))
        .agg(F.sqrt(F.sum(F.col("mv") * F.col("mv"))).alias("c"))
        .first()  # bounded: one scalar (ScalarSubquery pattern)
    )
    # degenerate guard: an empty vector table gives a NULL centroid norm
    # (and the n_vectors > 0 filter below makes Spark's always-one-row
    # global aggregate match the oracle's zero-row GROUP BY)
    c = float(cent["c"]) if cent is not None and cent["c"] is not None else None
    return stats.filter(F.col("n_vectors") > 0).select(
        "n_vectors",
        "avg_norm",
        "sd_norm",
        F.lit(c).cast("double").alias("centroid_norm"),
        F.round(F.lit(c).cast("double") / F.col("avg_norm"), 6).alias("anisotropy"),
    )


QUERIES["x2_embedding_profile"] = x2_embedding_profile
ORACLES["x2_embedding_profile"] = """
    WITH e AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), norms AS (
        SELECT sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    ), cent AS (
        SELECT u.i AS pos, avg(v[u.i]) AS mv
        FROM e, unnest(range(1, 65)) AS u(i)
        GROUP BY u.i
    ), cn AS (
        SELECT sqrt(sum(mv * mv)) AS c FROM cent
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           avg(nrm) AS avg_norm,
           stddev_samp(nrm) AS sd_norm,
           cn.c AS centroid_norm,
           round(cn.c / avg(nrm), 6) AS anisotropy
    FROM norms CROSS JOIN cn
    GROUP BY cn.c
"""


KCENTER_K = 8


def x2_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy (farthest-point traversal, Gonzalez 1985) diverse
    subset selection — the core-set picker for training-data selection and
    active learning (Sener & Savarese, ICLR'18): starting from the lowest
    vec_id, repeatedly add the point FARTHEST (max-min cosine distance)
    from everything selected so far. The selected k points 2-approximate
    the optimal k-center cover, i.e. they are the maximally-diverse probe
    set of the embedding space.

    Distributed shape: k-1 bounded rounds; each round is ONE pass
    computing the NEW cosine distance to the latest pick and folding it
    into a PERSISTED running-min column (the at-rest form, r14-opt), then
    a TakeOrdered(1) argmax — a 1-row bounded collect per round (the
    allowlisted scalar/centroid class; k = 8 rows total cross the
    driver). No pairwise matrix, no shuffle at all: the argmax is
    per-partition top-1 + driver merge. Round r reads round r-1's cached
    (vec_id, v, mind) — one literal cosine per row per round (O(k) corpus
    folds total) instead of the former stateless lazy lineage that
    re-scanned parquet and re-folded all r-1 cosines per round (O(k^2));
    each round's frame is unpersisted once its successor materializes, so
    no state survives the call. At 100 TB the persisted frame is the
    corpus + 8 bytes/row — the price of not re-reading the corpus k
    times.

    Determinism + oracle: every per-center distance is round(1 - cos, 6)
    with -2.0 null-cosine sentinel (dist 3.0 — zero vectors sort "far" but
    deterministically); argmax ties break to the LOWEST vec_id; the greedy
    unrolls into k-1 chained CTE blocks in DuckDB (the x2_mmr_rerank
    discipline), each cross-joining the 1-row previous picks. Output:
    (sel_rank, vec_id, coverage_dist) where coverage_dist is the point's
    min-distance at selection time (NULL for the seed) — the decreasing
    coverage radii every k-center audit reads."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seed = emb.orderBy("vec_id").limit(1).collect()[0]  # bounded: 1 row
    picks: list[tuple[int, list[float], float | None]] = [
        (int(seed["vec_id"]), [float(x) for x in seed["v"]], None)
    ]
    # r14-opt (the docstring's at-rest form, r13 verdict ask #6): persist
    # the running-min frame each round, so round r's argmax job computes
    # ONE new literal cosine over the PREVIOUS round's cached
    # (vec_id, v, mind) instead of re-scanning parquet and re-folding all
    # r-1 cosines (the lazy-lineage form did O(k^2) corpus folds across
    # the k-1 jobs; this does O(k)). least() over the identical
    # round(.,6) per-center distances is exact, so the picks are
    # bit-for-bit the lazy form's (pinned in tests/test_round14_opt.py).
    # Each round's frame is unpersisted as soon as its successor is
    # materialized — nothing survives the call, so this is per-call
    # state, not a cross-call memo (the kcenter result-caching line
    # stays uncrossed).
    cur = emb
    prev: DataFrame | None = None
    for r in range(2, KCENTER_K + 1):
        last_id, last_vec, _ = picks[-1]
        d = F.round(
            F.lit(1.0)
            - F.coalesce(
                cosine_similarity(F.col("v"), _lit_vec(last_vec)), F.lit(-2.0)
            ),
            6,
        )
        cur = cur.filter(F.col("vec_id") != last_id).withColumn(
            "mind", d if r == 2 else F.least(F.col("mind"), d)
        ).persist()
        # bounded: TakeOrdered(1) argmax, one row per round — this job
        # also materializes `cur` (orderBy+limit evaluates every
        # partition), so the persist costs no extra action
        top = cur.orderBy(F.col("mind").desc(), F.col("vec_id").asc()).limit(1).collect()[0]
        if prev is not None:
            prev.unpersist()
        prev = cur
        picks.append(
            (int(top["vec_id"]), [float(x) for x in top["v"]], float(top["mind"]))
        )
    if prev is not None:
        prev.unpersist()
    return spark.createDataFrame(
        [(i + 1, p[0], p[2]) for i, p in enumerate(picks)],
        "sel_rank: long, vec_id: long, coverage_dist: double",
    )


def _kcenter_oracle_sql(k: int = KCENTER_K) -> str:
    """Unrolled greedy: pick CTE p1 is the seed; candidate CTE c_r carries
    every remaining vector with its running min-distance; p_r is the
    argmax row. Mirrors the Spark loop's round-then-least fold exactly."""
    dist = ("round(1 - coalesce(list_cosine_similarity(e.v, p{prev}.v),"
            " -2.0), 6)")
    parts = [
        "p1 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings ORDER BY vec_id LIMIT 1)",
        "c2 AS (SELECT e.vec_id, e.v, "
        + dist.format(prev=1)
        + " AS mind FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings) e, p1 WHERE e.vec_id <> p1.vec_id)",
        "p2 AS (SELECT vec_id, v, mind FROM c2"
        " ORDER BY mind DESC, vec_id LIMIT 1)",
    ]
    for r in range(3, k + 1):
        parts.append(
            f"c{r} AS (SELECT e.vec_id, e.v, least(e.mind, "
            + dist.format(prev=r - 1)
            + f") AS mind FROM c{r - 1} e, p{r - 1}"
            f" WHERE e.vec_id <> p{r - 1}.vec_id)"
        )
        parts.append(
            f"p{r} AS (SELECT vec_id, v, mind FROM c{r}"
            " ORDER BY mind DESC, vec_id LIMIT 1)"
        )
    selects = ["SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,"
               " CAST(NULL AS DOUBLE) AS coverage_dist FROM p1"]
    for r in range(2, k + 1):
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS sel_rank, vec_id,"
            f" mind AS coverage_dist FROM p{r}"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


QUERIES["x2_kcenter_select"] = x2_kcenter_select
ORACLES["x2_kcenter_select"] = _kcenter_oracle_sql()


# ---------------------------------------------------------------------------
# X2 — SQ8: per-dimension scalar-quantized search
# ---------------------------------------------------------------------------

SQ_LEVELS = 256  # 8-bit codes


def x2_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension 8-bit scalar quantization search (the SQ8 index of
    FAISS/Milvus): train a uniform quantizer per dimension (min/max over
    the corpus), encode every vector as 64 uint8 codes (16x smaller than
    float64), and rank candidates by INTEGER squared distance between
    code vectors — reported against the exact cosine top-10 so the
    compression/recall trade is measured, not asserted.

    Integer ranking is the point: code-space distances are exact 64-bit
    arithmetic, so ordering needs no float rounding discipline at all and
    the oracle compare is hash-exact (contrast the 6-dp-rounded cosine
    queries). The quantizer trains in ONE pass (a dim-keyed min/max
    aggregate, 64 rows collected — the bounded ScalarSubquery pattern)
    and encoding+scan run as pure codegen; top-10 is a
    TakeOrderedAndProject. At 100 TB: train once, broadcast 2*64 doubles,
    scan codes — the same shape as the PQ family one shelf over.

    Per result row: vec_id, its integer code distance to the query's
    codes, and whether it appears in the exact cosine top-10
    (sum(in_exact10) / 10 = recall@10)."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    stats = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .orderBy("pos")
        .collect()
    )  # bounded: one row per dimension (64)
    mn = [float(r["mn"]) for r in stats]
    mx = [float(r["mx"]) for r in stats]
    mn_l, mx_l = _lit_vec(mn), _lit_vec(mx)

    def codes(vec_col):
        v = F.transform(vec_col, lambda x: x.cast("double"))
        z1 = F.zip_with(
            v, mn_l, lambda x, m: F.struct(x.alias("x"), m.alias("m"))
        )
        return F.zip_with(
            z1,
            mx_l,
            lambda s, big: F.when(
                big > s["m"],
                F.least(
                    F.greatest(
                        F.floor(
                            (s["x"] - s["m"]) / ((big - s["m"]) / F.lit(256.0))
                        ),
                        F.lit(0).cast("long"),
                    ),
                    F.lit(255).cast("long"),
                ),
            ).otherwise(F.lit(0).cast("long")),
        )

    q = _query_vector(spark, sf_dir, 0)
    # query codes fold driver-side with the IDENTICAL expression order the
    # engines use: floor((x-mn)/((mx-mn)/256)), clamped — IEEE-identical
    qc = [
        (
            min(max(math.floor((x - m) / ((big - m) / 256.0)), 0), 255)
            if big > m
            else 0
        )
        for x, m, big in zip(q, mn, mx)
    ]
    qc_l = F.lit([int(c) for c in qc])

    dist = F.aggregate(
        F.zip_with(codes(F.col("embedding")), qc_l, lambda c, t: (c - t) * (c - t)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    top = (
        emb.select("vec_id", dist.alias("code_dist"))
        .orderBy(F.col("code_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    qcol = _lit_vec(q)
    exact = (
        emb.select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), qcol), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    return top.join(F.broadcast(exact), "vec_id", "left").select(
        "vec_id",
        "code_dist",
        F.coalesce("hit", F.lit(0)).cast("long").alias("in_exact10"),
    )


QUERIES["x2_sq8_topk"] = x2_sq8_topk

ORACLES["x2_sq8_topk"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ex AS (
        SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e
    ), st AS (
        SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i
    ), codes AS (
        SELECT ex.vec_id, ex.i,
               CASE WHEN st.mx > st.mn
                    THEN CAST(least(greatest(floor(
                        (ex.x - st.mn) / ((st.mx - st.mn) / CAST(256 AS DOUBLE))
                    ), 0), 255) AS BIGINT)
                    ELSE 0 END AS c
        FROM ex JOIN st USING (i)
    ), qc AS (
        SELECT i, c AS t FROM codes WHERE vec_id = 0
    ), d AS (
        SELECT codes.vec_id,
               CAST(sum((codes.c - qc.t) * (codes.c - qc.t)) AS BIGINT)
                   AS code_dist
        FROM codes JOIN qc USING (i)
        GROUP BY codes.vec_id
    ), top AS (
        SELECT vec_id, code_dist FROM d
        ORDER BY code_dist ASC, vec_id ASC LIMIT 10
    ), exact AS (
        SELECT vec_id FROM (
            SELECT vec_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[])
                        FROM embeddings WHERE vec_id = 0)), 6) AS cos_sim
            FROM embeddings
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        )
    )
    SELECT t.vec_id, t.code_dist,
           CAST(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS in_exact10
    FROM top t LEFT JOIN exact x USING (vec_id)
"""


# ---------------------------------------------------------------------------
# X2 — cluster-quality metrics over the Lloyd-refined clustering
# ---------------------------------------------------------------------------


def x2_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report for the Lloyd-refined k-means clustering —
    the index-health check an IVF/SemDeDup deployment runs after (re)training
    its quantizer: per cluster, member count, COHESION (mean assignment
    cosine of members to their centroid), the nearest OTHER centroid and
    its similarity (SEPARATION), and the cohesion-separation margin — a
    cluster whose margin approaches 0 is indistinct from its neighbor and
    a candidate for re-training or merging (the silhouette intuition,
    computed centroid-to-centroid so it stays O(n*k + k^2), never the
    O(n^2) full silhouette).

    Reuses the SESSION-MEMOIZED quantizer (`lloyd_refined_centroids`)
    — training is not repeated; this query costs one
    bounded k-row broadcast assignment pass + a k x k centroid table
    cross join (16 x 16 — driver-trivial at any corpus scale). The oracle
    replays the full fixed-round Lloyd chain (the x2_ivf_kmeans_topk CTE
    discipline) and re-derives the same report."""
    import math as _math

    from pyspark.sql.window import Window

    from swiftbulkuploader_spark.functions.vectors import (
        dot_product_unrolled,
        l2_norm_unrolled,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = lloyd_refined_centroids(emb)
    dim = len(cents[0])
    # r13-opt (guide §1.2 step 2 / the round-4 interpreted-HOF lesson):
    # the n x k assignment pass scored with the HOF cosine — an
    # interpreted per-element lambda fold, outside whole-stage codegen.
    # Switched to the unrolled-dot + precomputed-norm broadcast template
    # (the x1_semantic_dedup recipe — bit-identical to the HOF fold:
    # same sequential term order, Python sqrt == l2_norm's fold), so the
    # per-row scoring whole-stage-codegens. The bounded k x k separation
    # matrix below keeps the HOF form (256 rows, not a hot path).
    cnorms = [_math.sqrt(sum(float(x) * float(x) for x in c)) for c in cents]
    cdf = spark.createDataFrame(
        [(i, list(c), cn) for i, (c, cn) in enumerate(zip(cents, cnorms))],
        "cid int, cv array<double>, cn double",
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = l2_norm_unrolled("v", dim)
    sc = F.struct(
        F.round(
            F.coalesce(
                F.when(
                    F.col("nrm") * F.col("cn") > 0,
                    dot_product_unrolled("v", "cv", dim)
                    / (F.col("nrm") * F.col("cn")),
                ),
                F.lit(-2.0),
            ),
            6,
        ).alias("cos"),
        F.col("cid").alias("cid"),
    )
    asn = (
        vecs.withColumn("nrm", nrm)
        .join(F.broadcast(cdf.select("cid", "cv", "cn")))  # bounded: k=16 rows
        .select("vec_id", sc.alias("sc"))
        .groupBy("vec_id")
        .agg(F.max("sc").alias("m"))
        .select(F.col("m.cid").alias("cid"), F.col("m.cos").alias("cos"))
    )
    intra = asn.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"), F.avg("cos").alias("cohesion")
    )
    other = cdf.select(F.col("cid").alias("ocid"), F.col("cv").alias("ocv"))
    pairs = (
        cdf.crossJoin(F.broadcast(other))  # bounded: k x k centroid matrix
        .filter(F.col("cid") != F.col("ocid"))
        .select(
            "cid",
            "ocid",
            F.round(
                F.coalesce(
                    cosine_similarity(F.col("cv"), F.col("ocv")), F.lit(-2.0)
                ),
                6,
            ).alias("ics"),
        )
    )
    nnw = Window.partitionBy("cid").orderBy(
        F.col("ics").desc(), F.col("ocid").desc()
    )
    nn = (
        pairs.withColumn("rn", F.row_number().over(nnw))
        .filter(F.col("rn") == 1)
        .select("cid", F.col("ocid").alias("nn_cid"), F.col("ics").alias("separation"))
    )
    return intra.join(nn, "cid").select(
        F.col("cid").cast("long").alias("cid"),
        "n_members",
        "cohesion",
        F.col("nn_cid").cast("long").alias("nn_cid"),
        "separation",
        (F.col("cohesion") - F.col("separation")).alias("margin"),
    )


def _cluster_quality_oracle_sql(k: int = N_CENTROIDS, dim: int = 64,
                                rounds: int = LLOYD_ROUNDS) -> str:
    """GENERATED oracle: the same fixed-round Lloyd CTE chain as
    `_ivf_kmeans_oracle_sql` (kept verbatim so the two oracles pin the
    SAME refinement), then final assignments -> per-cluster cohesion and
    a k x k centroid-pair nearest-neighbor separation."""
    blocks = []
    prev = "c0"
    for r in range(1, rounds + 1):
        blocks.append(f"""a{r} AS (
            SELECT e.vec_id, {prev}.cid,
                   round(coalesce(list_cosine_similarity(e.v, {prev}.cv),
                                  CAST(-2.0 AS DOUBLE)), 6) AS cos
            FROM e CROSS JOIN {prev}
        ), asn{r} AS (
            SELECT vec_id, cid AS cluster FROM a{r}
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, cid DESC) = 1
        ), m{r} AS (
            SELECT asn{r}.cluster, u.i, round(avg(e.v[u.i]), 6) AS mv
            FROM asn{r} JOIN e USING (vec_id),
                 unnest(range(1, {dim + 1})) AS u(i)
            GROUP BY asn{r}.cluster, u.i
        ), c{r} AS (
            SELECT cluster AS cid, list(mv ORDER BY i) AS cv
            FROM m{r} GROUP BY cluster
        )""")
        prev = f"c{r}"
    chain = ", ".join(blocks)
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM e WHERE vec_id < {k}
        ), {chain}, cf AS (
            SELECT row_number() OVER (ORDER BY cid) - 1 AS cid, cv
            FROM {prev}
        ), af AS (
            SELECT e.vec_id, cf.cid,
                   round(coalesce(list_cosine_similarity(e.v, cf.cv),
                                  CAST(-2.0 AS DOUBLE)), 6) AS cos
            FROM e CROSS JOIN cf
        ), asnf AS (
            SELECT vec_id, cid, cos FROM af
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, cid DESC) = 1
        ), intra AS (
            SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
                   avg(cos) AS cohesion
            FROM asnf GROUP BY cid
        ), prs AS (
            SELECT a.cid, b.cid AS ocid,
                   round(coalesce(list_cosine_similarity(a.cv, b.cv),
                                  CAST(-2.0 AS DOUBLE)), 6) AS ics
            FROM cf a JOIN cf b ON a.cid <> b.cid
        ), nn AS (
            SELECT cid, ocid AS nn_cid, ics AS separation FROM prs
            QUALIFY row_number() OVER (PARTITION BY cid
                                       ORDER BY ics DESC, ocid DESC) = 1
        )
        SELECT CAST(intra.cid AS BIGINT) AS cid, intra.n_members,
               intra.cohesion, CAST(nn.nn_cid AS BIGINT) AS nn_cid,
               nn.separation, intra.cohesion - nn.separation AS margin
        FROM intra JOIN nn USING (cid)
    """


QUERIES["x2_cluster_quality"] = x2_cluster_quality
ORACLES["x2_cluster_quality"] = _cluster_quality_oracle_sql()


# ---------------------------------------------------------------------------
# X2 — PCA by deterministic power iteration
# ---------------------------------------------------------------------------

PCA_ROUNDS = 2  # fixed budget: the Lloyd/quality-train graduation recipe

def _pca_power(spark: SparkSession, sf_dir: str) -> tuple[list[float], list[float], float, int]:
    """Top principal component of the embedding table by PCA_ROUNDS of
    power iteration on the centered data, without ever materializing the
    covariance matrix: per round one scan computes dot_i = (x_i - mu) . v
    row-locally, and one (pos)-keyed map-side-combined shuffle sums
    w = sum_i (x_i - mu) * dot_i (rows x dim values -> dim rows, the Lloyd
    mean-update shape); v' = round(w / ||w||, 6). mu is engine-rounded to
    6 dp BEFORE centering and every v is engine-rounded per round (the
    F.round-inside-the-engine discipline — Python round() is half-even),
    so both engines iterate on exactly shared vectors and only the final
    unrounded eigenvalue carries summation-order ulps.

    The seed v0 = 1/8 per dimension is exactly representable for dim=64
    (1/sqrt(64)); a general dim would seed with engine-rounded values.

    (mean, loading, ||w||, n) is deterministic per input: a session memo
    shared between the model report and the projector.
    """
    return memo.get(spark, "pca_power", (sf_dir,),
                    lambda: _pca_train(spark, sf_dir))


def _pca_train(spark: SparkSession, sf_dir: str) -> tuple[list[float], list[float], float, int]:
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select(F.col("embedding").cast("array<double>").alias("x"))
    mu_rows = (
        rows.select(F.posexplode("x").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .orderBy("pos")
        .collect()  # bounded: one row per dimension (64)
    )
    mu = [float(r["m"]) for r in mu_rows]
    dim = len(mu)
    v = [0.125] * dim
    norm = 0.0
    n = emb.count()  # bounded: 1 scalar
    cx = F.zip_with(F.col("x"), _lit_vec(mu), lambda a, b: a - b)
    for _ in range(PCA_ROUNDS):
        dot = F.aggregate(
            F.zip_with(cx, _lit_vec(v), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        contrib = rows.select(
            dot.alias("dot"), F.posexplode(cx).alias("pos", "cv")
        )
        wdf = contrib.groupBy("pos").agg(
            F.sum(F.col("cv") * F.col("dot")).alias("w")
        )
        n2 = wdf.agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
        vrows = (
            wdf.crossJoin(n2)  # bounded: dim x 1 rows, collected at build time
            .select(
                "pos",
                F.round(F.col("w") / F.sqrt("n2"), 6).alias("v"),
                F.sqrt("n2").alias("nrm"),
            )
            .orderBy("pos")
            .collect()  # bounded: one row per dimension (64)
        )
        v = [float(r["v"]) for r in vrows]
        norm = float(vrows[0]["nrm"])
    return (mu, v, norm, int(n))


def x2_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained first-principal-component model: one row per dimension
    with the 6-dp data mean, the unit loading vector, and the explained
    variance lambda = ||X_c^T X_c v|| / (n - 1) — the representation-drift
    / whitening primitive (an embedding batch whose top component grows is
    collapsing; projecting it out is the first step of all-but-the-top
    post-processing, Mu & Viswanath ICLR'18).

    Cited scale argument in _pca_power; oracle replays both rounds as
    generated chained MATERIALIZED CTEs (the x8_kcore lesson: each round
    is referenced by the next round AND the final select)."""
    mu, v, norm, n = _pca_power(spark, sf_dir)
    rows = [(d, mu[d], v[d]) for d in range(len(mu))]
    out = spark.createDataFrame(rows, "dim: int, mean: double, loading: double")
    return out.withColumn(
        "eigenvalue", F.lit(norm / float(n - 1))
    )


def x2_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the learned top component (score) and
    report the residual norm sqrt(||x - mu||^2 - score^2) — the per-vector
    'how much does one direction explain me' audit used for outlier
    screening and for the all-but-the-top correction. Reuses the cached
    quantizer (the _pca_power memo), so the projection itself is a pure row-local
    scan: two literal-vector HOF folds per row, zero shuffles. Both
    outputs are rounded to 6 dp on both engines (cross-engine delta
    ~1e-14, five orders inside the margin — the x6_regression_stats
    argument); the residual's cancellation near zero is clamped by
    greatest(0, .)."""
    mu, v, _norm, _n = _pca_power(spark, sf_dir)
    return pca_project_with_basis(spark, sf_dir, mu, v)


def pca_project_with_basis(spark: SparkSession, sf_dir: str,
                           mu: list[float], v: list[float]) -> DataFrame:
    """The x2_pca_project body over an EXPLICIT (mean, loading) basis —
    factored out (round 12, r11 verdict ask #3) so the artifact serve
    path projects with a LOADED basis, never re-running power
    iteration."""
    emb = load_table(spark, sf_dir, "embeddings")
    cx = F.zip_with(
        F.col("embedding").cast("array<double>"), _lit_vec(mu), lambda a, b: a - b
    )
    score = F.aggregate(
        F.zip_with(cx, _lit_vec(v), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    ssq = F.aggregate(
        F.transform(cx, lambda t: t * t), F.lit(0.0), lambda acc, t: acc + t
    )
    return emb.select(
        "vec_id",
        F.round(score, 6).alias("score"),
        F.round(
            F.sqrt(F.greatest(ssq - score * score, F.lit(0.0))), 6
        ).alias("residual"),
    )


def _pca_chain_sql() -> str:
    """GENERATED shared CTE chain: centered values, then per round the
    per-vec dot, the per-dim w sum, the norm, and the 6-dp-rounded v.
    MATERIALIZED throughout — c is referenced by every round and each
    round by the next (default inlining re-expands exponentially)."""
    parts = ["""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
    ), u AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(x, 1) AS pos, unnest(x) AS val
        FROM e
    ), mu AS MATERIALIZED (
        SELECT pos, round(avg(val), 6) AS m FROM u GROUP BY pos
    ), c AS MATERIALIZED (
        SELECT u.vec_id, u.pos, u.val - mu.m AS cv
        FROM u JOIN mu USING (pos)
    ), v0 AS MATERIALIZED (
        SELECT pos, CAST(0.125 AS DOUBLE) AS v FROM mu
    )"""]
    prev = "v0"
    for r in range(1, PCA_ROUNDS + 1):
        parts.append(f"""
    , d{r} AS MATERIALIZED (
        SELECT c.vec_id, sum(c.cv * {prev}.v) AS dot
        FROM c JOIN {prev} USING (pos) GROUP BY c.vec_id
    ), w{r} AS MATERIALIZED (
        SELECT c.pos, sum(c.cv * d{r}.dot) AS w
        FROM c JOIN d{r} USING (vec_id) GROUP BY c.pos
    ), n{r} AS MATERIALIZED (
        SELECT sqrt(sum(w * w)) AS nrm FROM w{r}
    ), v{r} AS MATERIALIZED (
        SELECT pos, round(w / (SELECT nrm FROM n{r}), 6) AS v FROM w{r}
    )""")
        prev = f"v{r}"
    return "".join(parts)


ORACLES["x2_pca_power"] = _pca_chain_sql() + f"""
    SELECT CAST(mu.pos - 1 AS INT) AS dim,
           mu.m AS mean,
           v{PCA_ROUNDS}.v AS loading,
           (SELECT nrm FROM n{PCA_ROUNDS})
               / CAST((SELECT count(*) FROM e) - 1 AS DOUBLE) AS eigenvalue
    FROM mu JOIN v{PCA_ROUNDS} USING (pos)
"""

ORACLES["x2_pca_project"] = _pca_chain_sql() + f"""
    , proj AS (
        SELECT c.vec_id,
               sum(c.cv * v{PCA_ROUNDS}.v) AS score,
               sum(c.cv * c.cv) AS ssq
        FROM c JOIN v{PCA_ROUNDS} USING (pos)
        GROUP BY c.vec_id
    )
    SELECT vec_id,
           round(score, 6) AS score,
           round(sqrt(greatest(ssq - score * score, CAST(0 AS DOUBLE))), 6)
               AS residual
    FROM proj
"""

QUERIES["x2_pca_power"] = x2_pca_power
QUERIES["x2_pca_project"] = x2_pca_project


# ---------------------------------------------------------------------------
# X2 — blocked kNN classification accuracy
# ---------------------------------------------------------------------------

KNN_K = 5
KNN_CENTROIDS = 32

def x2_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label accuracy over the embedding table, BLOCKED
    by the deterministic coarse quantizer (the x1_semantic_dedup recipe):
    assign every vector to its nearest of 32 centroids, take each vector's
    top-5 cosine neighbors WITHIN its cluster, predict by majority vote
    (ties: smallest label), and report per-label n / correct / accuracy —
    the label-quality / embedding-quality eval every labeled corpus runs
    (a low kNN accuracy means labels and geometry disagree).

    Scale shape: the pairwise step is confined to clusters (the shuffle
    key — at 100 TB a persisted partition column), never global n^2; the
    assignment is a broadcast join against the 32-row centroid table with
    a max-of-struct argmax (codegen-safe — the 65s interpreted-expression
    trap is documented at x1_semantic_dedup). Cosines round to 6 dp before
    every rank (vec_id tie-break); vote counts are exact integers.
    In-cluster blocking is the measured recall/speed trade: singleton-
    cluster vectors have no neighbors and are excluded (n_scored reports
    coverage)."""
    import math as _math

    from swiftbulkuploader_spark.functions.vectors import (
        dot_product_unrolled,
        l2_norm_unrolled,
    )
    from swiftbulkuploader_spark.operators.dedup import spread

    cents = _ivf_centroids(spark, sf_dir, n=KNN_CENTROIDS)
    dim = len(cents[0])

    def build():
        emb = spread(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "label",
                F.col("embedding").cast("array<double>").alias("vec"),
            )
        )
        cnorms = [
            _math.sqrt(sum(float(v) * float(v) for v in c)) for c in cents
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
            .join(F.broadcast(cdf))  # bounded: KNN_CENTROIDS rows
            .select(
                "vec_id", "label", "vec", "nrm",
                F.struct(
                    cos.alias("cos"), F.col("cid").alias("cid")
                ).alias("sc"),
            )
            .groupBy("vec_id")
            .agg(
                F.first("label").alias("label"),
                F.first("vec").alias("vec"),
                F.first("nrm").alias("nrm"),
                F.max("sc")["cid"].alias("cluster"),
            )
            # read twice (both sides of the in-cluster self-join);
            # a session memo, so repeated calls reuse ONE persisted
            # frame (r12 ADVICE #3 class)
            .persist()
        )

    clustered = memo.get(spark, "knn_clustered", (sf_dir,), build)
    l, r = clustered.alias("l"), clustered.alias("r")
    # -2.0 sentinel for zero-norm vectors (sorts below every real cosine
    # under DESC on both engines — r7 advice: an unguarded NULL sorts last
    # in Spark but DuckDB's list_cosine_similarity clamps 0/0 to a finite
    # value, so the neighbor ranking would diverge the day a zero vector
    # enters the substrate; the oracle mirrors the SAME norm-guard CASE)
    pair_cos = F.round(
        F.coalesce(
            F.when(
                F.col("l.nrm") * F.col("r.nrm") > 0,
                dot_product_unrolled("l.vec", "r.vec", dim)
                / (F.col("l.nrm") * F.col("r.nrm")),
            ),
            F.lit(-2.0),
        ),
        6,
    )
    from pyspark.sql.window import Window

    pairs = (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col("l.vec_id") != F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vid"),
            F.col("l.label").alias("y"),
            F.col("r.vec_id").alias("nid"),
            F.col("r.label").alias("ny"),
            pair_cos.alias("cs"),
        )
    )
    wk = Window.partitionBy("vid").orderBy(F.col("cs").desc(), F.col("nid").asc())
    topk = pairs.withColumn("rk", F.row_number().over(wk)).where(
        F.col("rk") <= KNN_K
    )
    votes = topk.groupBy("vid", "y", "ny").agg(F.count(F.lit(1)).alias("nv"))
    wv = Window.partitionBy("vid").orderBy(F.col("nv").desc(), F.col("ny").asc())
    pred = votes.withColumn("rv", F.row_number().over(wv)).where(
        F.col("rv") == 1
    )
    return (
        pred.groupBy(F.col("y").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum(F.when(F.col("ny") == F.col("y"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n_scored",
            "n_correct",
            (
                F.col("n_correct").cast("double") / F.col("n_scored").cast("double")
            ).alias("accuracy"),
        )
    )


QUERIES["x2_knn_accuracy"] = x2_knn_accuracy

ORACLES["x2_knn_accuracy"] = f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE vec_id < {KNN_CENTROIDS}
    ), a AS (
        SELECT e.vec_id, e.label, e.v, c.cid,
               round(coalesce(list_cosine_similarity(e.v, c.cv), -2.0), 6) AS cos
        FROM e CROSS JOIN c
    ), asn AS MATERIALIZED (
        SELECT vec_id, label, v, cid AS cluster FROM a
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid DESC) = 1
    ), pairs AS (
        -- norm-guard CASE, not coalesce: this DuckDB clamps a zero-norm
        -- cosine to a finite value instead of NULL, so the -2.0 sentinel
        -- must come from the same guard the Spark side evaluates
        SELECT l.vec_id AS vid, l.label AS y, r.vec_id AS nid, r.label AS ny,
               round(CASE WHEN list_inner_product(l.v, l.v)
                               * list_inner_product(r.v, r.v) > 0
                          THEN list_cosine_similarity(l.v, r.v)
                          ELSE -2.0 END, 6) AS cs
        FROM asn l JOIN asn r
          ON l.cluster = r.cluster AND l.vec_id <> r.vec_id
    ), topk AS (
        SELECT * FROM pairs
        QUALIFY row_number() OVER (PARTITION BY vid
                                   ORDER BY cs DESC, nid ASC) <= {KNN_K}
    ), votes AS (
        SELECT vid, y, ny, count(*) AS nv FROM topk GROUP BY 1, 2, 3
    ), pred AS (
        SELECT * FROM votes
        QUALIFY row_number() OVER (PARTITION BY vid
                                   ORDER BY nv DESC, ny ASC) = 1
    )
    SELECT y AS label,
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(CASE WHEN ny = y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN ny = y THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS accuracy
    FROM pred GROUP BY y
"""


def x2_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit) quantization search: threshold every dimension at its
    corpus mean (sign bits), rank candidates by integer HAMMING distance to
    the query's bits, report against the exact cosine top-10 — the 64x
    compression point of the modern binary-embedding serving stack
    (a Hamming scan is SIMD-trivial and the rerank reads only the
    survivors). Same measured-recall contract as x2_sq8_topk one shelf
    over: per result row vec_id, hamming, in_exact10.

    Exactness: the per-dim thresholds are engine-rounded 6-dp means
    (bounded 64-row collect), the bit decision is a float comparison
    against that shared literal, and distances are exact integer sums —
    hash-exact oracle, no float rounding in the ranking at all.

    At 100 TB: thresholds train in one pass (dim-keyed avg), bits pack to
    8 bytes/vector in storage, and the scan is pure codegen; top-10 is a
    TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    mu_rows = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
        .orderBy("pos")
        .collect()
    )  # bounded: one row per dimension (64)
    mu = [float(r["m"]) for r in mu_rows]
    mu_l = _lit_vec(mu)

    def bits(vec_col):
        return F.zip_with(
            vec_col,
            mu_l,
            lambda x, m: F.when(x.cast("double") > m, F.lit(1)).otherwise(
                F.lit(0)
            ).cast("long"),
        )

    q = _query_vector(spark, sf_dir, 0)
    qb = [1 if float(x) > m else 0 for x, m in zip(q, mu)]
    qb_l = F.lit([int(b) for b in qb])
    ham = F.aggregate(
        F.zip_with(
            bits(F.col("embedding")), qb_l,
            lambda b, t: F.when(b != t, F.lit(1)).otherwise(F.lit(0)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    top = (
        emb.select("vec_id", ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    qcol = _lit_vec(q)
    exact = (
        emb.select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), qcol), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    return top.join(F.broadcast(exact), "vec_id", "left").select(
        "vec_id",
        "hamming",
        F.coalesce("hit", F.lit(0)).cast("long").alias("in_exact10"),
    )


QUERIES["x2_bq_topk"] = x2_bq_topk

ORACLES["x2_bq_topk"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ex AS (
        SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e
    ), st AS (
        SELECT i, round(avg(x), 6) AS m FROM ex GROUP BY i
    ), bits AS (
        SELECT ex.vec_id, ex.i,
               CASE WHEN ex.x > st.m THEN 1 ELSE 0 END AS b
        FROM ex JOIN st USING (i)
    ), qb AS (
        SELECT i, b AS t FROM bits WHERE vec_id = 0
    ), d AS (
        SELECT bits.vec_id,
               CAST(sum(CASE WHEN bits.b <> qb.t THEN 1 ELSE 0 END) AS BIGINT)
                   AS hamming
        FROM bits JOIN qb USING (i)
        GROUP BY bits.vec_id
    ), top AS (
        SELECT vec_id, hamming FROM d
        ORDER BY hamming ASC, vec_id ASC LIMIT 10
    ), exact AS (
        SELECT vec_id FROM (
            SELECT vec_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[])
                        FROM embeddings WHERE vec_id = 0)), 6) AS cos_sim
            FROM embeddings
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        )
    )
    SELECT t.vec_id, t.hamming,
           CAST(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS in_exact10
    FROM top t LEFT JOIN exact x USING (vec_id)
"""


def x2_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the binary-quantized (Hamming) ranking against graded
    exact-cosine relevance — the GRADED retrieval-quality companion to the
    recall flags on x2_sq8_topk/x2_bq_topk: recall says how many of the
    true top-10 were retrieved, nDCG says whether the best ones landed at
    the top. Relevance of the exact rank-j neighbor is 11-j (top hit = 10,
    tenth = 1, everything else 0), so IDCG is the fixed ideal ladder and
    nDCG needs only the two BOUNDED top-10 lists — no global ranking of
    the corpus at any scale (both are TakeOrderedAndProject).

    Exactness: ranks come from integer Hamming and 6-dp-rounded cosine
    with vec_id tie-breaks (the house ordering rule); DCG terms are
    integer/log2(integer) with identical operands, ulps inside the
    9-significant-digit normalization."""
    emb = load_table(spark, sf_dir, "embeddings")
    mu_rows = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
        .orderBy("pos")
        .collect()
    )  # bounded: one row per dimension (64)
    mu = [float(r["m"]) for r in mu_rows]
    mu_l = _lit_vec(mu)
    q = _query_vector(spark, sf_dir, 0)
    qb_l = F.lit([1 if float(x) > m else 0 for x, m in zip(q, mu)])
    bits = F.zip_with(
        F.col("embedding"), mu_l,
        lambda x, m: F.when(x.cast("double") > m, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    ham = F.aggregate(
        F.zip_with(bits, qb_l,
                   lambda b, t: F.when(b != t, F.lit(1)).otherwise(F.lit(0)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    from pyspark.sql.window import Window

    sys_top = (
        emb.select("vec_id", ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(10)
        .withColumn(
            "pos",
            F.row_number().over(
                Window.orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
            ),
        )
    )
    qcol = _lit_vec(q)
    exact = (
        emb.select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding").cast("array<double>"), qcol), 6
            ).alias("cs"),
        )
        .orderBy(F.col("cs").desc(), F.col("vec_id").asc())
        .limit(10)
        .withColumn(
            "rel",
            F.lit(11)
            - F.row_number().over(Window.orderBy(F.col("cs").desc(), F.col("vec_id").asc())),
        )
        .select("vec_id", "rel")
    )
    scored = sys_top.join(F.broadcast(exact), "vec_id", "left").select(
        "pos", F.coalesce("rel", F.lit(0)).cast("double").alias("rel")
    )
    dcg = F.sum(F.col("rel") / F.log2(F.col("pos").cast("double") + F.lit(1.0)))
    idcg_terms = [
        (11.0 - j, j + 1.0) for j in range(1, 11)
    ]
    idcg = sum(r / math.log2(p) for r, p in idcg_terms)
    return scored.agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).cast("long").alias("n_relevant_retrieved"),
        dcg.alias("dcg"),
    ).select(
        "n_relevant_retrieved",
        "dcg",
        F.lit(float(idcg)).alias("idcg"),
        (F.col("dcg") / F.lit(float(idcg))).alias("ndcg"),
    )


QUERIES["x2_ndcg_eval"] = x2_ndcg_eval


ORACLES["x2_ndcg_eval"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ex AS (
        SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e
    ), st AS (
        SELECT i, round(avg(x), 6) AS m FROM ex GROUP BY i
    ), bits AS (
        SELECT ex.vec_id, ex.i,
               CASE WHEN ex.x > st.m THEN 1 ELSE 0 END AS b
        FROM ex JOIN st USING (i)
    ), qb AS (
        SELECT i, b AS t FROM bits WHERE vec_id = 0
    ), d AS (
        SELECT bits.vec_id,
               CAST(sum(CASE WHEN bits.b <> qb.t THEN 1 ELSE 0 END) AS BIGINT)
                   AS hamming
        FROM bits JOIN qb USING (i)
        GROUP BY bits.vec_id
    ), sys_top AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY hamming ASC, vec_id ASC) AS pos
        FROM d ORDER BY hamming ASC, vec_id ASC LIMIT 10
    ), exact AS (
        SELECT vec_id, 11 - row_number() OVER (ORDER BY cs DESC, vec_id ASC) AS rel
        FROM (
            SELECT vec_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[])
                        FROM embeddings WHERE vec_id = 0)), 6) AS cs
            FROM embeddings
            ORDER BY cs DESC, vec_id ASC LIMIT 10
        )
    ), scored AS (
        SELECT s.pos, CAST(coalesce(x.rel, 0) AS DOUBLE) AS rel
        FROM sys_top s LEFT JOIN exact x USING (vec_id)
    ), idcg AS (
        SELECT sum((CAST(11 AS DOUBLE) - j) / log2(CAST(j AS DOUBLE) + CAST(1 AS DOUBLE)))
            AS v
        FROM generate_series(1, 10) AS g(j)
    )
    SELECT CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_relevant_retrieved,
           sum(rel / log2(CAST(pos AS DOUBLE) + CAST(1 AS DOUBLE))) AS dcg,
           (SELECT v FROM idcg) AS idcg,
           sum(rel / log2(CAST(pos AS DOUBLE) + CAST(1 AS DOUBLE)))
               / (SELECT v FROM idcg) AS ndcg
    FROM scored
"""


def x2_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quantization-distortion report, per subspace — the eval twin of
    x2_pq_codes the way x2_cluster_quality is Lloyd's: which of the 8
    subspaces loses the most energy to quantization (avg/max squared
    error and its share of total error) is what decides codebook size per
    subspace (k) and whether OPQ-style rotation is worth training before
    committing a billion vectors to 8-byte codes.

    Scale shape: the same broadcast-codebook + min-of-struct assignment
    as every PQ consumer (_pq_best_frame, janino-safe), one explode to
    (vec, subspace) pairs, a map-side-combined 8-group aggregate, and a
    1-row broadcast of the total for the share column (bounded BNLJ).
    Distortions are the 6-dp-rounded assignment distances, so they are
    summed in SCALED-INTEGER space (x 1e6, exact BIGINTs — the CLAUDE.md
    11a cancellation discipline): every aggregate is order-independent
    and the derived avg/share doubles are bit-identical on both engines
    (a raw double sum differed in the 9th significant digit at sf0.1)."""
    books = _pq_codebooks(spark, sf_dir)
    based = _pq_best_frame(spark, sf_dir, books)
    pairs = F.explode(
        F.array(*[
            F.struct(F.lit(m).alias("m"), F.col(f"b{m}")["d"].alias("dd"))
            for m in range(PQ_M)
        ])
    ).alias("p")
    ud = based.select(pairs).select(
        F.col("p.m").alias("m"),
        F.round(F.col("p.dd") * F.lit(1_000_000.0), 0).cast("long").alias("di"),
        F.col("p.dd").alias("dd"),
    )
    per_m = ud.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("di").alias("sum_i"),
        F.max("dd").alias("max_sqdist"),
    )
    tot = per_m.agg(F.sum("sum_i").alias("total_i"))  # 8-row input
    return (
        per_m.crossJoin(F.broadcast(tot))  # bounded: 1-row total
        .select(
            F.col("m").cast("int").alias("m"),
            "n_vecs",
            (
                F.col("sum_i").cast("double")
                / F.lit(1_000_000.0)
                / F.col("n_vecs").cast("double")
            ).alias("avg_sqdist"),
            "max_sqdist",
            (
                F.col("sum_i").cast("double")
                / F.col("total_i").cast("double")
            ).alias("err_share"),
        )
    )


QUERIES["x2_pq_distortion"] = x2_pq_distortion


def _pq_distortion_oracle_sql() -> str:
    """Reuses the generated encode CTEs (same unrolled term order, same
    QUALIFY argmin), unpivots the 8 per-subspace errors, then replays the
    8-group aggregate and the sum-of-group-sums total — matching Spark's
    association so only pure-sum ulps remain."""
    d_cols = []
    for m in range(PQ_M):
        terms = " + ".join(
            f"(e.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            f" * (e.v[{m * PQ_DSUB + i + 1}] - cb.v[{m * PQ_DSUB + i + 1}])"
            for i in range(PQ_DSUB)
        )
        d_cols.append(f"round({terms}, 6) AS d{m}")
    d_sql = ",\n                   ".join(d_cols)
    unions = "\n        UNION ALL ".join(
        f"SELECT vec_id, k, {m} AS m, d{m} AS dd FROM d"
        for m in range(PQ_M)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), cb AS (
            SELECT vec_id AS k, v FROM e WHERE vec_id < {PQ_K}
        ), d AS (
            SELECT e.vec_id, cb.k,
                   {d_sql}
            FROM e CROSS JOIN cb
        ), u AS (
        {unions}
        ), best AS (
            SELECT vec_id, m,
                   CAST(round(dd * 1000000, 0) AS BIGINT) AS di, dd
            FROM u
            QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                       ORDER BY dd, k) = 1
        ), per_m AS (
            SELECT m, CAST(count(*) AS BIGINT) AS n_vecs,
                   sum(di) AS sum_i, max(dd) AS max_sqdist
            FROM best GROUP BY m
        ), tot AS (
            SELECT sum(sum_i) AS total_i FROM per_m
        )
        SELECT CAST(m AS INT) AS m, n_vecs,
               CAST(sum_i AS DOUBLE) / CAST(1000000 AS DOUBLE)
                   / CAST(n_vecs AS DOUBLE) AS avg_sqdist,
               max_sqdist,
               CAST(sum_i AS DOUBLE) / CAST(total_i AS DOUBLE) AS err_share
        FROM per_m CROSS JOIN tot
    """


ORACLES["x2_pq_distortion"] = _pq_distortion_oracle_sql()


def x2_label_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space separability as an exact ROC-AUC: score every
    corpus vector by cosine to the query (vec_id 0), label it positive if
    it shares the query's class label, and compute the Mann-Whitney AUC
    of that ranking — the threshold-free answer to 'does distance in this
    embedding space encode the label?', the eval run before trusting
    embeddings for semantic dedup or kNN labeling (first tried over the
    trained quality student, whose teacher labels are single-class at
    test SFs — an AUC there verifies nothing; the embedding substrate has
    real class structure at every SF).

    Estimator: average-rank Mann-Whitney — AUC = (sum of positive ranks -
    P(P+1)/2) / (P*N), ties sharing their mean rank. Scores are 6-dp-
    rounded cosines on the INTEGER grid si = round(cos,6)*1e6 (round-
    before-decision; zero-norm sentinel -2.0 via the same norm guard both
    engines evaluate), so tie groups, doubled rank sums, and P/N are all
    exact integers — the final AUC is one integer-ratio double,
    bit-identical across engines.

    Scale shape: one scan + a <=2e6+1-row score-grid histogram; the rank
    prefix sum runs TWO-LEVEL over the bounded grid (within-bucket
    windows partitioned by the 1000-wide score bucket, bucket-level
    window over <=2001 partials — the x7_kaplan_meier pattern), so no
    unbounded single-partition window exists. The oracle replays a flat
    cumulative window — associativity is free in integer space."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    q_label = _query_label(spark, sf_dir)  # memoized 1-row scalar
    qcol = _lit_vec(q)
    cos = F.round(
        F.coalesce(
            cosine_similarity(F.col("embedding").cast("array<double>"), qcol),
            F.lit(-2.0),
        ),
        6,
    )
    si = F.round(cos * F.lit(1_000_000.0), 0).cast("long")
    y = F.when(F.col("label") == F.lit(q_label), 1).otherwise(0)
    grp = (
        emb.filter(F.col("vec_id") >= 1)
        .select(si.alias("si"), y.alias("y"))
        .groupBy("si")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("y").cast("long").alias("pos_g"),
        )
        .withColumn("bkt", F.expr("si div 1000"))
    )
    b_tot = grp.groupBy("bkt").agg(F.sum("n_g").alias("b_n"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    b_off = b_tot.select(
        "bkt",
        F.coalesce(F.sum("b_n").over(w_bkt), F.lit(0)).alias("n_before_bkt"),
    )
    w_in = Window.partitionBy("bkt").orderBy("si").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pre = grp.join(F.broadcast(b_off), "bkt").select(
        "si",
        "n_g",
        "pos_g",
        (
            F.col("n_before_bkt")
            + F.coalesce(F.sum("n_g").over(w_in), F.lit(0))
        ).alias("before"),
    )
    tot = pre.agg(
        F.sum(
            F.col("pos_g")
            * (F.lit(2) * F.col("before") + F.col("n_g") + F.lit(1))
        ).alias("s2r"),
        F.sum("pos_g").alias("npos"),
        F.sum("n_g").alias("ntot"),
    )
    auc = (
        (F.col("s2r") - F.col("npos") * (F.col("npos") + F.lit(1)))
        .cast("double")
        / F.nullif(
            F.lit(2.0)
            * F.col("npos").cast("double")
            * (F.col("ntot") - F.col("npos")).cast("double"),
            F.lit(0.0),
        )
    )
    return tot.select(
        F.col("npos").cast("long").alias("n_pos"),
        (F.col("ntot") - F.col("npos")).cast("long").alias("n_neg"),
        auc.alias("auc"),
        (F.lit(2.0) * auc - F.lit(1.0)).alias("gini"),
    )


QUERIES["x2_label_auc"] = x2_label_auc

ORACLES["x2_label_auc"] = """
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), q AS (
        SELECT v AS qv, label AS ql FROM e WHERE vec_id = 0
    ), scored AS (
        SELECT CAST(round(
                   round(CASE WHEN list_inner_product(e.v, e.v) > 0
                              THEN list_cosine_similarity(e.v, q.qv)
                              ELSE -2.0 END, 6)
                   * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS si,
               CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS y
        FROM e CROSS JOIN q
        WHERE e.vec_id >= 1
    ), grp AS (
        SELECT si, count(*) AS n_g, CAST(sum(y) AS BIGINT) AS pos_g
        FROM scored GROUP BY si
    ), pre AS (
        SELECT si, n_g, pos_g,
               coalesce(sum(n_g) OVER (ORDER BY si
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS before
        FROM grp
    ), tot AS (
        SELECT sum(pos_g * (2 * before + n_g + 1)) AS s2r,
               sum(pos_g) AS npos, sum(n_g) AS ntot
        FROM pre
    )
    SELECT CAST(npos AS BIGINT) AS n_pos,
           CAST(ntot - npos AS BIGINT) AS n_neg,
           CAST(s2r - npos * (npos + 1) AS DOUBLE)
               / nullif(CAST(2 AS DOUBLE) * CAST(npos AS DOUBLE)
                        * CAST(ntot - npos AS DOUBLE), CAST(0 AS DOUBLE))
               AS auc,
           CAST(2 AS DOUBLE)
               * (CAST(s2r - npos * (npos + 1) AS DOUBLE)
                  / nullif(CAST(2 AS DOUBLE) * CAST(npos AS DOUBLE)
                           * CAST(ntot - npos AS DOUBLE), CAST(0 AS DOUBLE)))
               - CAST(1 AS DOUBLE) AS gini
    FROM tot
"""


MMD_N = 256       # bounded sample per side
MMD_SIGMA2 = 1.0  # RBF bandwidth (median heuristic on unit-norm vectors)

def x2_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel two-sample drift test — squared Maximum Mean Discrepancy
    (Gretton et al., JMLR 2012) with an RBF kernel, over two bounded
    deterministic samples per comparison: the distribution-level
    embedding-drift metric that catches what per-dimension z-scores
    (x2_norm_zscore) miss (covariance/shape shifts with unchanged
    marginals). Two rows: the even/odd vec_id NULL SPLIT (same
    distribution — MMD^2 should sit at the V-statistic bias floor) and
    the LABEL SPLIT (query's class vs rest — positive MMD^2 iff the space
    encodes the label), so the report carries its own calibration
    baseline.

    Scale stance: MMD is quadratic BY DEFINITION, so each side is a
    deterministic MMD_N-row sample (min vec_ids — TakeOrderedAndProject,
    no global sort) and the three kernel-mean cross joins are bounded at
    MMD_N^2 pairs regardless of corpus size (the bounded-BNLJ class; at
    100 TB the samples are still MMD_N rows). Exactness: squared
    distances come from dot products (||x-y||^2 = nx + ny - 2 x.y,
    unrolled codegen); each PAIRWISE kernel value is quantized to a 1e-8
    integer grid and summed EXACTLY in BIGINT (order-independent; <=
    MMD_N^2 * 1e8 ~ 6.6e12, no overflow), then divided once — the
    x2_pq_distortion scaled-integer discipline. Rounding the float MEAN
    (the earlier form) left a 65k-term summation-order-dependent double
    under the 8-dp round, which could flip at a half-way point between
    engines/runs; quantize-then-sum makes both engines' operands
    bit-identical before the near-total-cancellation MMD combination
    (null split means agree to ~1e-3)."""
    from swiftbulkuploader_spark.functions.vectors import dot_product_unrolled

    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    base = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q_label = _query_label(spark, sf_dir)  # memoized 1-row scalar

    # r13-opt, two steps (guide §2.4 "remove shuffles/stages outright"):
    # (1) each bounded MMD_N-row sample is built ONCE with canonical
    # column names and persist()ed — the original form's six kernel
    # cross-joins re-executed their sides' TakeOrderedAndProject subtrees
    # (24 parquet scans per run in the before-plan), and (2) ALL SIX
    # bounded kernel joins are FUSED into one tagged self-join + one
    # aggregation: tag every sample row with (comparison, side), join the
    # tagged union to its broadcast copy on the comparison key, and
    # partial-aggregate the integer-grid kernel sums per (comparison,
    # side_l, side_r) cell — the (a,a)/(b,b)/(a,b) cells are EXACTLY the
    # xa*xa2 / xb*xb2 / xa*xb ordered-pair multisets of the original six
    # joins, and the 1e-8-grid quantize-then-sum is integer and
    # order-independent, so every ksum/np (hence every reported mean and
    # mmd2) is bit-identical. Before: ~40 tiny AQE-planned stages per
    # run (6 joins x 2 side subtrees + 6 combines) ~ 4.5 s exec; after:
    # one broadcast join + two bounded aggregates.
    def side(flt, split, stag):
        sample = (
            base.filter(flt)
            .orderBy("vec_id")
            .limit(MMD_N)
            .select(
                "vec_id", "v",
                dot_product_unrolled("v", "v", dim).alias("n"),
            )
            .persist()  # bounded: MMD_N rows at ANY corpus scale
        )
        return sample.select(
            F.lit(split).alias("comparison"),
            F.lit(stag).alias("s"),
            "vec_id",
            "v",
            "n",
        )

    even = (F.col("vec_id") >= 1) & (F.col("vec_id") % 2 == 0)
    odd = (F.col("vec_id") >= 1) & (F.col("vec_id") % 2 == 1)
    pos = (F.col("vec_id") >= 1) & (F.col("label") == F.lit(q_label))
    neg = (F.col("vec_id") >= 1) & (F.col("label") != F.lit(q_label))
    tagged = (
        side(even, "null_split", "a")
        .unionByName(side(odd, "null_split", "b"))
        .unionByName(side(pos, "label_split", "a"))
        .unionByName(side(neg, "label_split", "b"))
    )
    # r13-opt follow-up (guide §2.6 idle capacity): the kernel cartesian
    # ran as ONE task (1x1 partitions) on a 32-core box — the dominant
    # ~17M-multiply stage was single-threaded. Round-robin the LEFT side
    # into 16 slices (deterministic: sortBeforeRepartition is on, and
    # the 1e-8-grid kernel sums are exact BIGINT — partitioning cannot
    # change any output bit); shuffle_replicate_nl replicates the 1-
    # partition right side to every slice, so the same bounded pair
    # multiset now computes in 16 parallel tasks.
    left = tagged.select(
        F.col("comparison").alias("cl"), F.col("s").alias("sl"),
        F.col("vec_id").alias("il"),
        F.col("v").alias("vl"), F.col("n").alias("nl"),
    ).repartition(16)
    right = tagged.select(
        F.col("comparison").alias("cr"), F.col("s").alias("sr"),
        F.col("vec_id").alias("ir"),
        F.col("v").alias("vr"), F.col("n").alias("nr"),
    ).coalesce(1)
    sq = F.col("nl") + F.col("nr") - F.lit(2.0) * dot_product_unrolled(
        "vl", "vr", dim
    )
    k = F.exp(-sq / F.lit(2.0 * MMD_SIGMA2))
    # floor(k*1e8 + 0.5): each pairwise kernel value lands on an integer
    # grid BEFORE the commutative sum, so the mean is sum/cnt of exact
    # integers — no order-dependent float accumulation under a round.
    # Residual risk is the module's usual ulp-at-a-boundary class: exp()
    # may differ by an ulp between the JVM and DuckDB's libm, flipping kq
    # by 1 when k sits exactly on a grid edge (rare; diagnose a verify
    # flake here before suspecting the sum).
    kq = F.floor(k * F.lit(1e8) + F.lit(0.5)).cast("long")
    # shuffle_replicate_nl: forces CartesianProduct, which does NOT
    # participate in whole-stage codegen — so the 64-term kernel + the
    # partial aggregate above it compile into their OWN codegen stage.
    # Measured on the isolated 262k-pair kernel: BroadcastNestedLoopJoin
    # fused into WSCG ran ~4.6 s (the generated method exceeds HotSpot's
    # JIT size limit and executes as interpreted bytecode — silent: no
    # janino warning, the CLAUDE.md rule-9 class one level down), plain
    # interpreted eval 1.1 s, CartesianProduct + compiled agg 0.05 s.
    # Pair multiset: the cross join enumerates both comparisons' pair
    # blocks plus cross-comparison pairs, which the cl = cr filter drops
    # BEFORE aggregation — the surviving (comparison, sl, sr) cells are
    # exactly the original six joins' ordered-pair multisets, and the
    # integer-grid sums are order-independent, so every output value is
    # bit-identical. Bounded: (4*MMD_N)^2 pairs at ANY corpus scale
    # (single partition by construction — coalesce(1) above).
    # Symmetry halves the within-side pair work EXACTLY: kq is symmetric
    # bit-for-bit (per-term products commute; nl + nr == nr + nl) and the
    # diagonal is exactly 10^8 per row (sq = n + n - 2n == 0.0 because
    # the pair dot and the sample's own n are the same unrolled
    # expression over the same array), so the full ordered-pair sum
    # reconstructs as ksum_full = 2 * ksum_upper + n_side * 10^8 in
    # exact BIGINT arithmetic. The (a, b) cross-side cell keeps every
    # ordered pair (sl < sr admits all of them and none of (b, a)).
    upper = (F.col("sl") < F.col("sr")) | (
        (F.col("sl") == F.col("sr")) & (F.col("il") < F.col("ir"))
    )
    cells = (
        left.hint("shuffle_replicate_nl")
        .crossJoin(right)
        .filter((F.col("cl") == F.col("cr")) & upper)
        .groupBy(F.col("cl").alias("comparison"), "sl", "sr")
        .agg(F.sum(kq).alias("ksum"), F.count(F.lit(1)).alias("np"))
    )
    # side row counts ride the same cells frame as '#' rows, so the
    # final reshape stays ONE aggregation
    counts = tagged.groupBy(
        "comparison", F.col("s").alias("sl")
    ).agg(F.count(F.lit(1)).alias("np")).select(
        "comparison", "sl", F.lit("#").alias("sr"),
        F.lit(0).cast("long").alias("ksum"), "np",
    )
    cells = cells.unionByName(counts)

    def cell(sl, sr, col):
        return F.sum(
            F.when((F.col("sl") == sl) & (F.col("sr") == sr), F.col(col))
        )

    def grid_mean(sl, sr):
        return cell(sl, sr, "ksum").cast("double") / (
            cell(sl, sr, "np").cast("double") * F.lit(1e8)
        )

    def full_mean(side_tag):
        # reconstructed full ordered-pair mean over one side: exact longs
        ks = (
            F.lit(2) * cell(side_tag, side_tag, "ksum")
            + cell(side_tag, "#", "np") * F.lit(100000000)
        )
        np_full = cell(side_tag, "#", "np") * cell(side_tag, "#", "np")
        return ks.cast("double") / (np_full.cast("double") * F.lit(1e8))

    out = cells.groupBy("comparison").agg(
        cell("a", "#", "np").alias("n_a"),
        cell("b", "#", "np").alias("n_b"),
        full_mean("a").alias("k_aa"),
        full_mean("b").alias("k_bb"),
        grid_mean("a", "b").alias("k_ab"),
        (
            full_mean("a") + full_mean("b")
            - F.lit(2.0) * grid_mean("a", "b")
        ).alias("mmd2"),
    )
    return out.select(
        "comparison", "n_a", "n_b", "k_aa", "k_bb", "k_ab", "mmd2"
    )



QUERIES["x2_mmd_drift"] = x2_mmd_drift


def _mmd_oracle_sql() -> str:
    k = ("exp(-(a.n2 + b.n2 - 2 * list_inner_product(a.v, b.v))"
         f" / (CAST(2 AS DOUBLE) * CAST({MMD_SIGMA2} AS DOUBLE)))")
    sides = {
        "ea": "vec_id >= 1 AND vec_id % 2 = 0",
        "eb": "vec_id >= 1 AND vec_id % 2 = 1",
        "la": "vec_id >= 1 AND label = (SELECT ql FROM q)",
        "lb": "vec_id >= 1 AND label <> (SELECT ql FROM q)",
    }
    side_ctes = ",\n    ".join(
        f"""{name} AS (
        SELECT vec_id, v, list_inner_product(v, v) AS n2
        FROM e WHERE {flt} ORDER BY vec_id LIMIT {MMD_N}
    )"""
        for name, flt in sides.items()
    )

    def km(a, b):
        # quantize each pairwise kernel to the 1e-8 integer grid, sum
        # exactly, divide once — mirrors the Spark side bit-for-bit
        return (
            f"(SELECT CAST(sum(CAST(floor({k} * CAST(100000000 AS DOUBLE)"
            f" + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)"
            f" / (CAST(count(*) AS DOUBLE) * CAST(100000000 AS DOUBLE))"
            f" FROM {a} a CROSS JOIN {b} b)"
        )

    def row(a, b, tag):
        return f"""
        SELECT '{tag}' AS comparison,
               (SELECT CAST(count(*) AS BIGINT) FROM {a}) AS n_a,
               (SELECT CAST(count(*) AS BIGINT) FROM {b}) AS n_b,
               {km(a, a)} AS k_aa,
               {km(b, b)} AS k_bb,
               {km(a, b)} AS k_ab,
               {km(a, a)} + {km(b, b)}
                   - CAST(2 AS DOUBLE) * {km(a, b)} AS mmd2"""

    return f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), q AS (
        SELECT label AS ql FROM e WHERE vec_id = 0
    ), {side_ctes}
    {row("ea", "eb", "null_split")}
    UNION ALL
    {row("la", "lb", "label_split")}
"""


ORACLES["x2_mmd_drift"] = _mmd_oracle_sql()


PROBE_SWEEP = (1, 2, 4, 8)

def x2_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF TUNING CURVE — recall@10 vs corpus fraction scanned as
    n_probe sweeps 1/2/4/8 over the 16-centroid quantizer: the
    recall-vs-cost trade every ANN deployment tunes before fixing
    n_probe (x2_ivf_topk serves ONE point of this curve; the sweep is
    what picks it). One row per probe count: clusters probed, vectors
    scanned (the cost axis — at scale this is the partition-pruning
    read fraction), exact-top-10 hits, recall.

    Shape: assignment AND query cosine are scored ONCE over the corpus
    into one checkpointed (vec_id, cluster, cos_sim) frame; each sweep
    point only re-FILTERS it (one count + one TakeOrdered(10) per
    point), and all four probe sets are prefixes of a single ranked
    centroid pick (one bounded k-row collect, not one per point) — the
    first cut of this query re-ran ivf_search's full scoring pass per
    point and benched 10.5 s; this form is ~5x cheaper with identical
    results (filter-then-score == score-then-filter on a row-local
    cosine). All compared cosines are 6-dp-rounded with id tie-breaks
    (the ivf_search discipline); counts exact.

    Plan-build profile (r14 re-profile, warm: load 0.07 / scored-plan
    0.36 / exact-plan 0.17 / probe-pick memo-hit 0.00 / 4-point loop
    assembly 0.83 / exec 0.71): the r10 note blamed eager
    materialization, but the r13 lazy persists removed that — what
    remains is PySpark's EAGER ANALYSIS of every DataFrame op (the
    4-point loop is ~110 ops over a growing plan). r14 cuts it three
    ways: the scored + exact frames are session-MEMOIZED (substrate
    class — every consumer still filters/aggregates them per call), so
    warm calls skip their construction; the per-point broadcast `total`
    crossJoin is replaced by the already-memoized _emb_count scalar as
    a literal (n_total IS the corpus count; integer-exact, so the
    double quotient is bit-identical to the frame form's); the loop's
    remaining ops are irreducible TakeOrdered sharing.

    Reference parity: none; §2.9 ANN-serve family."""
    cents = _ivf_centroids(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)

    def build():
        # (scored, exact): the persisted shared frames every sweep point
        # filters/aggregates per call
        emb = load_table(spark, sf_dir, "embeddings")
        qcol = _lit_vec(q)
        scored = (
            emb.withColumn(
                "cluster",
                assign_ivf_cluster(
                    "CAST(embedding AS ARRAY<DOUBLE>)", cents,
                    round_dp=6,
                ),
            )
            .select(
                "vec_id",
                "cluster",
                F.round(
                    cosine_similarity(
                        F.col("embedding").cast("array<double>"), qcol
                    ),
                    6,
                ).alias("cos_sim"),
            )
            # persist, not the former eager localCheckpoint: same
            # share-across-the-4-sweep-points guarantee, but lazy (no
            # per-call eager rebuild) and plan-keyed — repeated calls
            # reuse ONE cache entry via the CacheManager (r13-opt);
            # r14 additionally memoizes the PYTHON frame object so warm
            # calls skip the eager re-analysis of its construction
            .persist()
        )
        exact = x2_cosine_topk(spark, sf_dir).select("vec_id").persist()
        return scored, exact

    scored, exact = memo.get(spark, "probe_sweep_base", (sf_dir,), build)
    # one ranked pick; each sweep point's probe set is a prefix of it
    ranking = _probe_pick(spark, cents, q, max(PROBE_SWEEP))
    n_total = _emb_count(spark, sf_dir)  # memoized scalar == count(scored)
    out = None
    for p in PROBE_SWEEP:
        probe = ranking[:p]
        in_probe = scored.filter(F.col("cluster").isin(probe))
        scanned = in_probe.agg(F.count(F.lit(1)).alias("n_scanned"))
        topk = (
            in_probe.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
            .limit(10)
            .select("vec_id")
        )
        hits = exact.join(topk, "vec_id").agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        row = (
            scanned.crossJoin(hits).select(
                F.lit(p).cast("int").alias("n_probe"),
                F.col("n_scanned").cast("long").alias("n_scanned"),
                (
                    F.col("n_scanned").cast("double")
                    / F.lit(n_total).cast("double")
                ).alias("scanned_frac"),
                F.col("n_hits").cast("long").alias("n_hits"),
                (F.col("n_hits") / F.lit(10.0)).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


QUERIES["x2_ivf_probe_sweep"] = x2_ivf_probe_sweep


def _probe_sweep_oracle_sql() -> str:
    """Shared assignment/exact CTEs + one block per sweep point; probe
    pick / assignment / ranking mirror the x2_ann_recall IVF oracle
    text exactly."""
    blocks = []
    selects = []
    for p in PROBE_SWEEP:
        blocks.append(f"""probe{p} AS (
        SELECT c.cid FROM c, qv
        ORDER BY round(coalesce(list_cosine_similarity(c.cv, qv.qv),
                                -2.0), 6) DESC, c.cid DESC
        LIMIT {p}
    ), ivf{p} AS (
        SELECT asn.vec_id FROM asn, qv
        WHERE asn.cluster IN (SELECT cid FROM probe{p})
        ORDER BY round(list_cosine_similarity(asn.v, qv.qv), 6) DESC,
                 asn.vec_id ASC
        LIMIT 10
    )""")
        selects.append(f"""
    SELECT CAST({p} AS INT) AS n_probe,
           CAST((SELECT count(*) FROM asn
                 WHERE cluster IN (SELECT cid FROM probe{p})) AS BIGINT)
               AS n_scanned,
           CAST((SELECT count(*) FROM asn
                 WHERE cluster IN (SELECT cid FROM probe{p})) AS DOUBLE)
               / CAST((SELECT count(*) FROM embeddings) AS DOUBLE)
               AS scanned_frac,
           CAST((SELECT count(*) FROM exact JOIN ivf{p} USING (vec_id))
                AS BIGINT) AS n_hits,
           (SELECT count(*) FROM exact JOIN ivf{p} USING (vec_id))
               / CAST(10.0 AS DOUBLE) AS recall""")
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE vec_id < 16
    ), qv AS (
        SELECT v AS qv FROM e WHERE vec_id = 0
    ), a AS MATERIALIZED (
        SELECT e.vec_id, e.v, c.cid,
               round(coalesce(list_cosine_similarity(e.v, c.cv), -2.0), 6)
                   AS cos
        FROM e CROSS JOIN c
    ), asn AS MATERIALIZED (
        SELECT vec_id, v, cid AS cluster FROM a
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid DESC) = 1
    ), exact AS MATERIALIZED (
        SELECT vec_id FROM (
            SELECT vec_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)), 6) AS cos_sim
            FROM embeddings
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 10
        )
    ), {", ".join(blocks)}
    {" UNION ALL ".join(selects)}
"""


ORACLES["x2_ivf_probe_sweep"] = _probe_sweep_oracle_sql()


# ---------------------------------------------------------------------------
# X2 — mutual k-nearest-neighbor pairs (reciprocal-NN candidate generator)
# ---------------------------------------------------------------------------

MUTUAL_K = 3

# adaptive quantizer width for the QUADRATIC-in-width consumers
# (x2_mutual_knn, x1_semantic_dedup): n_list grows past the base once
# the corpus outgrows base * width, so per-cluster pair work stays
# bounded — the r11 scale10 probe measured the fixed-n_list forms at
# 18.8x / 14.2x at 10x data (quadratic), the width-held forms linear
IVF_TARGET_WIDTH = 128


def _adaptive_nlist(n_vectors: int, base: int) -> int:
    import math as _math

    return max(base, _math.ceil(n_vectors / IVF_TARGET_WIDTH))


def x2_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs — the high-precision candidate
    generator semantic dedup and retrieval re-ranking both lean on: a
    pair survives only if each vector ranks the OTHER in its top-K
    (mutuality filters the hubness false-positives a one-sided kNN list
    carries). Blocked by the deterministic IVF coarse quantizer (the
    x1_semantic_dedup SemDeDup discipline): neighbors are ranked within
    a vector's own cluster, so the pair space is sum of cluster sizes
    squared, never corpus squared.

    Determinism: cluster assignment, kNN ranking, and the mutual join
    all decide on 6-dp-rounded cosines with vec_id tie-breaks
    (round-before-decision); cosine(x,y) and cosine(y,x) are
    bit-identical on both engines (same fold order, commutative
    products), so mutuality is symmetric by construction.

    Shape: one cluster shuffle -> within-cluster self-join (bounded by
    cluster width) -> per-vector top-K window (partition = one vector's
    in-cluster candidates) -> self-join on the reversed edge. At 100 TB
    the cluster id is the partition column and each cluster's block is
    an independent task.

    Scale contract (measured, SCALING.md mutual-kNN rows): the pair
    space is sum of squared cluster widths — with the contract's FIXED
    16-centroid quantizer that is O(n^2/16), fine for the bounded
    contract corpus and a pathology beyond it (probe: ~quadratic wall
    at 10x). The 100 TB form trains n_list ∝ n/TARGET_WIDTH centroids
    so width stays constant and the pair space is ∝ n * width = linear
    (probe: linear wall at width 256) — one constant in the quantizer,
    not a plan change."""
    from swiftbulkuploader_spark.functions.vectors import (
        dot_product_unrolled,
        l2_norm_unrolled,
    )
    from swiftbulkuploader_spark.plans.layout import spread

    import math

    # adaptive width (see IVF_TARGET_WIDTH): k stays N_CENTROIDS at the
    # contract SFs (<= 2048 vectors), grows with the corpus beyond —
    # the count is a metadata-cheap scalar, the oracle replays the same
    # greatest/ceil arithmetic as a scalar subquery
    k = _adaptive_nlist(_emb_count(spark, sf_dir), N_CENTROIDS)
    cents = _ivf_centroids(spark, sf_dir, n=k)
    dim = len(cents[0])

    def build():
        # assignment via the BROADCAST-JOIN + max-of-struct template (the
        # x1_semantic_dedup / x2_pq_codes janino-safe form): the k-wide
        # literal scoring array is the fast path at k=16 but a ~20k-term
        # expression at adaptive k — past janino's 64 KB method limit it
        # silently falls back to interpreted eval (CLAUDE.md rules 9/12a;
        # measured 76 s at the 10x substrate before this form, 8 s after)
        cnorms = [
            math.sqrt(sum(float(x) * float(x) for x in c)) for c in cents
        ]
        cdf = spark.createDataFrame(
            [(i, list(c), cn) for i, (c, cn) in enumerate(zip(cents, cnorms))],
            "cid: int, cv: array<double>, cn: double",
        )
        nrm = l2_norm_unrolled("v", dim)
        ccos = F.round(
            F.coalesce(
                F.when(
                    F.col("nrm") * F.col("cn") > 0,
                    dot_product_unrolled("v", "cv", dim)
                    / (F.col("nrm") * F.col("cn")),
                ),
                F.lit(-2.0),
            ),
            6,
        )
        return (
            spread(
                load_table(spark, sf_dir, "embeddings").select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("v"),
                )
            )
            .withColumn("nrm", nrm)
            .join(F.broadcast(cdf))  # bounded: k centroid rows
            .select(
                "vec_id", "v", "nrm",
                F.struct(
                    ccos.alias("cos"), F.col("cid").alias("cid")
                ).alias("sc"),
            )
            .groupBy("vec_id")
            .agg(
                F.first("v").alias("v"),
                F.first("nrm").alias("nrm"),
                # (cos, cid) struct max: equal rounded cosines -> higher
                # cid, the oracle's ORDER BY cos DESC, cid DESC
                F.max("sc")["cid"].alias("cluster"),
            )
            # read by BOTH sides of the within-cluster self-join —
            # persist, or the assignment pipeline executes twice per
            # materialization; a session memo, so repeated calls reuse
            # ONE persisted (vec_id, v, nrm, cluster) frame (r12 ADVICE #3)
            .persist()
        )

    base = memo.get(spark, "mutual_knn_base", (sf_dir,), build)
    x, y = base.alias("x"), base.alias("y")
    pairs = x.join(
        y,
        (F.col("x.cluster") == F.col("y.cluster"))
        & (F.col("x.vec_id") != F.col("y.vec_id")),
    ).select(
        F.col("x.vec_id").alias("sa"),
        F.col("y.vec_id").alias("sb"),
        F.round(
            dot_product_unrolled("x.v", "y.v", dim)
            / (F.col("x.nrm") * F.col("y.nrm")),
            6,
        ).alias("cos"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("sa").orderBy(
        F.col("cos").desc(), F.col("sb").asc()
    )
    # read TWICE by the reciprocal join (t1 and t2 are the same frame) —
    # union/join branches re-execute their subtree without materializing
    # it (CLAUDE.md rule 4), doubling the pair-scoring work. persist()
    # (not the former eager localCheckpoint): same one-materialization
    # guarantee, but lazy — no per-call eager rebuild — and its lineage
    # over the memoized base is plan-identical across calls, so Spark's
    # CacheManager reuses ONE cache entry (the shingle_base discipline)
    # instead of stacking a fresh checkpoint RDD per call (r13-opt).
    topk = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= MUTUAL_K
    ).select("sa", "sb", "cos").persist()
    t1, t2 = topk.alias("t1"), topk.alias("t2")
    return (
        t1.join(
            t2,
            (F.col("t1.sa") == F.col("t2.sb"))
            & (F.col("t1.sb") == F.col("t2.sa")),
        )
        .filter(F.col("t1.sa") < F.col("t1.sb"))
        .select(
            F.col("t1.sa").alias("a"),
            F.col("t1.sb").alias("b"),
            F.col("t1.cos").alias("cos_sim"),
        )
    )


QUERIES["x2_mutual_knn"] = x2_mutual_knn

ORACLES["x2_mutual_knn"] = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE vec_id < (SELECT greatest(16, CAST(ceil(count(*) / 128.0) AS BIGINT)) FROM e)
    ), asn AS (
        SELECT vec_id, v, cid AS cluster FROM (
            SELECT e.vec_id, e.v, c.cid,
                   round(coalesce(list_cosine_similarity(e.v, c.cv), -2.0), 6)
                       AS cos
            FROM e CROSS JOIN c
        )
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid DESC) = 1
    ), p AS (
        SELECT x.vec_id AS sa, y.vec_id AS sb,
               round(list_cosine_similarity(x.v, y.v), 6) AS cos
        FROM asn x JOIN asn y
          ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
    ), topk AS (
        SELECT sa, sb, cos FROM p
        QUALIFY row_number() OVER (PARTITION BY sa
                                   ORDER BY cos DESC, sb ASC) <= {MUTUAL_K}
    )
    SELECT t1.sa AS a, t1.sb AS b, t1.cos AS cos_sim
    FROM topk t1 JOIN topk t2 ON t1.sa = t2.sb AND t1.sb = t2.sa
    WHERE t1.sa < t1.sb
"""


# ---------------------------------------------------------------------------
# X2 — maximum-inner-product search via norm augmentation (round 13)
# ---------------------------------------------------------------------------

MIPS_K = 10


def x2_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k (the recommender/retrieval scoring
    the cosine family can't express: a long vector SHOULD outrank a
    well-aligned short one), with the norm-augmentation reduction
    (Bachrach et al., RecSys'14; Neyshabur & Srebro, ICML'15) verified
    in-query: augmenting every corpus vector with sqrt(M^2 - |x|^2)
    and the query with 0 turns inner-product order into cosine order —
    aug_cos = ip / (M * |q|), monotone in ip — which is what lets MIPS
    ride the ENTIRE cosine serving stack (IVF partition pruning, LSH
    buckets, PQ codes) unchanged at 100 TB. Both scores and both ranks
    are emitted; rank agreement is the reduction's correctness witness
    (asserted in tests/test_liveness_pins.py, not flattened into a
    flag that could only ever be true).

    Determinism: M and |q| are 6-dp rounded ENGINE-side before use
    (one bounded 1-row agg — the allowlisted scalar-collect class);
    M * |q| is a single IEEE multiply, identical in both engines; all
    scores 6-dp rounded before any ordering with vec_id tie-breaks
    (the cosine-ranking discipline). Shape: one scan +
    TakeOrderedAndProject; the rank windows run over the k-row result
    only (BOUNDED_WINDOW_OK class). At the 100 TB serve tier the scan
    becomes the unrolled-codegen scoring of the IVF-pruned candidate
    set (dot_product_unrolled — x1_semantic_dedup's hot-path template).

    SUBSTRATE: the corpus embeddings are unit-normalized (norm spread
    ~1e-7), on which MIPS degenerates to cosine and every claim here
    would verify nothing (the substrate-liveness rule) — so the query
    scores a deterministically POPULARITY-WEIGHTED view: each item
    vector scaled by 0.5 + (vec_id % 8)/4 (dyadic-exact factors, norms
    0.5..2.25), the exact structure recommender item embeddings carry
    (norm = popularity/quality). On this substrate the ip top-k
    genuinely differs from the cosine top-k (pinned) while rank_aug
    still equals rank_ip — the reduction witness, now non-trivial.

    Reference parity: none (§2.9 similarity extension)."""
    from pyspark.sql.window import Window

    from swiftbulkuploader_spark.functions.vectors import l2_norm

    raw = load_table(spark, sf_dir, "embeddings")
    w = F.lit(0.5) + (F.col("vec_id") % 8).cast("double") / F.lit(4.0)
    emb = raw.select(
        "vec_id", "label",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * w
        ).alias("embedding"),
    )
    q = _query_vector(spark, sf_dir, 0)
    qcol = _lit_vec(q)
    e = F.col("embedding")
    consts = emb.agg(
        F.round(F.max(l2_norm(e)), 6).alias("m"),
        F.round(F.min(l2_norm(qcol)), 6).alias("qn"),
    ).first()
    denom = float(consts["m"]) * float(consts["qn"])  # one IEEE multiply
    ip_raw = dot_product(e, qcol)
    top = (
        emb.select(
            "vec_id", "label",
            F.round(ip_raw, 6).alias("ip"),
            F.round(ip_raw / F.lit(denom), 6).alias("aug_cos"),
        )
        .orderBy(F.col("ip").desc(), F.col("vec_id").asc())
        .limit(MIPS_K)
    )
    w_ip = Window.orderBy(F.col("ip").desc(), F.col("vec_id").asc())
    w_aug = Window.orderBy(F.col("aug_cos").desc(), F.col("vec_id").asc())
    return (
        top.select(
            "vec_id", "label", "ip", "aug_cos",
            F.row_number().over(w_ip).cast("long").alias("rank_ip"),
            F.row_number().over(w_aug).cast("long").alias("rank_aug"),
        )
        .orderBy("rank_ip")
    )


QUERIES["x2_mips_topk"] = x2_mips_topk

ORACLES["x2_mips_topk"] = f"""
    WITH qv AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id = 0
    ), emb AS (
        SELECT vec_id, label,
               list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> x * (0.5 + CAST(vec_id % 8 AS DOUBLE) / 4.0)
               ) AS embedding
        FROM embeddings
    ), consts AS (
        SELECT round(max(sqrt(list_inner_product(embedding, embedding))),
                     6)
               * (SELECT round(sqrt(list_inner_product(v, v)), 6) FROM qv)
                   AS denom
        FROM emb
    ), scored AS (
        SELECT vec_id, label,
               round(list_inner_product(embedding,
                                        (SELECT v FROM qv)), 6) AS ip,
               round(list_inner_product(embedding,
                                        (SELECT v FROM qv))
                     / consts.denom, 6) AS aug_cos
        FROM emb, consts
    ), top AS (
        SELECT * FROM scored ORDER BY ip DESC, vec_id ASC LIMIT {MIPS_K}
    )
    SELECT vec_id, label, ip, aug_cos,
           CAST(row_number() OVER (ORDER BY ip DESC, vec_id ASC)
                AS BIGINT) AS rank_ip,
           CAST(row_number() OVER (ORDER BY aug_cos DESC, vec_id ASC)
                AS BIGINT) AS rank_aug
    FROM top ORDER BY rank_ip
"""
