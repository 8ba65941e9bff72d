"""Connected components over the near-dup pair graph — dedup clustering.

MinHash/SimHash emit PAIRS; dedup needs CLUSTERS (transitive closure: if
A~B and B~C, {A,B,C} dedup together and one canonical doc survives).

Algorithm: distributed min-label propagation. Every node starts labeled
with itself; each round every node takes the minimum label among itself and
its neighbors; converged when no label changes. Each round is one shuffle
join + one aggregation, fully distributed — no driver-side union-find, which
is the difference between deduping 10^5 and 10^9 documents.

Round count is O(graph diameter). Near-dup clusters are dense (diameter 2-3
in practice), so propagation converges in a handful of rounds; for
adversarially long chains the alternating large-star/small-star algorithm
(Kiveris et al., SoCC'14) gets O(log n) rounds at the cost of a trickier
invariant — IMPLEMENTED below as ``connected_components_star`` (closes a
200-node chain inside the default budget where bounded propagation
cannot; prop-equivalence pinned by tests).

Two Spark essentials for ANY iterative DataFrame algorithm, both applied
here:
* `localCheckpoint(eager=True)` per round — truncates lineage; without it
  each round's plan embeds all previous rounds and planning time explodes
  exponentially.
* convergence via a cheap aggregate (sum of label changes), not a
  DataFrame diff.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbulkuploader_spark import memo

# last reliable=True run's checkpoint-dir footprint (bytes), for the
# scaling probe / tests: peak = high-water across rounds WITH the explicit
# superseded-round GC below active; end = after the final round's GC
CKPT_STATS: dict[str, int] = {}


def connected_components(edges: DataFrame, max_iter: int = 25,
                         check_every: int = 2) -> DataFrame:
    """edges (a: long, b: long) -> (node: long, component: long), where
    component = min node id in the connected component.

    Convergence is probed every ``check_every`` rounds, not every round, and
    only the probe round is materialized: ``check_every`` propagation rounds
    accumulate as lineage over the two checkpointed inputs (2 joins + 1 agg
    per round — shallow enough to plan), then ONE ``localCheckpoint`` cuts
    the lineage and a cheap aggregate over the already-materialized frame
    probes for changes. Per ``check_every`` rounds that is 1 materialization
    job + 1 probe job, versus ``check_every`` + 1 before. Correctness does
    not depend on the cadence: labels are monotone non-increasing, so any
    round with zero changes means a fixed point was reached.

    The input edge frame is checkpointed BEFORE the symmetrize union:
    ``e.union(e.swap)`` references ``e`` twice, and Spark does not
    common-subexpression-eliminate across union branches — without the
    checkpoint, an expensive upstream pair pipeline (MinHash band join +
    verify) would execute twice inside the first job."""
    e = (
        edges.selectExpr("a", "b")
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint(eager=True)
    )
    sym = e.union(e.selectExpr("b AS a", "a AS b")).distinct()
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def propagate(lbl: DataFrame) -> DataFrame:
        # each node's best neighbor label this round
        nbr = (
            sym.join(lbl.select(F.col("node").alias("b"), "label"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("a", "node")
        )
        return lbl.join(nbr, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            (F.col("nbr_label") < F.col("label")).cast("int").alias("changed"),
        )

    done = 0
    while done < max_iter:
        burst = min(check_every, max_iter - done)
        cur = labels
        for _ in range(burst):
            cur = propagate(cur.select("node", "label"))
        done += burst
        cur = cur.localCheckpoint(eager=True)
        labels = cur.select("node", "label")
        # `changed` of the LAST round in the burst: zero means fixed point
        # (monotone labels), regardless of what earlier rounds did.
        n_changed = cur.agg(F.sum("changed")).first()[0] or 0
        if n_changed == 0:
            break

    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b") -> DataFrame:
    """Near-dup pairs -> (doc_id, cluster_id, is_survivor): transitive
    closure + keep the minimum id per cluster."""
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    comp = connected_components(edges)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_survivor"),
    )


def x1_dup_clusters(spark, sf_dir: str) -> DataFrame:
    """Contract query: MinHash near-dup pairs -> connected components ->
    per-cluster summary (cluster_id = min doc_id, member count, survivor).

    The full dedup story end-to-end: LSH banding emits PAIRS, label
    propagation closes them transitively into CLUSTERS, and one survivor
    per cluster is kept — what a pretraining dedup pass actually deletes
    against. The pairs are the banded-LSH production near-dup set
    (``minhash_corpus_pairs``: Jaccard >= 0.5, the memoized pair frame
    x1_minhash_exact serves). cluster_id = min(doc_id) is the closure
    invariant (connected components labels each component with its
    minimum node); survivor_id is a POLICY choice layered on top — keep
    the longest document (n_chars, ties to the smaller id), the "keep
    best, not keep first" rule a real dedup pass wants. The oracle
    replays the MinHash pairs, closes them with a recursive reachability
    CTE and picks the survivor with a window."""
    from swiftbulkuploader_spark.catalog import load_table
    from swiftbulkuploader_spark.operators.dedup import minhash_corpus_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_corpus_pairs(spark, sf_dir)
    clusters = dedup_clusters(pairs).join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        clusters.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), -F.col("doc_id"))
            ).alias("survivor_id"),
        )
        .orderBy("cluster_id")
    )


def x1_dup_clusters_exact(spark, sf_dir: str) -> DataFrame:
    """ORACLED dup clustering: the same label-propagation closure as
    ``x1_dup_clusters``, but over the DETERMINISTIC exact-Jaccard pair
    graph, so DuckDB can reproduce the whole query — pairs from literal
    3-gram shingle postings, closure from THREE unrolled propagation
    rounds (the same fixed-round oracle discipline as x8_pagerank).

    Pair graph: the PREFIX-FILTERED exact similarity join
    (dedup.py::allpairs_prefix_pairs — md5-prefix shingle hashes, rarest-
    prefix postings, length filter, hash-array verify; measured 16.6x over
    the naive posting join) — every pair with Jaccard >= 0.5, where
    x1_dup_clusters keeps only the pairs LSH banding finds. Closure: label
    propagation with a FIXED 3-round budget (`max_iter=3, check_every=3` — one burst,
    no early probe divergence; labels are monotone, so a graph converged
    earlier is unchanged by the spare rounds). Near-dup clusters have
    diameter 2-3, so 3 rounds is also the practical closure.

    Scale stance: prefix filtering keeps the pair stage exact while
    excluding the frequent shingles whose df^2 blows up the naive join;
    the production near-dup default remains the banded-LSH
    ``x1_dup_clusters``. This variant pins the closure (and now the whole
    pair stage) against an independent engine — the DuckDB oracle below
    still computes the NAIVE posting join, so the lossless-filtering claim
    is re-proven on every verify run."""
    from swiftbulkuploader_spark.operators.dedup import allpairs_prefix_pairs

    # the pair graph IS the prefix-filtered exact similarity join — shared
    # with x1_allpairs_prefix so the measured 16.6x plan exists once; the
    # naive posting join lives only in the DuckDB oracle below (prefix
    # filtering is lossless, so the edge sets are identical)
    edges = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    comp = connected_components(edges, max_iter=3, check_every=3)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def allpairs_star_components(spark, sf_dir: str) -> DataFrame:
    """Memoized star-closure labels over the shared allpairs pair graph
    — the allpairs memo one tier up (CLAUDE.md rule 11a):
    x1_dup_clusters_star, x8_component_sizes and x8_bridge_fragments
    all consume the SAME deterministic component labeling of the same
    memoized edge frame; close it once per session, persist, reuse
    (the round-13 bench showed each consumer re-running the O(log n)
    closure rounds independently)."""
    from swiftbulkuploader_spark.operators.dedup import (
        allpairs_prefix_pairs,
    )

    return memo.get(spark, "allpairs_star_components", (sf_dir,),
                    lambda: connected_components_star(
                        allpairs_prefix_pairs(spark, sf_dir, tau=0.5)
                        .select("a", "b")).persist())


def x1_dup_clusters_star(spark, sf_dir: str) -> DataFrame:
    """Contract query for the star algorithm: the SAME deterministic
    exact-Jaccard pair graph as ``x1_dup_clusters_exact``, closed by
    ``connected_components_star`` instead of fixed-round propagation.

    Its oracle computes the TRUE transitive closure (a DuckDB recursive
    CTE enumerating reachable labels, min per node) — no fixed-round
    assumption at all, so this query also certifies that the star
    algorithm reaches the real fixed point on arbitrary component
    shapes, not just the diameter-2-3 graphs 3 propagation rounds
    happen to close."""
    comp = allpairs_star_components(spark, sf_dir)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


QUERIES = {
    "x1_dup_clusters": x1_dup_clusters,
    "x1_dup_clusters_exact": x1_dup_clusters_exact,
    "x1_dup_clusters_star": x1_dup_clusters_star,
}

ORACLES: dict[str, str] = {
    # literal-shingle posting join + 3 unrolled label-propagation rounds
    "x1_dup_clusters_exact": """
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
        ), e0 AS (
            SELECT a, b
            FROM pr
            JOIN sz sa ON pr.a = sa.doc_id
            JOIN sz sb ON pr.b = sb.doc_id
            WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= CAST(0.5 AS DOUBLE)
        ), edges AS (
            SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0
        ), l0 AS (
            SELECT DISTINCT a AS node, a AS label FROM edges
        ), n1 AS (
            SELECT e.a AS node, min(l.label) AS nbr
            FROM edges e JOIN l0 l ON e.b = l.node GROUP BY e.a
        ), l1 AS (
            SELECT l.node, least(l.label, coalesce(n.nbr, l.label)) AS label
            FROM l0 l LEFT JOIN n1 n USING (node)
        ), n2 AS (
            SELECT e.a AS node, min(l.label) AS nbr
            FROM edges e JOIN l1 l ON e.b = l.node GROUP BY e.a
        ), l2 AS (
            SELECT l.node, least(l.label, coalesce(n.nbr, l.label)) AS label
            FROM l1 l LEFT JOIN n2 n USING (node)
        ), n3 AS (
            SELECT e.a AS node, min(l.label) AS nbr
            FROM edges e JOIN l2 l ON e.b = l.node GROUP BY e.a
        ), l3 AS (
            SELECT l.node, least(l.label, coalesce(n.nbr, l.label)) AS label
            FROM l2 l LEFT JOIN n3 n USING (node)
        )
        SELECT node AS doc_id, label AS cluster_id FROM l3
    """,
}


def connected_components_star(edges: DataFrame, max_iter: int = 40,
                              reliable: bool = False) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris,
    Lattanzi, Mirrokni, Rastogi & Vassilvitskii, SoCC'14 "Connected
    Components in MapReduce and Beyond") — the O(log n)-round algorithm
    min-label propagation's docstring names as the upgrade for
    ADVERSARIALLY LONG chains, where propagation needs diameter rounds
    (a 1000-node path = 1000 rounds) and this needs ~log n (~10).

    One round pair, both sides pure DataFrame ops over the symmetrized
    neighbor list:

    * large-star(u): every neighbor v > u re-attaches to u's minimum
      neighborhood node m = min(N(u) ∪ {u}) — strictly shrinks tall
      trees without breaking connectivity;
    * small-star(u): every neighbor v <= u (and u itself) attaches to
      that same minimum — flattens the remainder into stars.

    Converged when a round pair leaves the edge set unchanged (count +
    order-insensitive xxhash64 checksum over the materialized frame — the
    CLAUDE.md rule-4 probe discipline); the final graph is a star forest
    whose centers are the component minima. Per round: one groupBy + one
    join, localCheckpoint per round pair for lineage control — the same
    shuffle budget per round as label propagation, ~diameter/log(n) fewer
    rounds.

    Memory note (measured): ~log n localCheckpoint'ed edge frames stay
    alive until the driver GCs their references, and localCheckpoint
    blocks are NOT evictable — a 3M-node path on an 8 GB local JVM
    exhausts execution memory around round pair ~20. ``reliable=True``
    (round 6) swaps every materialization to reliable ``checkpoint()``:
    round frames go to files under the context's checkpoint dir (set one
    on durable storage for a cluster; a local temp dir is installed
    automatically if none is set), so block-manager memory holds NOTHING
    between rounds and the n-node wall moves from JVM heap to disk —
    measured past the 3M-node path in the probe table
    (star_components_chain_reliable). The trade, stated: each round pair
    writes its edge frame to storage, so per-round latency gains an IO
    term (~2x on the local probe) — reliable is the
    survive-arbitrary-scale setting, local the fast default."""
    spark = edges.sparkSession
    if reliable and spark.sparkContext.getCheckpointDir() is None:
        import tempfile

        spark.sparkContext.setCheckpointDir(
            os.path.join(tempfile.gettempdir(), "spark_graft_ckpt")
        )

    # Reliable-checkpoint file GC (round 7, from the r6 verdict ask #5 +
    # advice): Spark NEVER deletes reliable checkpoint files itself unless
    # the RDD reference is GC'd with
    # spark.cleaner.referenceTracking.cleanCheckpoints=true — driver-GC
    # timing, i.e. nondeterministic and default-off — so a 4M-node run
    # (~40 round-pair frames) accumulates checkpoint data until reboot
    # (33 GB measured, SCALING.md). Once round n is materialized AND
    # checksummed, frames <= n-2 are unreachable by construction (each
    # round derives only from its predecessor): delete their rdd-* dirs
    # deterministically, keeping current + previous. Local filesystems
    # only — on a cluster checkpoint dir (hdfs:/s3:) the listdir/rmtree
    # below would need the Hadoop FS API, so GC is skipped and the
    # accumulation documented.
    ckpt_root: str | None = None
    ckpt_gens: list[list[str]] = []  # rdd-* dirs per materialized frame
    ckpt_seen: set[str] = set()
    if reliable:
        raw = spark.sparkContext.getCheckpointDir()
        p = raw[len("file:"):] if raw and raw.startswith("file:") else raw
        if p and os.path.isdir(p):
            ckpt_root = p
            # dirs already present belong to ANOTHER run (a second
            # reliable=True call in the same app, or any other
            # df.checkpoint() user sharing the dir): seed them as seen so
            # they never enter a generation and are never deleted. Dirs a
            # concurrent writer creates WHILE this run is in flight are
            # handled by the per-call before/after diff in _ckpt below
            # (round 9, from the r8 advice) — only a dir created inside
            # our own eager checkpoint() window can still be misadopted.
            ckpt_seen.update(
                e for e in os.listdir(p) if e.startswith("rdd-")
            )
            CKPT_STATS.clear()
            CKPT_STATS.update(peak_bytes=0, end_bytes=0, rounds=0)

    def _dir_bytes() -> int:
        total = 0
        for dirpath, _dirnames, filenames in os.walk(ckpt_root):
            for fn in filenames:
                try:
                    total += os.path.getsize(os.path.join(dirpath, fn))
                except OSError:
                    pass
        return total

    def _track_and_gc(new_dirs: set[str]) -> None:
        if ckpt_root is None:
            return
        ckpt_gens.append(sorted(new_dirs - ckpt_seen))
        ckpt_seen.update(new_dirs)
        CKPT_STATS["peak_bytes"] = max(CKPT_STATS["peak_bytes"], _dir_bytes())
        CKPT_STATS["rounds"] += 1
        while len(ckpt_gens) > 2:
            for d in ckpt_gens.pop(0):
                shutil.rmtree(os.path.join(ckpt_root, d), ignore_errors=True)
        CKPT_STATS["end_bytes"] = _dir_bytes()

    def _rdd_dirs() -> set[str]:
        if ckpt_root is None:
            return set()
        return {e for e in os.listdir(ckpt_root) if e.startswith("rdd-")}

    def _ckpt(df: DataFrame) -> DataFrame:
        if reliable:
            # Attribute to this generation ONLY the rdd-* dirs that
            # appear across this eager checkpoint() call (before/after
            # listdir diff). A concurrent checkpoint user sharing the
            # dir is therefore safe except in the narrow window of the
            # call itself — a dir another writer creates DURING our
            # eager materialization is still misadopted and swept two
            # generations later. Residual caveat, stated: truly
            # concurrent writers should use distinct checkpoint dirs;
            # Python cannot read Dataset.checkpoint's internal RDD id
            # to do exact attribution.
            before = _rdd_dirs()
            out = df.checkpoint(eager=True)
            _track_and_gc(_rdd_dirs() - before)
            return out
        return df.localCheckpoint(eager=True)

    sym = _ckpt(
        edges.selectExpr("a AS u", "b AS v").filter(F.col("u") != F.col("v"))
    )
    sym = _ckpt(sym.union(sym.selectExpr("v AS u", "u AS v")).distinct())

    def large_star(e: DataFrame) -> DataFrame:
        mins = e.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            e.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        le = e.filter(F.col("v") <= F.col("u"))
        mins = le.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            le.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def checksum(e: DataFrame) -> tuple[int, int]:
        # bit_xor: order-insensitive AND overflow-free (a sum of hashes
        # trips ANSI-mode long overflow)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return row["n"], row["h"] or 0

    cur = sym
    prev_sig = checksum(cur)
    converged = False
    for _ in range(max_iter):
        # symmetrize for the large-star view (it reads full neighborhoods)
        both = cur.union(cur.selectExpr("v AS u", "u AS v")).distinct()
        nxt = _ckpt(small_star(large_star(both)))
        sig = checksum(nxt)
        cur = nxt
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # returning the star forest of a TRUNCATED run silently labels a
        # connected graph as many components (caught at max_iter=20 on a
        # 4M-node path, which needs ~log2(n) ≈ 22 round pairs + settle) —
        # wrong labels must be loud, not quiet
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "round pairs; raise max_iter (round pairs needed ~ log2 of the "
            "largest component's node count, plus a few to settle)"
        )
    # star forest: every remaining edge points a node at its component
    # minimum; centers label themselves
    members = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    centers = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.unionByName(centers).groupBy("node").agg(
        F.min("component").alias("component")
    )
# the true transitive closure over a symmetric `edges` CTE: every label
# reachable from a node (no fixed-round assumption); min(label) per node is
# its component
_REACH_CTE = """reach(node, label) AS (
        SELECT DISTINCT a AS node, a AS label FROM edges
        UNION
        SELECT e.a AS node, r.label
        FROM edges e JOIN reach r ON e.b = r.node
    )"""
ORACLES["x1_dup_clusters_star"] = f"""
    WITH RECURSIVE t AS (
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
    ), e0 AS (
        SELECT a, b
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= CAST(0.5 AS DOUBLE)
    ), edges AS (
        SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0
    ), {_REACH_CTE}
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY node
"""


def _dup_clusters_oracle_sql() -> str:
    """The MinHash pair oracle as the edge list, the reachability closure,
    then per cluster its size and the longest member (ties to the smaller
    id) — x1_dedup_keep_best's survivor window."""
    from swiftbulkuploader_spark.operators.dedup import _minhash_exact_oracle_sql

    return f"""
    WITH RECURSIVE e0 AS (
        SELECT doc_a AS a, doc_b AS b FROM ({_minhash_exact_oracle_sql()})
    ), edges AS (
        SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0
    ), {_REACH_CTE}, cl AS (
        SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT cluster_id, cluster_size, survivor_id FROM (
        SELECT cl.cluster_id,
               count(*) OVER (PARTITION BY cl.cluster_id) AS cluster_size,
               cl.doc_id AS survivor_id,
               row_number() OVER (PARTITION BY cl.cluster_id
                                  ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rn
        FROM cl JOIN documents d USING (doc_id)
    ) WHERE rn = 1
"""


ORACLES["x1_dup_clusters"] = _dup_clusters_oracle_sql()


# ---------------------------------------------------------------------------
# X8 — triangle counting / transitivity of the near-dup graph
# ---------------------------------------------------------------------------

# the deterministic pair-graph CTE block shared with the dup-clustering
# oracle above (t/g/sz/pr/e0: literal 3-gram shingle postings -> naive
# posting join -> Jaccard >= 0.5 edge set, a < b, one row per pair)
_E0_CTES = """
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
    ), e0 AS (
        SELECT a, b
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= CAST(0.5 AS DOUBLE)
    )"""


# Persisted session memos of the tau=0.5 near-dup graph (r13-opt).
# x8_triangle_count, x8_clustering_coeff and x8_assortativity all
# derive the IDENTICAL symmetrized edge list + degree table (and the
# first two the identical degree-ordered oriented edge list) from the
# memoized allpairs pair frame; before this each query re-ran the
# degree aggregation / orientation joins once per in-plan reference
# (deg 3x, o 3x in the triangle plan — union/join branches re-execute,
# no cross-branch CSE).


def _dup_graph_deg(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Persisted (und, deg) of the deterministic near-dup graph:
    und = symmetrized tau=0.5 allpairs edges, deg = (node, d)."""
    from swiftbulkuploader_spark.operators.dedup import allpairs_prefix_pairs

    def build():
        e = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
        und = e.union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).persist()
        deg = (
            und.groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
            .select(F.col("a").alias("node"), "d")
            .persist()
        )
        return und, deg

    return memo.get(spark, "dup_graph_deg", (sf_dir,), build)


def _oriented_dup_edges(spark, sf_dir: str) -> DataFrame:
    """Persisted degree-ordered orientation (src, dst) of the near-dup
    edge list: every edge points from its (degree, id)-smaller endpoint
    to the larger (Suri & Vassilvitskii WWW'11) — the shared wedge
    substrate of the triangle family."""
    return memo.get(spark, "oriented_dup_edges", (sf_dir,),
                    lambda: _orient_dup_edges(spark, sf_dir))


def _orient_dup_edges(spark, sf_dir: str) -> DataFrame:
    from swiftbulkuploader_spark.operators.dedup import allpairs_prefix_pairs

    e = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    _, deg = _dup_graph_deg(spark, sf_dir)
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).persist()


def x8_triangle_count(spark, sf_dir: str) -> DataFrame:
    """Triangle count + global transitivity of the deterministic near-dup
    graph — the cluster-density diagnostic for a dedup pass: a near-dup
    graph whose components are cliques (transitivity ~1) dedups safely by
    transitive closure, while low transitivity warns that closure is
    chaining UNLIKE documents through hub nodes (the classic LSH false-
    merge failure).

    Algorithm: degree-ordered node-iterator (the MapReduce triangle
    scheme of Suri & Vassilvitskii WWW'11 / Cohen 2009): orient every
    edge from the (degree, id)-smaller endpoint to the larger, count
    directed paths u->v->w whose closing edge u->w exists. Orientation
    makes the per-node join fan-out O(arboricity) = O(sqrt(m)) instead
    of O(max_degree) — the reason this scales to a 100 TB corpus's dup
    graph where a naive wedge join on raw degrees explodes on hub nodes.
    Each triangle is counted exactly once (its (deg,id)-minimal vertex
    owns it).

    Edges: ``allpairs_prefix_pairs`` (Jaccard >= 0.5, shared with the
    dup-clustering family, so the measured prefix-filtered plan exists
    once); degree table and oriented edge list ride the memoized
    persisted graph views (_dup_graph_deg / _oriented_dup_edges — the
    r13-opt substrate sharing with x8_clustering_coeff and
    x8_assortativity). Wedge denominator sum(d*(d-1))/2 comes off the
    degree table. Output: one row — nodes/edges/wedges/triangles and
    transitivity = 3*tri/wedges (NULL on a wedge-free graph)."""
    from swiftbulkuploader_spark.operators.dedup import allpairs_prefix_pairs

    e = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    _, deg = _dup_graph_deg(spark, sf_dir)
    o = _oriented_dup_edges(spark, sf_dir)
    paths = o.select(F.col("src").alias("u"), F.col("dst").alias("v")).join(
        o.select(F.col("src").alias("v"), F.col("dst").alias("w")), "v"
    )
    tri = (
        paths.join(
            o.select(F.col("src").alias("u"), F.col("dst").alias("w")),
            ["u", "w"],
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2)).cast("long").alias(
            "n_wedges"
        ),
    )
    edges_n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    # three 1-row scalar frames combined: bounded BNLJ (BOUNDED_BNLJ_OK)
    return (
        nodes.crossJoin(F.broadcast(edges_n))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
            ).alias("transitivity"),
        )
    )


QUERIES["x8_triangle_count"] = x8_triangle_count

ORACLES["x8_triangle_count"] = _E0_CTES + """
    , und AS (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), deg AS (
        SELECT a AS node, count(*) AS d FROM und GROUP BY a
    ), o AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                    THEN e0.a ELSE e0.b END AS src,
               CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                    THEN e0.b ELSE e0.a END AS dst
        FROM e0
        JOIN deg da ON e0.a = da.node
        JOIN deg db ON e0.b = db.node
    ), tri AS (
        SELECT count(*) AS n_triangles
        FROM o o1
        JOIN o o2 ON o1.dst = o2.src
        JOIN o o3 ON o3.src = o1.src AND o3.dst = o2.dst
    ), nodes AS (
        SELECT count(*) AS n_nodes,
               CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
        FROM deg
    ), eds AS (
        SELECT count(*) AS n_edges FROM e0
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CASE WHEN n_wedges > 0
                THEN CAST(3 AS DOUBLE) * n_triangles / n_wedges
           END AS transitivity
    FROM nodes CROSS JOIN eds CROSS JOIN tri
"""


def x8_assortativity(spark, sf_dir: str) -> DataFrame:
    """Degree assortativity of the deterministic near-dup graph: the Pearson
    correlation of endpoint degrees over the symmetrized edge list (Newman,
    PRL 89:208701, 2002). The dedup-graph health metric that complements
    x8_triangle_count's transitivity: strongly NEGATIVE assortativity means
    low-degree documents attach to a few hub nodes — the template/boilerplate
    hub pattern where transitive-closure dedup over-merges — while ~0/positive
    says duplicate clusters are degree-homogeneous (clique-like) and safe to
    collapse.

    Shape: the shared prefix-filtered pair generator (one measured plan,
    dedup.py::allpairs_prefix_pairs) via the memoized persisted graph views
    (_dup_graph_deg — und + degree computed once per session, shared with
    the triangle family), two broadcast-size joins of the degree table back
    onto edges, and a single-pass corr()
    (mergeable moment state). The two 1-row summaries cross-join at the end
    (bounded BNLJ, allowlisted). corr rounded to 6 dp on both engines — same
    margin argument as x6_regression_stats (summation-order ulps ~1e-12 rel).
    """
    und, deg = _dup_graph_deg(spark, sf_dir)
    ed = (
        und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
        .select(F.col("da").cast("double").alias("dx"),
                F.col("db").cast("double").alias("dy"))
    )
    s1 = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.avg("d").alias("mean_deg"),
    )
    s2 = ed.agg(
        (F.count(F.lit(1)) / F.lit(2)).cast("long").alias("n_edges"),
        F.round(F.corr("dx", "dy"), 6).alias("assortativity"),
    )
    return s1.crossJoin(s2)


QUERIES["x8_assortativity"] = x8_assortativity

ORACLES["x8_assortativity"] = _E0_CTES + """
    , und AS (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), deg AS (
        SELECT a AS node, count(*) AS d FROM und GROUP BY a
    ), ed AS (
        SELECT CAST(da.d AS DOUBLE) AS dx, CAST(db.d AS DOUBLE) AS dy
        FROM und
        JOIN deg da ON und.a = da.node
        JOIN deg db ON und.b = db.node
    ), s1 AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes, avg(d) AS mean_deg FROM deg
    ), s2 AS (
        SELECT CAST(count(*) // 2 AS BIGINT) AS n_edges,
               round(corr(dx, dy), 6) AS assortativity
        FROM ed
    )
    SELECT n_nodes, mean_deg, n_edges, assortativity
    FROM s1 CROSS JOIN s2
"""


KCORE_K = 2
KCORE_ROUNDS = 4


def x8_kcore(spark, sf_dir: str) -> DataFrame:
    """k-core peeling (k=2, fixed 4 rounds) of the deterministic near-dup
    graph: repeatedly delete nodes whose residual degree is < k, recording
    the round each node was peeled; survivors form the 2-core with their
    in-core degree. The dedup-graph triage operator: peel_round 1 nodes are
    pendant/lone-pair documents (safe one-shot merges), the 2-core is where
    transitive closure actually chains and deserves the clique-vs-hub audit
    (x8_triangle_count / x8_assortativity).

    Fixed-round unrolled semantics (the Lloyd/quality-train graduation
    recipe): each round is one degree aggregate over the residual doubled
    edge list plus two anti-joins; exactly two frames are materialized per
    round (the degree-labeled alive set — peel and survivors are filters
    over it — and the residual edge list, each multiply referenced,
    CLAUDE.md rule 4). A node stranded
    edgeless by a peel is caught via the alive-set left join (coalesce(d,0)),
    not the degree table alone. The oracle replays the identical rounds as
    chained CTEs, so this is a full value oracle despite the iteration.

    Scale: per round one narrow (node) shuffle over a shrinking edge list;
    peel cascades beyond 4 rounds would leave sub-k survivors (documented
    fixed-budget semantics — raise KCORE_ROUNDS for deeper cascades; the
    crafted path-graph test pins a 2-round cascade)."""
    from swiftbulkuploader_spark.operators.dedup import allpairs_prefix_pairs

    e = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    # r13-opt: the loop previously eager-checkpointed THREE frames per
    # round (peel, alive, cur) plus two seeds — 14 driver-blocking jobs
    # for ~0.2 s of actual execution. Restructured to TWO checkpoints
    # per round: `labeled` carries every alive node with its coalesced
    # residual degree, so peel (d < k) and the next alive set (d >= k)
    # are filters over ONE materialized frame instead of separately
    # checkpointed anti-joins, and the edge list is kept in its DOUBLED
    # undirected form (removing rows with a peeled endpoint from `und`
    # removes both directions at once — the same multiset as
    # anti-joining the directed list and re-doubling, so every round's
    # degree table and peel set are row-identical to the old loop).
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    # seed alive set: referenced once (round 1's labeled join) — lazy
    alive = und.select(F.col("a").alias("node")).distinct()
    peeled = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
            F.col("a").alias("node"), "d"
        )
        labeled = (
            alive.join(deg, "node", "left")
            .select("node", F.coalesce("d", F.lit(0)).alias("d"))
            .localCheckpoint(eager=True)  # peel filter read 3x, alive 1x
        )
        peel = labeled.where(F.col("d") < KCORE_K).select("node")
        peeled.append(
            peel.select("node", F.lit(r).cast("int").alias("peel_round"))
        )
        alive = labeled.where(F.col("d") >= KCORE_K).select("node")
        und = (
            und.join(peel.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(peel.withColumnRenamed("node", "b"), "b", "left_anti")
            # USING-join moves the key column first -> (b, a); restore
            # the (a, b) order so the degree key stays column `a`
            .select("a", "b")
        )
        if r < KCORE_ROUNDS:
            # final round's residual list is read once (degf) — lazy
            und = und.localCheckpoint(eager=True)
    degf = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("node"), "d"
    )
    out = alive.join(degf, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.lit(0).cast("int").alias("peel_round"),
        F.coalesce("d", F.lit(0)).cast("long").alias("core_deg"),
    )
    for p in peeled:
        out = out.union(
            p.select(
                F.col("node").alias("doc_id"),
                "peel_round",
                F.lit(None).cast("long").alias("core_deg"),
            )
        )
    return out


def _kcore_oracle_sql() -> str:
    """GENERATED fixed-round peel replay: the same alive/deg/peel/e chain.
    Round CTEs are MATERIALIZED — each round references its predecessor and
    peel set 2-3 times, and DuckDB's default CTE inlining re-expands the
    expensive e0 pair-generator pipeline exponentially in the round count
    (observed: 'Too many open files' from ~3^4 re-opened parquet scans)."""
    parts = [
        ", alive_0 AS MATERIALIZED (SELECT a AS node FROM e0 UNION SELECT b FROM e0)",
        ", e_0 AS MATERIALIZED (SELECT a, b FROM e0)",
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f"""
    , und_{r} AS (
        SELECT a, b FROM e_{r - 1} UNION ALL SELECT b AS a, a AS b FROM e_{r - 1}
    ), deg_{r} AS (
        SELECT a AS node, count(*) AS d FROM und_{r} GROUP BY a
    ), peel_{r} AS MATERIALIZED (
        SELECT al.node FROM alive_{r - 1} al
        LEFT JOIN deg_{r} dg ON al.node = dg.node
        WHERE coalesce(dg.d, 0) < {KCORE_K}
    ), alive_{r} AS MATERIALIZED (
        SELECT node FROM alive_{r - 1}
        WHERE node NOT IN (SELECT node FROM peel_{r})
    ), e_{r} AS MATERIALIZED (
        SELECT a, b FROM e_{r - 1}
        WHERE a NOT IN (SELECT node FROM peel_{r})
          AND b NOT IN (SELECT node FROM peel_{r})
    )""")
    last = KCORE_ROUNDS
    parts.append(f"""
    , undf AS (
        SELECT a, b FROM e_{last} UNION ALL SELECT b AS a, a AS b FROM e_{last}
    ), degf AS (
        SELECT a AS node, count(*) AS d FROM undf GROUP BY a
    )
    SELECT al.node AS doc_id, CAST(0 AS INT) AS peel_round,
           CAST(coalesce(dg.d, 0) AS BIGINT) AS core_deg
    FROM alive_{last} al LEFT JOIN degf dg ON al.node = dg.node""")
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f"""
    UNION ALL
    SELECT node AS doc_id, CAST({r} AS INT) AS peel_round,
           CAST(NULL AS BIGINT) AS core_deg
    FROM peel_{r}""")
    return _E0_CTES + "".join(parts)


QUERIES["x8_kcore"] = x8_kcore
ORACLES["x8_kcore"] = _kcore_oracle_sql()


LP_MAX_DEG = 64     # hub cap: common neighbors above this degree are excluded
LP_MIN_SHARED = 2   # co-purchase edge: parts co-ordered in >= 2 distinct orders
LP_BASKET_CAP = 256  # orders with more distinct parts are excluded from the
                     # projection (a mega-basket emits basket^2 pairs and
                     # carries no pairwise signal — same argument as the
                     # LP_MAX_DEG wedge cap, one level earlier)


def order_part_cells(spark, sf_dir: str) -> DataFrame:
    """(ok, pk): the distinct order->part incidence cells — persist()ed
    (r13-opt): the co-purchase projection AND x5_market_basket both open
    with this exact distinct over lineitem (the widest scan either
    touches); the basket-cap / support thresholds differ downstream, so
    only the shared distinct is cached."""
    from swiftbulkuploader_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct().persist()


def _copurchase_edges(spark, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edge list (a < b): parts co-ordered in >=
    LP_MIN_SHARED distinct orders, mega-baskets (> LP_BASKET_CAP distinct
    parts) excluded before the order-keyed self-join — see
    x8_link_prediction's docstring for the scale argument. The
    thresholded lineitem self-join is the expensive stage shared by
    x8_link_prediction and x8_label_propagation: a persisted session
    memo."""
    return memo.get(spark, "copurchase_edges", (sf_dir,),
                    lambda: _copurchase_projection(spark, sf_dir))


def _copurchase_projection(spark, sf_dir: str) -> DataFrame:
    cells = order_part_cells(spark, sf_dir)
    bsize = cells.groupBy("ok").agg(F.count(F.lit(1)).alias("bs"))
    cells = cells.join(
        bsize.where(F.col("bs") <= LP_BASKET_CAP).select("ok"), "ok"
    )
    c1 = cells.select("ok", F.col("pk").alias("a"))
    c2 = cells.select("ok", F.col("pk").alias("b"))
    return (
        c1.join(c2, "ok")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= LP_MIN_SHARED)
        .select("a", "b")
        .persist()
    )


def _copurchase_graph(spark, sf_dir: str):
    """(und, deg, nodes) over the co-purchase projection, persist()ed and
    memoized (r13-opt): und = symmetrized (a, b) edge list, deg = (node, d)
    undirected degree, nodes = deg's key column. Five x8/x1 consumers
    (link_prediction, label_propagation, lpa_modularity, bfs_layers, ppr)
    each re-derived these per call — a union + a degree shuffle + a
    distinct, several of them behind an extra per-call eager checkpoint.
    Derived lazily from the persisted projection, so the first consumer
    materializes and everyone else (and every bench rep) reuses. Column
    renames at the call sites are projections — values identical."""
    return memo.get(spark, "copurchase_graph", (sf_dir,),
                    lambda: _copurchase_graph_tables(spark, sf_dir))


def _copurchase_graph_tables(spark, sf_dir: str):
    e = _copurchase_edges(spark, sf_dir)
    # eager checkpoints, ONCE per session (r13-opt): a lazily-persisted
    # union kept 2x the partition count flowing into every consumer's
    # joins (the x8_ppr rounds ran 64-task stages) — the flat
    # checkpointed frame restores the per-call-checkpoint plan shape at
    # one amortized job instead of one per call
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = (
        und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("a").alias("node"), "d")
        .localCheckpoint(eager=True)
    )
    # every node of und carries >= 1 edge, so deg's key set IS the node set
    return und, deg, deg.select("node")


def x8_link_prediction(spark, sf_dir: str) -> DataFrame:
    """Distance-2 link prediction over the CO-PURCHASE graph (parts joined
    by an edge when they appear together in >= LP_MIN_SHARED distinct
    orders — the bipartite order->part projection): for every non-adjacent
    pair sharing >= 1 common neighbor, the three classic scores
    (Liben-Nowell & Kleinberg CIKM'03) — common-neighbor count,
    neighborhood Jaccard cn/(da+db-cn), and Adamic-Adar sum 1/ln(deg(m)).
    This is the item-item recommendation primitive ("parts likely to be
    ordered together next"), and the min-shared threshold makes the
    projection itself a thresholded similarity join, so the graph stays
    sparse as orders scale. (The near-dup document graph is the WRONG
    substrate here: its components are cliques by construction, so its
    distance-2 non-edge set is empty — zero verification power.)

    Shape: one order-keyed projection self-join (fan-out parts-per-order
    squared — so baskets above LP_BASKET_CAP distinct parts are excluded
    first; a mega-basket emits basket^2 pairs and carries no pairwise
    signal), one co-occurrence aggregate,
    then one wedge self-join through the common neighbor m, one (x, y)
    aggregate, one anti-join against the edge list, two degree lookups.
    The wedge fan-out is inherently deg(m)^2 per common neighbor — a hub
    item (deg ~10^5 at scale) would emit ~10^10 wedges — so common
    neighbors with deg > LP_MAX_DEG are EXCLUDED before the self-join:
    standard practice (an item co-bought with everything carries no
    predictive signal — Adamic-Adar's 1/ln(d) down-weighting taken to its
    limit), part of the declared semantics, replayed by the oracle, and it
    bounds the join to LP_MAX_DEG^2 wedges per center. Surviving common
    neighbors have deg >= 2, so ln(deg) > 0 — no division guard.
    cn/jaccard are exact integer-derived divisions; only adamic_adar
    carries summation-order ulps."""
    from swiftbulkuploader_spark.catalog import load_table

    e = _copurchase_edges(spark, sf_dir)
    und, deg, _nodes = _copurchase_graph(spark, sf_dir)
    # cap BEFORE the self-join: only sub-hub centers generate wedges
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
            F.col("x").alias("a"),
            F.col("y").alias("b"),
            F.col("cn").cast("long").alias("cn"),
            (
                F.col("cn").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("cn")).cast("double")
            ).alias("jaccard"),
            "adamic_adar",
        )
    )


QUERIES["x8_link_prediction"] = x8_link_prediction


LPA_ITERS = 3

def x8_label_propagation(spark, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (Raghavan et al., PRE'07)
    over the CO-PURCHASE graph — the cheap communities pass a corpus
    pipeline runs to group items/sources before per-community caps or
    mixing decisions. The substrate is the same thresholded projection
    x8_link_prediction scores (memoized `_copurchase_edges`): unipartite
    and triangle-rich, so labels genuinely coalesce — the bipartite
    user->item graph would OSCILLATE under synchronous updates (2-cycle
    label swap across the two sides), the dead-substrate class the r7
    link-prediction lesson warns about.

    Fully DETERMINISTIC so the result is oracle-checkable: synchronous
    updates, FIXED 3 rounds, each node takes the most frequent label
    among its neighbors, ties broken by the smallest label (a total
    order — no random tie-break). All arithmetic is integer (labels,
    counts): the compare is exact, no float discipline needed.

    Spark round = one shuffle join (labels->edges) + one (node, label)
    count + a node-PARTITIONED row_number window; the linear 3-round
    chain needs no checkpoint (the projection itself is persisted once).
    DuckDB unrolls the same three rounds as MATERIALIZED CTEs
    (CLAUDE.md 11a). At 100 TB: rounds are plain hash-join shuffles on
    the node key; the projection's basket/threshold caps keep the edge
    list sparse as orders scale.

    The labels are consumed by BOTH x8_label_propagation and
    x8_lpa_modularity: a persisted session memo (CLAUDE.md 11a)."""
    return memo.get(spark, "lpa_labels", (sf_dir,),
                    lambda: _lpa_labels(spark, sf_dir))


def _lpa_labels(spark, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    und, _deg, nodes = _copurchase_graph(spark, sf_dir)
    labels = nodes.withColumn("label", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label").asc())
    for _ in range(LPA_ITERS):
        labels = (
            und.join(labels.select(F.col("node").alias("a"), "label"), "a")
            .groupBy(F.col("b").alias("node"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.persist()


QUERIES["x8_label_propagation"] = x8_label_propagation

# three unrolled synchronous LPA rounds over the link-prediction
# projection, integer-only arithmetic; round CTEs MATERIALIZED (each is
# referenced by the next round's join — CLAUDE.md 11a: un-materialized
# round CTEs re-expand exponentially in DuckDB)
_LPA_ROUND_SQL = """
    {name} AS {mat} (
        SELECT node, label FROM (
            SELECT e.b AS node, l.label,
                   row_number() OVER (PARTITION BY e.b
                                      ORDER BY count(*) DESC, l.label ASC)
                       AS rn
            FROM und e JOIN {prev} l ON e.a = l.node
            GROUP BY e.b, l.label
        ) WHERE rn = 1
    )"""

ORACLES["x8_label_propagation"] = f"""
    WITH cells0 AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), cells AS (
        SELECT * FROM cells0
        WHERE ok IN (SELECT ok FROM cells0
                     GROUP BY ok HAVING count(*) <= {LP_BASKET_CAP})
    ), e0 AS (
        SELECT c1.pk AS a, c2.pk AS b
        FROM cells c1 JOIN cells c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
        GROUP BY 1, 2
        HAVING count(*) >= {LP_MIN_SHARED}
    ), und AS MATERIALIZED (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), l0 AS (
        SELECT DISTINCT a AS node, a AS label FROM und
    ),{_LPA_ROUND_SQL.format(name="r1", prev="l0", mat="MATERIALIZED")},{
        _LPA_ROUND_SQL.format(name="r2", prev="r1", mat="MATERIALIZED")},{
        _LPA_ROUND_SQL.format(name="r3", prev="r2", mat="MATERIALIZED")}
    SELECT node, label FROM r3
"""

ORACLES["x8_link_prediction"] = f"""
    WITH cells0 AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), cells AS (
        SELECT * FROM cells0
        WHERE ok IN (SELECT ok FROM cells0
                     GROUP BY ok HAVING count(*) <= {LP_BASKET_CAP})
    ), e0 AS (
        SELECT c1.pk AS a, c2.pk AS b
        FROM cells c1 JOIN cells c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
        GROUP BY 1, 2
        HAVING count(*) >= {LP_MIN_SHARED}
    ), und AS (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), deg AS (
        SELECT a AS node, count(*) AS d FROM und GROUP BY a
    ), capped AS (
        SELECT und.a, und.b, dg.d AS dm
        FROM und JOIN deg dg ON und.a = dg.node
        WHERE dg.d <= {LP_MAX_DEG}
    ), wedges AS (
        SELECT u1.b AS x, u2.b AS y, u1.dm
        FROM capped u1
        JOIN capped u2 ON u1.a = u2.a AND u1.b < u2.b
    ), cand AS (
        SELECT x, y, count(*) AS cn,
               sum(CAST(1 AS DOUBLE) / ln(CAST(dm AS DOUBLE))) AS adamic_adar
        FROM wedges GROUP BY x, y
    ), non_edges AS (
        SELECT c.* FROM cand c
        ANTI JOIN e0 ON c.x = e0.a AND c.y = e0.b
    )
    SELECT ne.x AS a, ne.y AS b, CAST(ne.cn AS BIGINT) AS cn,
           CAST(ne.cn AS DOUBLE) / CAST(dx.d + dy.d - ne.cn AS DOUBLE) AS jaccard,
           ne.adamic_adar
    FROM non_edges ne
    JOIN deg dx ON ne.x = dx.node
    JOIN deg dy ON ne.y = dy.node
"""


def x8_clustering_coeff(spark, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the deterministic
    near-dup graph: lcc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)) —
    the node-level companion to x8_triangle_count's global transitivity.
    The dedup read: a node with high degree and LOW lcc is a hub chaining
    unlike documents (its neighbors are not near-dups of each other),
    i.e. exactly where transitive-closure dedup over-merges; clique
    members sit at lcc ~ 1.

    Shape: the same degree-ordered oriented wedge enumeration as the
    count query (per-node fan-out O(sqrt m)), but keeping the (u, v, w)
    triangle rows and exploding them so each triangle credits all three
    corners; one (node) aggregate and one left join back to the degree
    table. lcc is an exact integer division; degree-1 nodes get NULL
    (undefined, not 0). Degree table and oriented edges ride the
    memoized persisted graph views (_dup_graph_deg /
    _oriented_dup_edges, shared with x8_triangle_count)."""
    _, deg = _dup_graph_deg(spark, sf_dir)
    o = _oriented_dup_edges(spark, sf_dir)
    tri = (
        o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(o.select(F.col("src").alias("v"), F.col("dst").alias("w")), "v")
        .join(o.select(F.col("src").alias("u"), F.col("dst").alias("w")), ["u", "w"])
    )
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    lcc = F.when(
        F.col("d") >= 2,
        (F.lit(2.0) * F.coalesce("t", F.lit(0)).cast("double"))
        / (F.col("d") * (F.col("d") - 1)).cast("double"),
    )
    return deg.join(per_node, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.col("d").cast("long").alias("degree"),
        F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
        lcc.alias("lcc"),
    )


QUERIES["x8_clustering_coeff"] = x8_clustering_coeff

ORACLES["x8_clustering_coeff"] = _E0_CTES + """
    , und AS (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), deg AS (
        SELECT a AS node, count(*) AS d FROM und GROUP BY a
    ), o AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                    THEN e0.a ELSE e0.b END AS src,
               CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                    THEN e0.b ELSE e0.a END AS dst
        FROM e0
        JOIN deg da ON e0.a = da.node
        JOIN deg db ON e0.b = db.node
    ), tri AS (
        SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
        FROM o o1
        JOIN o o2 ON o1.dst = o2.src
        JOIN o o3 ON o3.src = o1.src AND o3.dst = o2.dst
    ), per_node AS (
        SELECT node, count(*) AS t
        FROM (SELECT unnest([u, v, w]) AS node FROM tri)
        GROUP BY node
    )
    SELECT deg.node AS doc_id,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(per_node.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN CAST(2 AS DOUBLE) * coalesce(per_node.t, 0)
                     / CAST(deg.d * (deg.d - 1) AS DOUBLE)
           END AS lcc
    FROM deg LEFT JOIN per_node ON deg.node = per_node.node
"""


def x1_lsh_recall_eval(spark, sf_dir: str) -> DataFrame:
    """MEASURED recall of the deterministic MinHash-LSH banding against the
    exact all-pairs ground truth at the same tau=0.5 threshold — the number
    that justifies (or indicts) running LSH instead of the prefix-filtered
    exact join at scale: n_hit/n_truth is the banding's miss rate made
    visible (8 bands x 4 rows misses a pair at J=0.5 with probability
    ~(1-0.5^4)^8 ~ 0.58 — borderline pairs ARE missed, and this query
    reports exactly how many), while n_hit/n_candidates isolates the
    32-bit-hash inflation of the LSH side's verify.

    Both pair generators are deterministic, memoized/persisted session
    bases (the allpairs memo; the minhash pipeline's shared shingle base),
    so the eval costs two bounded aggregates and one semi-join over frames
    the dedup family already materialized. Three 1-row summaries
    cross-join for the single-row report (bounded BNLJ, allowlisted).
    Oracle nests BOTH generated pipelines as MATERIALIZED CTEs."""
    from swiftbulkuploader_spark.operators.dedup import (
        allpairs_prefix_pairs,
        minhash_corpus_pairs,
    )

    gt = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    mh = minhash_corpus_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    hit = gt.join(mh, ["a", "b"], "left_semi")
    s1 = gt.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    s2 = mh.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    s3 = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (
        s1.crossJoin(s2).crossJoin(s3)  # bounded: three 1-row summaries
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_truth").cast("double"), F.lit(0.0))
            ).alias("recall"),
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_candidates").cast("double"), F.lit(0.0))
            ).alias("precision_vs_truth"),
        )
    )


QUERIES["x1_lsh_recall_eval"] = x1_lsh_recall_eval


def _lsh_recall_oracle_sql() -> str:
    from swiftbulkuploader_spark.operators.dedup import _minhash_exact_oracle_sql

    return f"""
    WITH gt AS MATERIALIZED (
        {_E0_CTES} SELECT a, b FROM e0
    ), mh AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b FROM ({_minhash_exact_oracle_sql()})
    ), hit AS (
        SELECT gt.a, gt.b FROM gt SEMI JOIN mh USING (a, b)
    ), s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM gt),
    s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM mh),
    s3 AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM hit)
    SELECT n_truth, n_candidates, n_hit,
           CAST(n_hit AS DOUBLE)
               / nullif(CAST(n_truth AS DOUBLE), CAST(0 AS DOUBLE)) AS recall,
           CAST(n_hit AS DOUBLE)
               / nullif(CAST(n_candidates AS DOUBLE), CAST(0 AS DOUBLE))
               AS precision_vs_truth
    FROM s1 CROSS JOIN s2 CROSS JOIN s3
"""


ORACLES["x1_lsh_recall_eval"] = _lsh_recall_oracle_sql()


def x1_simhash_recall_eval(spark, sf_dir: str) -> DataFrame:
    """MEASURED recall of the SimHash near-dup detector (32-bit oracled
    fingerprint, 4x8-bit pigeonhole banding, hamming <= 3) against the
    exact all-pairs Jaccard ground truth at tau=0.5 — the SimHash twin of
    x1_lsh_recall_eval (the round-7 verdict's ask #5): the banding itself
    is LOSSLESS for hamming <= 3 by pigeonhole, so what this measures is
    the FINGERPRINT's recall — how many truly-similar (J >= 0.5) pairs
    land within 3 bits of each other on a 32-bit SimHash — plus how many
    hamming-close pairs are NOT Jaccard-similar (precision_vs_truth).
    That is the pair of numbers that decides between the MinHash and
    SimHash detectors at scale.

    Both pair generators are deterministic session bases (the allpairs
    ground truth is the persisted allpairs memo frame shared by seven
    queries; the SimHash side is the oracled x1_simhash_exact plan).
    Three 1-row summaries cross-join for the single-row report (bounded
    BNLJ, allowlisted). Oracle nests BOTH generated pipelines as
    MATERIALIZED CTEs — the x1_lsh_recall_eval pattern."""
    from swiftbulkuploader_spark.operators.dedup import (
        allpairs_prefix_pairs,
        x1_simhash_exact,
    )

    gt = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    sh = x1_simhash_exact(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    hit = gt.join(sh, ["a", "b"], "left_semi")
    s1 = gt.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    s2 = sh.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    s3 = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (
        s1.crossJoin(s2).crossJoin(s3)  # bounded: three 1-row summaries
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_truth").cast("double"), F.lit(0.0))
            ).alias("recall"),
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_candidates").cast("double"), F.lit(0.0))
            ).alias("precision_vs_truth"),
        )
    )


QUERIES["x1_simhash_recall_eval"] = x1_simhash_recall_eval


def _simhash_recall_oracle_sql() -> str:
    from swiftbulkuploader_spark.operators.dedup import ORACLES as _DEDUP_ORACLES

    return f"""
    WITH gt AS MATERIALIZED (
        {_E0_CTES} SELECT a, b FROM e0
    ), sh AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b
        FROM ({_DEDUP_ORACLES["x1_simhash_exact"]})
    ), hit AS (
        SELECT gt.a, gt.b FROM gt SEMI JOIN sh USING (a, b)
    ), s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM gt),
    s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM sh),
    s3 AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM hit)
    SELECT n_truth, n_candidates, n_hit,
           CAST(n_hit AS DOUBLE)
               / nullif(CAST(n_truth AS DOUBLE), CAST(0 AS DOUBLE)) AS recall,
           CAST(n_hit AS DOUBLE)
               / nullif(CAST(n_candidates AS DOUBLE), CAST(0 AS DOUBLE))
               AS precision_vs_truth
    FROM s1 CROSS JOIN s2 CROSS JOIN s3
"""


ORACLES["x1_simhash_recall_eval"] = _simhash_recall_oracle_sql()


def x8_modularity(spark, sf_dir: str) -> DataFrame:
    """Newman modularity of the SOURCE partition over the near-dup graph —
    the cross-source duplication diagnostic a mixture owner reads before
    dedup: Q near its maximum means duplicate pairs stay inside their
    source (dedup per-source is safe and cheap); Q near 0 means dup edges
    cross sources no more than the degree null model predicts (global
    dedup is required, per-source passes would miss the mass).
    Q = sum_s [ m_s/m - (D_s/2m)^2 ] over communities = `source` labels
    (Newman & Girvan 2004; attribute partition, not a detected one).

    Scale shape: edges are the shared prefix-filtered exact-Jaccard pair
    frame (the allpairs memo — the substrate every x8 query reuses); two
    broadcast joins attach endpoint sources (documents is the dimension
    side); everything aggregates to one row per source (bounded label
    alphabet). EXACTNESS: m, m_s, D_s and their totals are integers, and
    Q_total is computed FROM the integer totals (sum_m_intra/m -
    sum_Dsq/(4 m^2)) — one division expression per output value, no
    float summation anywhere, so both engines produce bit-identical
    doubles. The 1-row totals attach via broadcast cross join (bounded
    BNLJ, allowlisted).

    Reference parity: no graph analytics in the reference (§2.9
    north-star extension)."""
    from swiftbulkuploader_spark.catalog import load_table
    from swiftbulkuploader_spark.operators.dedup import allpairs_prefix_pairs

    e = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ej = (
        e.join(
            F.broadcast(src.select(F.col("doc_id").alias("a"),
                                   F.col("source").alias("sa"))), "a"
        ).join(
            F.broadcast(src.select(F.col("doc_id").alias("b"),
                                   F.col("source").alias("sb"))), "b"
        )
    )
    und = ej.select(F.col("sa").alias("s")).union(
        ej.select(F.col("sb").alias("s"))
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("deg_sum"))
    intra = (
        ej.filter(F.col("sa") == F.col("sb"))
        .groupBy(F.col("sa").alias("s"))
        .agg(F.count(F.lit(1)).alias("n_intra_edges"))
    )
    per_s = deg.join(intra, "s", "left").na.fill({"n_intra_edges": 0})
    totals = ej.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.when(F.col("sa") == F.col("sb"), 1).otherwise(0)).alias(
            "m_intra_total"
        ),
    )
    dsq = deg.agg(F.sum(F.col("deg_sum") * F.col("deg_sum")).alias("sum_dsq"))
    md = F.col("m").cast("double")
    out = (
        per_s.crossJoin(F.broadcast(totals))  # bounded: 1-row totals
        .crossJoin(F.broadcast(dsq))
        .select(
            F.col("s").alias("source"),
            F.col("n_intra_edges").cast("long").alias("n_intra_edges"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            (F.col("n_intra_edges").cast("double") / md).alias("frac_intra"),
            (
                (F.col("deg_sum").cast("double") / (F.lit(2.0) * md))
                * (F.col("deg_sum").cast("double") / (F.lit(2.0) * md))
            ).alias("expected_frac"),
            (
                F.col("m_intra_total").cast("double") / md
                - F.col("sum_dsq").cast("double")
                / (F.lit(4.0) * md * md)
            ).alias("q_total"),
        )
    )
    return out


QUERIES["x8_modularity"] = x8_modularity

ORACLES["x8_modularity"] = _E0_CTES + """
    , ej AS (
        SELECT e0.a, e0.b, da.source AS sa, db.source AS sb
        FROM e0
        JOIN documents da ON e0.a = da.doc_id
        JOIN documents db ON e0.b = db.doc_id
    ), und AS (
        SELECT sa AS s FROM ej UNION ALL SELECT sb AS s FROM ej
    ), deg AS (
        SELECT s, count(*) AS deg_sum FROM und GROUP BY s
    ), intra AS (
        SELECT sa AS s, count(*) AS n_intra_edges
        FROM ej WHERE sa = sb GROUP BY sa
    ), totals AS (
        SELECT count(*) AS m,
               sum(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS m_intra_total
        FROM ej
    ), dsq AS (
        SELECT sum(deg_sum * deg_sum) AS sum_dsq FROM deg
    )
    SELECT d.s AS source,
           CAST(coalesce(i.n_intra_edges, 0) AS BIGINT) AS n_intra_edges,
           CAST(d.deg_sum AS BIGINT) AS deg_sum,
           CAST(coalesce(i.n_intra_edges, 0) AS DOUBLE)
               / CAST(t.m AS DOUBLE) AS frac_intra,
           (CAST(d.deg_sum AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(t.m AS DOUBLE)))
               * (CAST(d.deg_sum AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(t.m AS DOUBLE)))
               AS expected_frac,
           CAST(t.m_intra_total AS DOUBLE) / CAST(t.m AS DOUBLE)
               - CAST(q.sum_dsq AS DOUBLE)
                 / (CAST(4 AS DOUBLE) * CAST(t.m AS DOUBLE) * CAST(t.m AS DOUBLE))
               AS q_total
    FROM deg d
    LEFT JOIN intra i ON d.s = i.s
    CROSS JOIN totals t CROSS JOIN dsq q
"""


def x8_component_sizes(spark, sf_dir: str) -> DataFrame:
    """Component-size distribution of the near-dup graph — the first
    number a dedup report leads with: lots of size-2/3 clusters means
    routine duplication (safe to collapse), while a heavy tail or one
    giant component is the LSH false-merge alarm that x8_triangle_count's
    transitivity then explains. Output: one row per distinct component
    size with the component count and total docs bound in components of
    that size.

    Scale shape: the same star-closure labels as x1_dup_clusters_star
    (O(log n) rounds over the shared allpairs memo edge frame), then
    two tiny aggregates (component -> size -> histogram). The oracle
    replays the TRUE transitive closure via a recursive CTE, so this also
    re-certifies the star fixed point, histogram-shaped."""
    comp = allpairs_star_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


QUERIES["x8_component_sizes"] = x8_component_sizes

ORACLES["x8_component_sizes"] = """
    WITH RECURSIVE t AS (
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
    ), e0 AS (
        SELECT a, b
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= CAST(0.5 AS DOUBLE)
    ), edges AS (
        SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0
    ), reach(node, label) AS (
        SELECT DISTINCT a AS node, a AS label FROM edges
        UNION
        SELECT e.a AS node, r.label
        FROM edges e JOIN reach r ON e.b = r.node
    ), comp AS (
        SELECT node, min(label) AS component FROM reach GROUP BY node
    ), csz AS (
        SELECT component, count(*) AS csize FROM comp GROUP BY component
    )
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(csize * count(*) AS BIGINT) AS n_docs
    FROM csz GROUP BY csize
"""


# ---------------------------------------------------------------------------
# X1 — incremental dup-cluster maintenance (r9 verdict ask #8)
# ---------------------------------------------------------------------------


def incremental_components(frozen_labels: DataFrame,
                           new_edges: DataFrame) -> DataFrame:
    """Merge a NEW batch's edges into an EXISTING component labeling
    without recomputing the frozen graph — the cluster-maintenance
    continuation of x1_incremental_dedup's screening.

    ``frozen_labels`` (node, label) is the persisted labeling of the
    frozen corpus (label = min node of its component, the
    connected_components invariant, and must cover every frozen endpoint
    the new edges touch — untouched frozen endpoints default to
    singleton labels via the left-join coalesce). ``new_edges`` (a, b)
    are the batch's near-dup pairs: new x frozen and new x new (a batch
    never adds frozen x frozen edges).

    Soundness of the contraction: a frozen component is transitively
    closed, so replacing each frozen endpoint by its LABEL preserves
    exactly the connectivity the new edges can add — any path through a
    frozen cluster's interior enters and leaves through nodes that share
    the label. Closing the CONTRACTED graph (new docs + touched labels;
    size proportional to the batch, never the corpus) therefore yields
    the same merged components as a from-scratch closure of the union
    graph, with the same min-id labels (a frozen label IS the min of its
    cluster). The DuckDB oracle of x1_incremental_clusters recomputes
    the union closure from scratch — the equality IS the correctness
    claim.

    Returns the UPDATED full labeling: every frozen_labels node plus
    every new node appearing in new_edges, as (node, cluster_id).
    Frozen components untouched by any new edge keep their label
    verbatim (pinned by test_components: empty batch == identity)."""
    lab = frozen_labels.select("node", "label")
    e = new_edges.select("a", "b")
    for side in ("a", "b"):
        e = (
            e.join(
                lab.select(
                    F.col("node").alias(side),
                    F.col("label").alias(f"_{side}l"),
                ),
                side,
                "left",
            )
            .withColumn(side, F.coalesce(f"_{side}l", F.col(side)))
            .drop(f"_{side}l")
        )
    # closure of the bounded contracted graph only
    cc2 = connected_components(e)
    remap = cc2.select(
        F.col("node").alias("label"), F.col("component").alias("new_label")
    )
    frozen_final = lab.join(remap, "label", "left").select(
        "node", F.coalesce("new_label", "label").alias("cluster_id")
    )
    new_nodes = (
        new_edges.select(F.col("a").alias("node"))
        .union(new_edges.select(F.col("b").alias("node")))
        .distinct()
        .join(lab.select("node"), "node", "left_anti")
    )
    new_final = new_nodes.join(
        cc2.withColumnRenamed("component", "cluster_id"), "node"
    ).select("node", "cluster_id")
    return frozen_final.unionByName(new_final)


# two-epoch fixture memo (r13-opt): the FROZEN-corpus labeling is exactly
# what the stream twin's prepare_frozen_labels materializes ONCE before any
# batch runs ("the persisted labeling a production pipeline reads, not
# recomputes" — the docstring below); the contract query was re-closing it
# per call (a full connected_components loop: ~5 eager driver-blocking
# jobs). Memoize (frozen_labels, new_edges) per session; the
# INCREMENTAL contraction — the behavior under test — still runs per call.
def _incremental_fixture(spark, sf_dir: str) -> tuple:
    return memo.get(spark, "incremental_fixture", (sf_dir,),
                    lambda: _incremental_fixture_build(spark, sf_dir))


def _incremental_fixture_build(spark, sf_dir: str) -> tuple:
    from swiftbulkuploader_spark.operators.dedup import (
        allpairs_prefix_pairs,
    )

    pairs = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    a_new = (F.col("a") % 5) == 0
    b_new = (F.col("b") % 5) == 0
    frozen_edges = pairs.filter(~a_new & ~b_new)
    new_edges = pairs.filter(a_new | b_new).localCheckpoint(eager=True)

    frozen_cc = connected_components(frozen_edges).select(
        "node", F.col("component").alias("label")
    )
    # singleton labels for frozen endpoints only the batch touches
    touched_frozen = (
        new_edges.select(F.col("a").alias("node"))
        .union(new_edges.select(F.col("b").alias("node")))
        .filter((F.col("node") % 5) != 0)
        .distinct()
        .join(frozen_cc.select("node"), "node", "left_anti")
        .withColumn("label", F.col("node"))
    )
    frozen_labels = frozen_cc.unionByName(touched_frozen).localCheckpoint(
        eager=True
    )
    return frozen_labels, new_edges


def x1_incremental_clusters(spark, sf_dir: str) -> DataFrame:
    """Incremental dup-cluster maintenance over the two-epoch fixture
    (doc_id % 5 == 0 is the new batch — x1_incremental_dedup's split):
    the frozen corpus's components are closed once (the "persisted
    labeling" a production pipeline reads, not recomputes), the batch's
    edges (new x frozen + new x new from the SAME deterministic
    exact-Jaccard pair graph as x1_dup_clusters_exact) are contracted
    onto frozen labels, and only the batch-sized contracted graph is
    closed. Output: the updated (doc_id, cluster_id, is_new) labeling.

    The oracle recomputes the union-graph transitive closure from
    scratch (recursive reachability CTE — no fixed-round assumption), so
    every verify run re-proves incremental == from-scratch. In
    production the frozen labeling and the pair substrates are persisted
    tables (dedup.build_frozen_substrates's discipline); here the
    fixture derives them in-query from the shared memoized pair frame
    (the allpairs memo), so the incremental path adds no second posting
    join."""
    frozen_labels, new_edges = _incremental_fixture(spark, sf_dir)
    out = incremental_components(frozen_labels, new_edges)
    return out.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        ((F.col("node") % 5) == 0).alias("is_new"),
    )


QUERIES["x1_incremental_clusters"] = x1_incremental_clusters

ORACLES["x1_incremental_clusters"] = """
    WITH RECURSIVE t AS (
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
    ), e0 AS (
        SELECT a, b
        FROM pr
        JOIN sz sa ON pr.a = sa.doc_id
        JOIN sz sb ON pr.b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= CAST(0.5 AS DOUBLE)
    ), edges AS (
        SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0
    ), reach(node, label) AS (
        SELECT DISTINCT a AS node, a AS label FROM edges
        UNION
        SELECT e.a AS node, r.label
        FROM edges e JOIN reach r ON e.b = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id,
           node % 5 = 0 AS is_new
    FROM reach GROUP BY node
"""


def x8_lpa_modularity(spark, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the EVALUATION of the
    learned structure (x8_label_propagation's output), closing the
    detect->score loop a pipeline needs before acting on communities:
    per community c, its node count, internal-edge count e_c, total
    degree d_c, and modularity term e_c/m - (d_c/2m)^2 (global Q is
    their sum; a labeling no better than random degree-matched wiring
    scores ~0).

    All counts are integers on the shared memoized projection (the
    per-round LPA chain re-runs over the persisted edge frame — cheap,
    integer-deterministic); the only doubles are the fixed-shape final
    terms, with the 1-row edge total attached via cross join (bounded
    BNLJ, allowlisted). Oracle composes the unrolled LPA rounds with
    the modularity CTEs."""
    from pyspark.sql import functions as F

    e = _copurchase_edges(spark, sf_dir)
    _und, deg, _nodes = _copurchase_graph(spark, sf_dir)
    labels = x8_label_propagation(spark, sf_dir)
    m_tot = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    lab_a = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lab_b = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    e_in = (
        e.join(lab_a, "a").join(lab_b, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    d_tot = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_tot"),
        )
    )
    md = F.col("m").cast("double")
    half = F.col("d_tot").cast("double") / (F.lit(2.0) * md)
    return (
        d_tot.join(e_in, "label", "left")
        .crossJoin(F.broadcast(m_tot))
        .select(
            "label", "n_nodes",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
            "d_tot",
            (
                F.coalesce(F.col("e_in"), F.lit(0)).cast("double") / md
                - half * half
            ).alias("q_term"),
        )
    )


QUERIES["x8_lpa_modularity"] = x8_lpa_modularity

ORACLES["x8_lpa_modularity"] = f"""
    WITH cells0 AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), cells AS (
        SELECT * FROM cells0
        WHERE ok IN (SELECT ok FROM cells0
                     GROUP BY ok HAVING count(*) <= {LP_BASKET_CAP})
    ), e0 AS MATERIALIZED (
        SELECT c1.pk AS a, c2.pk AS b
        FROM cells c1 JOIN cells c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
        GROUP BY 1, 2
        HAVING count(*) >= {LP_MIN_SHARED}
    ), und AS MATERIALIZED (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), l0 AS (
        SELECT DISTINCT a AS node, a AS label FROM und
    ),{_LPA_ROUND_SQL.format(name="r1", prev="l0", mat="MATERIALIZED")},{
        _LPA_ROUND_SQL.format(name="r2", prev="r1", mat="MATERIALIZED")},{
        _LPA_ROUND_SQL.format(name="r3", prev="r2", mat="MATERIALIZED")},
    mt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    ein AS (
        SELECT la.label, CAST(count(*) AS BIGINT) AS e_in
        FROM e0
        JOIN r3 la ON e0.a = la.node
        JOIN r3 lb ON e0.b = lb.node
        WHERE la.label = lb.label
        GROUP BY 1
    ), deg AS (
        SELECT a AS node, count(*) AS d FROM und GROUP BY 1
    ), dt AS (
        SELECT r3.label,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(deg.d) AS BIGINT) AS d_tot
        FROM r3 JOIN deg ON r3.node = deg.node
        GROUP BY 1
    )
    SELECT dt.label, dt.n_nodes,
           CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in,
           dt.d_tot,
           CAST(coalesce(ein.e_in, 0) AS DOUBLE) / CAST(mt.m AS DOUBLE)
           - (CAST(dt.d_tot AS DOUBLE) / (2.0 * CAST(mt.m AS DOUBLE)))
             * (CAST(dt.d_tot AS DOUBLE) / (2.0 * CAST(mt.m AS DOUBLE)))
               AS q_term
    FROM dt LEFT JOIN ein ON dt.label = ein.label
    CROSS JOIN mt
"""


BFS_ROUNDS = 3
BFS_SEED_MOD = 100  # seeds: projection nodes with part id % 100 == 0


def x8_bfs_layers(spark, sf_dir: str) -> DataFrame:
    """Multi-source BFS distance layers over the co-purchase projection
    — the shortest-hop structure none of the other x8 readouts expose
    (CC gives membership, PageRank mass, LPA communities; BFS gives
    PROXIMITY to a seed set — the 'how far is every item from the
    catalog anchors' question recommendation backfills ask). Seeds are
    the projection nodes with id % BFS_SEED_MOD == 0 (2 at sf0.001, 20
    at sf0.01 — every layer 0..3 populated at both, pinned); output is
    (node, dist) for nodes reached within BFS_ROUNDS hops.

    Fixed-round frontier expansion (the x8_pagerank budget discipline):
    per round one hash join frontier->edges + one anti-join against the
    visited set, over the memoized persisted projection
    (the _copurchase_edges memo) — round cost ∝ frontier edges, never graph
    size. The DuckDB oracle unrolls the same three rounds as
    MATERIALIZED CTEs (CLAUDE.md 11a)."""
    und, _deg, nodes = _copurchase_graph(spark, sf_dir)
    visited = (
        nodes.filter(F.col("node") % BFS_SEED_MOD == 0)
        .withColumn("dist", F.lit(0))
    )
    frontier = visited.select("node")
    for r in range(1, BFS_ROUNDS + 1):
        nxt = (
            und.join(frontier.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(r))
            # read twice next round (frontier join + visited anti-join):
            # materialize so the union lineage doesn't re-execute
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited.select("node", F.col("dist").cast("int").alias("dist"))


QUERIES["x8_bfs_layers"] = x8_bfs_layers

_BFS_ROUND_SQL = """{name} AS MATERIALIZED (
        SELECT DISTINCT u.b AS node
        FROM und u JOIN {prev} f ON u.a = f.node
        WHERE u.b NOT IN (SELECT node FROM {vis})
    ), {vis_next} AS MATERIALIZED (
        SELECT node, dist FROM {vis}
        UNION ALL SELECT node, {r} AS dist FROM {name}
    )"""

ORACLES["x8_bfs_layers"] = f"""
    WITH cells0 AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), cells AS (
        SELECT * FROM cells0
        WHERE ok IN (SELECT ok FROM cells0
                     GROUP BY ok HAVING count(*) <= {LP_BASKET_CAP})
    ), e0 AS MATERIALIZED (
        SELECT c1.pk AS a, c2.pk AS b
        FROM cells c1 JOIN cells c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
        GROUP BY 1, 2
        HAVING count(*) >= {LP_MIN_SHARED}
    ), und AS MATERIALIZED (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), v0 AS MATERIALIZED (
        SELECT DISTINCT a AS node, 0 AS dist FROM und
        WHERE a % {BFS_SEED_MOD} = 0
    ), f0 AS (SELECT node FROM v0),
    {_BFS_ROUND_SQL.format(name="f1", prev="f0", vis="v0",
                           vis_next="v1", r=1)},
    {_BFS_ROUND_SQL.format(name="f2", prev="f1", vis="v1",
                           vis_next="v2", r=2)},
    {_BFS_ROUND_SQL.format(name="f3", prev="f2", vis="v2",
                           vis_next="v3", r=3)}
    SELECT node, CAST(dist AS INT) AS dist FROM v3
"""


# ---------------------------------------------------------------------------
# X8 — personalized PageRank (round 12 widening)
# ---------------------------------------------------------------------------

PPR_ALPHA = 0.15   # restart probability (mass returned to the seed)
PPR_ITERS = 3      # fixed budget: the x8_pagerank oracle discipline

# seed-scalar memo (r13-opt): min node of the memoized projection is a
# session constant — one bounded 1-row job, not one per bench rep
def _ppr_seed(spark, sf_dir: str) -> int:
    return memo.get(spark, "ppr_seed", (sf_dir,), lambda: _copurchase_graph(
        spark, sf_dir)[2].agg(F.min("node")).first()[0])


def x8_ppr(spark, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a single seed item over the CO-PURCHASE
    graph — the 'related items for THIS item' primitive (random walk with
    restart; Jeh & Widom WWW'03 scaled-personalization setting), and the
    seed-conditioned complement to x8_pagerank's global importance: at
    equal cost per round, the walk mass concentrates in the seed's
    community instead of the global hubs.

    Deterministic and fully oracled: seed = MIN node id of the projection
    (a stable choice at every SF), p0 = e_seed, then PPR_ITERS synchronous
    rounds of p <- alpha*e_seed + (1-alpha) * P^T p over the memoized
    undirected projection (_copurchase_edges). DuckDB unrolls the same
    rounds as chained MATERIALIZED CTEs; every step is forced IEEE double
    on both engines and the 9-sig hash normalization absorbs
    summation-order ulps (the x8_pagerank precedent). Nodes the walk has
    not reached report pr = 0.0 exactly (alpha-term 0 + 0.85 * 0).

    Spark round = one shuffle join (rank -> edges on src) + one dst
    aggregate + the node rebuild, localCheckpoint per round (linear
    chain, CLAUDE.md rule 4). At 100 TB the walk's frontier is
    community-local: contributions exist only where p > 0, so early
    rounds touch the seed's neighborhood, not the corpus."""
    cund, cdeg, nodes = _copurchase_graph(spark, sf_dir)
    und = cund.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    deg = cdeg.select(F.col("node").alias("src"), F.col("d").alias("outdeg"))
    seed = _ppr_seed(spark, sf_dir)  # bounded: 1 scalar, memoized
    seed_term = F.when(
        F.col("node") == F.lit(seed), F.lit(PPR_ALPHA)
    ).otherwise(F.lit(0.0))
    pr = nodes.select(
        "node",
        F.when(F.col("node") == F.lit(seed), F.lit(1.0))
        .otherwise(F.lit(0.0)).alias("pr"),
    )
    # linear 3-round chain over checkpointed base tables: no
    # intermediate checkpoint needed (the x8_pagerank round-12 lesson —
    # the eager materializations WERE the query's bench cost)
    for _ in range(PPR_ITERS):
        contrib = (
            und.join(deg, "src")
            .join(pr.select(F.col("node").alias("src"), "pr"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("in_pr"))
        )
        pr = (
            nodes.join(
                contrib.select(F.col("dst").alias("node"), "in_pr"),
                "node", "left",
            )
            .select(
                "node",
                (
                    seed_term
                    + F.lit(1.0 - PPR_ALPHA)
                    * F.coalesce("in_pr", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select("node", "pr")


QUERIES["x8_ppr"] = x8_ppr

_PPR_ROUND_SQL = """
    {name} AS MATERIALIZED (
        SELECT n.node,
               CAST(CASE WHEN n.node = (SELECT s FROM seed)
                         THEN {alpha} ELSE 0.0 END AS DOUBLE)
               + CAST({damp} AS DOUBLE) * coalesce(c.in_pr,
                                                   CAST(0.0 AS DOUBLE)) AS pr
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr / dg.d) AS in_pr
            FROM und e
            JOIN deg dg ON e.src = dg.node
            JOIN {prev} p ON e.src = p.node
            GROUP BY e.dst
        ) c ON c.node = n.node
    )"""

ORACLES["x8_ppr"] = f"""
    WITH cells0 AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), cells AS (
        SELECT * FROM cells0
        WHERE ok IN (SELECT ok FROM cells0
                     GROUP BY ok HAVING count(*) <= {LP_BASKET_CAP})
    ), e0 AS (
        SELECT c1.pk AS a, c2.pk AS b
        FROM cells c1 JOIN cells c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
        GROUP BY 1, 2
        HAVING count(*) >= {LP_MIN_SHARED}
    ), und AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM e0
        UNION ALL SELECT b AS src, a AS dst FROM e0
    ), deg AS MATERIALIZED (
        SELECT src AS node, count(*) AS d FROM und GROUP BY src
    ), nodes AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM und
    ), seed AS (
        SELECT min(node) AS s FROM nodes
    ), p0 AS (
        SELECT node,
               CAST(CASE WHEN node = (SELECT s FROM seed)
                         THEN 1.0 ELSE 0.0 END AS DOUBLE) AS pr
        FROM nodes
    ),{_PPR_ROUND_SQL.format(name="p1", prev="p0",
                             alpha=PPR_ALPHA, damp=1.0 - PPR_ALPHA)},{
        _PPR_ROUND_SQL.format(name="p2", prev="p1",
                              alpha=PPR_ALPHA, damp=1.0 - PPR_ALPHA)},{
        _PPR_ROUND_SQL.format(name="p3", prev="p2",
                              alpha=PPR_ALPHA, damp=1.0 - PPR_ALPHA)}
    SELECT node, pr FROM p3
"""


# ---------------------------------------------------------------------------
# X8 — local-bridge / edge-embeddedness triage of the near-dup graph
# (round 13, r12 verdict ask #6a)
# ---------------------------------------------------------------------------


def local_bridges_from_edges(edges: DataFrame,
                             und: DataFrame | None = None,
                             deg: DataFrame | None = None) -> DataFrame:
    """Edge embeddedness over an undirected (a < b) edge list: for every
    edge, the number of common neighbors (the triangles it closes), both
    endpoint degrees, the neighborhood-support Jaccard
    cn / (deg_a + deg_b - 2 - cn), and the LOCAL-BRIDGE flag
    (embeddedness 0 — Granovetter's span > 2 criterion: removing the
    edge puts its endpoints at distance >= 3). Factored from
    x8_local_bridges so crafted-graph tests pin the semantics.
    `und`/`deg` optionally supply the already-persisted symmetrized edge
    list and degree table (_dup_graph_deg) so the wedge join's two und
    references read cached blocks instead of re-running the union+agg
    subtree per branch (r13-opt)."""
    if und is None:
        und = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    if deg is None:
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
            F.col("a").alias("node"), "d"
        )
    cn = (
        edges.join(und.select(F.col("a").alias("a"),
                              F.col("b").alias("w")), "a")
        .join(und.select(F.col("a").alias("b"),
                         F.col("b").alias("w")), ["b", "w"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    denom = F.col("deg_a") + F.col("deg_b") - 2 - F.col("embeddedness")
    return (
        edges.join(cn, ["a", "b"], "left")
        .join(deg.select(F.col("node").alias("a"),
                         F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("d").alias("deg_b")), "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            F.coalesce(F.col("cn"), F.lit(0)).cast("long")
            .alias("embeddedness"),
        )
        .withColumn(
            "support",
            F.when(denom <= 0, F.lit(0.0)).otherwise(
                F.round(
                    F.col("embeddedness").cast("double")
                    / denom.cast("double"), 6,
                )
            ),
        )
        .withColumn("is_local_bridge", F.col("embeddedness") == 0)
    )


# Memoized persisted edge-embeddedness frame of the tau=0.5 near-dup
# graph (doc_a, doc_b, deg_a, deg_b, embeddedness, support,
# is_local_bridge), a session memo like _dup_graph_deg. x8_local_bridges
# returns it directly and x8_bridge_fragments references it TWICE
# (kept-edge filter + per-component bridge counts): before the memo the
# wedge-join subtree executed once per reference per query (the 450 KB
# before-plan), ~3x per bench pass across the two queries.


def _dup_graph_bridges(spark, sf_dir: str) -> DataFrame:
    """Persisted local_bridges_from_edges over the memoized near-dup
    graph, riding the shared und/deg views (_dup_graph_deg)."""
    from swiftbulkuploader_spark.operators.dedup import allpairs_prefix_pairs

    def build():
        e = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
        und, deg = _dup_graph_deg(spark, sf_dir)
        return local_bridges_from_edges(e, und=und, deg=deg).persist()

    return memo.get(spark, "dup_graph_bridges", (sf_dir,), build)


def x8_local_bridges(spark, sf_dir: str) -> DataFrame:
    """Local-bridge detection over the near-dup graph — the ACTIONABLE
    successor to the transitivity alarm (x8_triangle_count flags that
    closure MAY be chaining unlike documents; this names the edges to
    re-verify): an edge with zero embeddedness (no common neighbor) is a
    SINGLE-EVIDENCE merge — no third document corroborates it, and if it
    is a false positive, transitive closure welds two unrelated clusters
    through it. A dedup triage run re-verifies exactly these edges
    (cheap: it's the bounded bridge set, not the corpus).

    On this corpus every bridge is a 2-clique (the dup graph's components
    are pair/triangle cliques — both flag values live at every SF, pinned
    in tests/test_liveness_pins.py); a CHAINED false merge would surface
    as embeddedness 0 with an endpoint degree > 1, which
    tests/test_round13_ops.py pins on a crafted path-plus-triangle graph.

    Shape: the x8_clustering_coeff edge substrate (allpairs_prefix_pairs,
    memoized) + one wedge join through the shared neighbor — per-edge
    fan-out is bounded by neighborhood size, the triangle-join class
    already probed for this family. Embeddedness/degrees are exact
    integers; `support` is one exact-int division rounded 6 dp.

    Reference parity: none (§2.9 graph-dedup extension)."""
    return _dup_graph_bridges(spark, sf_dir)


QUERIES["x8_local_bridges"] = x8_local_bridges

ORACLES["x8_local_bridges"] = _E0_CTES + """
    , und AS (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), deg AS (
        SELECT a AS node, count(*) AS d FROM und GROUP BY a
    ), cn AS (
        SELECT e0.a, e0.b, count(*) AS cn
        FROM e0
        JOIN und ua ON ua.a = e0.a
        JOIN und ub ON ub.a = e0.b AND ub.b = ua.b
        GROUP BY 1, 2
    )
    SELECT e0.a AS doc_a, e0.b AS doc_b,
           CAST(da.d AS BIGINT) AS deg_a,
           CAST(db.d AS BIGINT) AS deg_b,
           CAST(coalesce(cn.cn, 0) AS BIGINT) AS embeddedness,
           CASE WHEN da.d + db.d - 2 - coalesce(cn.cn, 0) <= 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE round(CAST(coalesce(cn.cn, 0) AS DOUBLE)
                           / (da.d + db.d - 2 - coalesce(cn.cn, 0)), 6)
           END AS support,
           coalesce(cn.cn, 0) = 0 AS is_local_bridge
    FROM e0
    JOIN deg da ON da.node = e0.a
    JOIN deg db ON db.node = e0.b
    LEFT JOIN cn ON cn.a = e0.a AND cn.b = e0.b
"""


def bridge_fragments_from_edges(
    edges: DataFrame, comp1: DataFrame | None = None,
    bridges: DataFrame | None = None,
) -> DataFrame:
    """Split preview: connected components BEFORE vs AFTER removing every
    local bridge (zero-embeddedness edge). Per before-component: size,
    how many bridges it contains, how many fragments it shatters into
    when they are cut (nodes stranded without a kept edge become
    singletons), the largest fragment, and the splits flag. Factored
    from x8_bridge_fragments so crafted-graph tests pin the semantics.
    `comp1` optionally supplies an already-computed (node, component)
    labeling of `edges` (the memoized allpairs_star_components frame) so
    the before-closure is not re-run per call; `bridges` an
    already-computed local_bridges_from_edges(edges) frame (the memoized
    _dup_graph_bridges view) — it is referenced twice below (kept-edge
    filter + bridge counts), so an unmaterialized input re-executes the
    wedge join per reference (r13-opt).

    r14-opt (delta closure, r13 verdict ask #5): the after-cut closure
    runs ONLY over kept edges of components that actually contain a
    bridge — a component with no bridge loses no edge, so its single
    fragment is itself (fragment := component, exactly the min-node
    label the full closure assigned it; fragment labels only feed a
    per-component GROUP BY, and they are value-identical anyway). The
    former full re-closure re-labeled the ENTIRE kept graph per call —
    the O(log n) convergence rounds (eager checkpoints + checksum jobs)
    over the whole corpus graph were this query's dominant cost. Nodes
    of affected components stranded without a kept edge still coalesce
    to themselves (pure-bridge components shatter to singletons);
    cross-component kept edges cannot exist (components are closed under
    the FULL edge set), so restricting the closure input preserves every
    fragment's membership and min-node label bit-for-bit (pinned on the
    crafted path-plus-triangle graph in tests/test_round13_ops.py plus a
    mixed-graph equivalence pin in tests/test_round14_opt.py).

    Overhead shape, measured (the first cut of the delta closure A/B'd
    WORSE, 3.28 -> 6.39 s: at sf0.1 the dup graph's kept set is 33 edges
    and kept_aff is EMPTY, so both closures were pure fixed job overhead
    and the delta form's extra aff/unaff union + anti-join + per-
    reference nb re-execution added 6 jobs x 131 cached-frame-scan
    tasks). The shipped form therefore does the labeling in ONE pass
    over comp1 — a left join of the persisted bridge-count table plus
    (only when the affected kept-edge set is non-empty) a left join of
    the pruned closure's labels; fragment := coalesce(frag0, node if
    bridged else component), and n_bridges rides the groupBy keys so no
    final join is needed. kept_aff is eagerly localCheckpoint'ed
    (per-call working state, the kcenter-round class): the one
    materialization job serves the emptiness probe (a bounded scalar
    decision, free on the materialized RDD) AND the closure input, so
    the empty case — any clique-dominated dup graph, at every SF —
    skips the star closure's fixed overhead (2 entry checkpoints +
    per-round checkpoint + checksum jobs) entirely. Both branches
    pinned on crafted graphs in tests/test_round14_opt.py."""
    if bridges is None:
        bridges = local_bridges_from_edges(edges)
    br = bridges.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"),
        "is_local_bridge",
    )
    kept = br.filter(~F.col("is_local_bridge")).select("a", "b")
    if comp1 is None:
        comp1 = connected_components_star(edges)
    ca = comp1.select(F.col("node").alias("a"), "component")
    bridged = br.filter("is_local_bridge").join(ca, "a")
    # persisted: read by the kept_aff prune and the comp1 labeling pass —
    # unpersisted it re-runs the bridge-count groupBy per reference.
    # Bounded by the component count; deterministic lineage over the
    # memoized bridge/component substrates, so the CacheManager dedups
    # the entry across calls (in-query persist class, r13-opt). No
    # broadcast hint: the frame is DATA-DEPENDENT (rule 12 — corpus-sized
    # on a bridge-heavy graph); AQE sizes the joins at runtime.
    nb = bridged.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_bridges")
    ).persist()
    bridge_comps = nb.select("component")
    # per-call working state, materialized once (one job): probe + closure
    # input share it, and the closure's own entry checkpoint reads the
    # materialized RDD instead of re-executing the 3-way join
    kept_aff = (
        kept.join(ca, "a").join(bridge_comps, "component").select("a", "b")
        .localCheckpoint(eager=True)
    )
    labeled = comp1.join(nb, "component", "left")
    if kept_aff.isEmpty():
        # no affected component kept any edge: every bridged node is its
        # own fragment — exactly what coalesce(frag0 -> node) yields when
        # the closure output is empty, with the (empty) join elided
        frag = F.when(
            F.col("n_bridges").isNotNull(), F.col("node")
        ).otherwise(F.col("component"))
    else:
        comp2 = connected_components_star(kept_aff).select(
            "node", F.col("component").alias("frag0")
        )
        labeled = labeled.join(comp2, "node", "left")
        frag = F.coalesce(
            F.col("frag0"),
            F.when(
                F.col("n_bridges").isNotNull(), F.col("node")
            ).otherwise(F.col("component")),
        )
    after = labeled.select(
        "node", "component",
        F.coalesce(F.col("n_bridges"), F.lit(0)).cast("long")
        .alias("n_bridges"),
        frag.alias("fragment"),
    )
    frag_sizes = after.groupBy("component", "n_bridges", "fragment").agg(
        F.count(F.lit(1)).alias("fsz")
    )
    per_comp = frag_sizes.groupBy("component", "n_bridges").agg(
        F.sum("fsz").cast("long").alias("size_before"),
        F.count(F.lit(1)).cast("long").alias("n_fragments"),
        F.max("fsz").cast("long").alias("max_fragment"),
    )
    return per_comp.select(
        "component", "size_before", "n_bridges",
        "n_fragments", "max_fragment",
        (F.col("n_fragments") > 1).alias("splits"),
    )


def x8_bridge_fragments(spark, sf_dir: str) -> DataFrame:
    """Cluster-splitting check over the near-dup graph (round 13, the
    min-cut-flavored companion to x8_local_bridges): if every
    single-evidence edge (local bridge) were rejected on re-verify, what
    does each dup cluster become? Components held together ONLY by
    bridges shatter (the chained-false-merge damage preview); components
    with embedded cores survive intact — so the report ranks clusters by
    how much of their mass hangs on unverified evidence BEFORE a
    transitive collapse deletes documents. Both split verdicts are live
    at every SF (2-cliques shatter, triangles hold — pinned in
    tests/test_liveness_pins.py); exact fragment arithmetic pinned on a
    crafted path-plus-triangle graph in tests/test_round13_ops.py.

    Shape: the memoized pair graph + the x8_local_bridges wedge join
    (shared via the persisted _dup_graph_bridges view — computed once
    per session for both queries, and read once per reference here
    instead of re-running the wedge join per branch) + TWO star
    closures (O(log n) rounds each, the x1_dup_clusters_star plan; the
    before-closure rides the memoized allpairs_star_components frame) +
    three small aggregates; the oracle replays both closures as TRUE
    recursive-CTE transitive closures, so this also re-certifies the
    star fixed point on the cut subgraph.

    Reference parity: none (§2.9 graph-dedup extension)."""
    from swiftbulkuploader_spark.operators.dedup import allpairs_prefix_pairs

    edges = allpairs_prefix_pairs(spark, sf_dir, tau=0.5).select("a", "b")
    return bridge_fragments_from_edges(
        edges,
        comp1=allpairs_star_components(spark, sf_dir),
        bridges=_dup_graph_bridges(spark, sf_dir),
    )


QUERIES["x8_bridge_fragments"] = x8_bridge_fragments

# WITH RECURSIVE prefix: the reach1/reach2 closures below are recursive;
# DuckDB requires the whole WITH clause to declare it
ORACLES["x8_bridge_fragments"] = _E0_CTES.replace(
    "WITH t AS (", "WITH RECURSIVE t AS (", 1
) + """
    , und AS MATERIALIZED (
        SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
    ), cnb AS (
        SELECT e0.a, e0.b, count(*) AS cn
        FROM e0
        JOIN und ua ON ua.a = e0.a
        JOIN und ub ON ub.a = e0.b AND ub.b = ua.b
        GROUP BY 1, 2
    ), flagged AS MATERIALIZED (
        SELECT e0.a, e0.b, coalesce(cnb.cn, 0) = 0 AS is_bridge
        FROM e0 LEFT JOIN cnb ON cnb.a = e0.a AND cnb.b = e0.b
    ), nodes AS MATERIALIZED (
        SELECT DISTINCT a AS node FROM und
    ), kept AS MATERIALIZED (
        SELECT a, b FROM flagged WHERE NOT is_bridge
        UNION ALL
        SELECT b AS a, a AS b FROM flagged WHERE NOT is_bridge
    ), reach1(node, label) AS (
        SELECT node, node AS label FROM nodes
        UNION
        SELECT e.a AS node, r.label
        FROM und e JOIN reach1 r ON e.b = r.node
    ), comp1 AS MATERIALIZED (
        SELECT node, min(label) AS component FROM reach1 GROUP BY node
    ), reach2(node, label) AS (
        SELECT node, node AS label FROM nodes
        UNION
        SELECT e.a AS node, r.label
        FROM kept e JOIN reach2 r ON e.b = r.node
    ), comp2 AS MATERIALIZED (
        SELECT node, min(label) AS fragment FROM reach2 GROUP BY node
    ), frag_sizes AS (
        SELECT c1.component, c2.fragment, count(*) AS fsz
        FROM comp1 c1 JOIN comp2 c2 USING (node)
        GROUP BY 1, 2
    ), per_comp AS (
        SELECT component,
               CAST(sum(fsz) AS BIGINT) AS size_before,
               CAST(count(*) AS BIGINT) AS n_fragments,
               CAST(max(fsz) AS BIGINT) AS max_fragment
        FROM frag_sizes GROUP BY 1
    ), nb AS (
        SELECT c1.component, CAST(count(*) AS BIGINT) AS n_bridges
        FROM flagged f
        JOIN comp1 c1 ON c1.node = f.a
        WHERE f.is_bridge
        GROUP BY 1
    )
    SELECT p.component, p.size_before,
           CAST(coalesce(nb.n_bridges, 0) AS BIGINT) AS n_bridges,
           p.n_fragments, p.max_fragment,
           p.n_fragments > 1 AS splits
    FROM per_comp p LEFT JOIN nb USING (component)
"""
