"""Recursive-CTE hierarchy traversal (WITH RECURSIVE, Spark 4.x).

The reference's only recursion is the Python directory walk
(prepareupload.py:58-60) — a hierarchy traversal executed one `listdir` at a
time. The set-oriented equivalent is a recursive CTE: each iteration joins
the frontier to the child relation, so a whole *level* advances per step and
the number of iterations is the tree DEPTH, not the node count. That is the
scale story: a 100 TB catalog tree of depth ~12 costs 12 distributed
hash-join rounds (each a normal shuffle join Catalyst plans like any other),
versus millions of sequential driver round-trips.

The demo hierarchy is derived deterministically from `customer`:
node = c_custkey, parent = c_custkey div 10 (a decimal trie — roots are keys
1..9), which gives a real multi-level tree on every scale factor without
inventing fixture data. DuckDB runs the identical WITH RECURSIVE shape, so
the whole traversal is oracle-checked: per-node depth, root, and
materialized path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table

# Spark and DuckDB differ only in the integer-division operator spelling
# (`div` vs `//`); the CTE is otherwise the same ANSI shape.
_RECURSIVE_SQL = """
    WITH RECURSIVE walk (custkey, depth, root, path) AS (
        SELECT c_custkey, 0, c_custkey,
               CAST(c_custkey AS {str_t})
        FROM {tbl}
        WHERE c_custkey < 10
        UNION ALL
        SELECT c.c_custkey, w.depth + 1, w.root,
               concat(w.path, '/', CAST(c.c_custkey AS {str_t}))
        FROM {tbl} c
        JOIN walk w ON c.c_custkey {intdiv} 10 = w.custkey
        WHERE c.c_custkey >= 10
    )
    SELECT custkey, CAST(depth AS INT) AS depth, root, path
    FROM walk
"""


def x8_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth, root ancestor, and full materialized path for every node of
    the derived customer trie — one recursive CTE, level-synchronous
    evaluation (anchor = keys < 10, step = equi-join frontier→children)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_h")
    return spark.sql(
        _RECURSIVE_SQL.format(tbl="customer_h", intdiv="div", str_t="STRING")
    )


PR_DAMPING = 0.85
PR_ITERS = 3


def x8_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the user<->item interaction graph (events.user_id ->
    props.k, symmetrized so rank flows both ways) — link-analysis importance
    weighting, the classic signal for prioritizing documents/sources in a
    crawl-derived training corpus.

    Spark shape = the standard distributed PR round: join ranks to the edge
    list on src, partial-aggregate contributions by dst, rebuild the rank
    vector — one shuffle per iteration, `localCheckpoint` per round to cut
    lineage (same iterative-DataFrame discipline as
    operators/components.py). Iteration count is FIXED (3), which keeps the
    query oracle-checkable: DuckDB unrolls the same three rounds as chained
    CTEs. Every arithmetic step is forced to IEEE double on both engines
    (explicit CASTs in the oracle — DuckDB would otherwise fold 1-0.85 in
    exact DECIMAL and diverge in the last ulps); the 9-sig-digit hash
    normalization absorbs summation-order noise.

    At 100 TB: edges pre-partitioned on src make the rank join co-located;
    the dst aggregation is the one real shuffle per round. Teleport uses a
    driver-literal node count (metadata-scale collect, same pattern as
    tfidf's N)."""
    from pyspark.sql import functions as F

    edges, deg, nodes, n = _interaction_graph_tables(spark, sf_dir)
    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    # the PR_ITERS=3 chain is LINEAR (each round reads the previous pr
    # exactly once), so no intermediate checkpoint is needed: lineage
    # depth 3 over checkpointed base tables analyzes fine, and the three
    # eager materializations were ~2.7 s of the query's 2.8 s bench
    # median (round 12 — the convergence path keeps its per-burst
    # checkpoints because it iterates ~48 rounds)
    for _ in range(PR_ITERS):
        pr = _pr_round(edges, deg, nodes, n, pr)
    return pr.select("node", "pr")


# interaction-graph session memos (r13-opt): x8_pagerank,
# x8_pagerank_converged and x8_hits all derive from the same
# deterministic user<->item pair frame, and the graph tables behind the
# PR rounds (edges/deg/nodes/n) are 3 eager checkpoints + 1 count — four
# driver-blocking jobs that ran once PER CALL. Build once per session;
# checkpointed frames are valid for the session's life.


def _interaction_pairs(spark, sf_dir: str):
    """The distinct (u, item) interaction pair list (checkpointed,
    memoized): the directed bipartite substrate x8_hits consumes and the
    symmetrized PR edge list is built from."""
    from pyspark.sql import functions as F

    k = F.get_json_object("props", "$.k").cast("long")
    return memo.get(spark, "interaction_pairs", (sf_dir,), lambda: (
        load_table(spark, sf_dir, "events").select(F.col("user_id").alias("u"), k.alias("item"))
        # item >= 0 keeps the encoding below injective: a negative item key
        # (never present in the fixture, but possible in arbitrary JSON)
        # would map into the user id space and silently fuse two nodes
        .filter(F.col("item").isNotNull() & (F.col("item") >= 0))
        .distinct()
        .localCheckpoint(eager=True)
    ))


def _interaction_edges(spark, sf_dir: str):
    """The symmetrized user<->item edge list (checkpointed — union branches
    re-execute their subtree otherwise; memoized per session)."""
    from pyspark.sql import functions as F

    # non-negative items live in NEGATIVE id space (-1-item): disjoint from
    # user ids at ANY scale, where a fixed +10000 offset would collide once
    # user_id >= 10000 and silently fuse two nodes' edges and rank
    item_node = -(F.col("item") + F.lit(1))

    def build():
        pairs = _interaction_pairs(spark, sf_dir)
        return (
            pairs.select(F.col("u").alias("src"), item_node.alias("dst"))
            .unionByName(pairs.select(item_node.alias("src"), F.col("u").alias("dst")))
            .localCheckpoint(eager=True)
        )

    return memo.get(spark, "interaction_edges", (sf_dir,), build)


def _interaction_graph_tables(spark, sf_dir: str):
    """(edges, deg, nodes, n) for the interaction graph, memoized."""
    def build():
        edges = _interaction_edges(spark, sf_dir)
        return (edges, *_graph_tables(edges))

    return memo.get(spark, "interaction_graph", (sf_dir,), build)


def _graph_tables(edges):
    """(deg, nodes, n): read every iteration — materialize once, or each
    round's job re-aggregates the edge list."""
    from pyspark.sql import functions as F

    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    # max(n, 1): an empty interaction graph must yield an empty result, not
    # a driver-side ZeroDivisionError building the teleport literal
    n = max(nodes.count(), 1)
    return deg, nodes, n


def _pr_round(edges, deg, nodes, n: int, pr):
    """One PageRank round: rank join on src -> contribution agg on dst ->
    rank rebuild. The arithmetic (0.15/n driver literal, 0.85 damping,
    coalesce-to-0) is the exact IEEE op sequence the oracle unrolls."""
    from pyspark.sql import functions as F

    contrib = (
        edges.join(deg, "src")
        .join(pr.select(F.col("node").alias("src"), "pr"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("in_pr"))
    )
    return (
        nodes.join(contrib.select(F.col("dst").alias("node"), "in_pr"), "node", "left")
        .select(
            "node",
            (
                F.lit(0.15 / n)
                + F.lit(PR_DAMPING) * F.coalesce("in_pr", F.lit(0.0))
            ).alias("pr"),
        )
    )


def pagerank_until_converged(edges, rel_tol: float = 7e-3,
                             max_iter: int = 60, burst: int = 6,
                             graph=None):
    """PageRank iterated to a FIXED POINT instead of a fixed round count:
    bursts of ``burst`` rounds per ``localCheckpoint``, convergence
    probed on the MATERIALIZED frame as max |pr_{k+burst} - pr_k| <
    rel_tol/n (deltas scale as 1/n, so the relative form makes the round
    count n-independent).

    Round-6 retune, instrumented (SCALING.md "Converged-PageRank verify
    cost"): the certificate pins a ~48-round floor on the driver graph,
    so the verify-cost lever is NOT fewer rounds — it is fewer
    materializations and probes. burst=6 halves both vs burst=3 (the
    chain is linear, no union branching, so deep-burst lineage is safe —
    the CLAUDE.md 2-3 guidance targets branching plans), and LARGER
    bursts tighten the certificate bound: with damping contraction
    (factor d = 0.85 toward the fixed point p*),
    ||p_stop - p*|| <= d^burst/(1 - d^burst) * delta_stop, so the
    one-round residual is bounded by (1 + d) * d^burst/(1 - d^burst) *
    delta_stop ≈ 1.12 * delta_stop at burst=6 — rel_tol 7e-3 certifies
    7.9e-3/n < the UNCHANGED 1e-2/n threshold (typical residual is ~4x
    further under it: the stopping delta sums six contracting per-round
    deltas, so the last per-round delta is ~delta_stop/3.7).

    Returns (ranks, (deg, nodes, n), last_delta) — the graph tables ride
    along so a caller's residual check reuses the checkpointed frames
    instead of re-aggregating the edge list."""
    from pyspark.sql import functions as F

    # graph: pass pre-materialized (deg, nodes, n) to skip the 2
    # checkpoints + count when the caller already holds them (r13-opt —
    # the contract query reads the memoized session graph)
    deg, nodes, n = graph if graph is not None else _graph_tables(edges)
    prev = nodes.withColumn("pr", F.lit(1.0 / n)).localCheckpoint(eager=True)
    tol = rel_tol / n
    done, delta = 0, None
    while done < max_iter:
        cur = prev
        for _ in range(burst):
            cur = _pr_round(edges, deg, nodes, n, cur)
            done += 1
        cur = cur.localCheckpoint(eager=True)
        delta = (
            cur.select("node", F.col("pr").alias("pr_new"))
            .join(prev, "node")
            .agg(F.max(F.abs(F.col("pr_new") - F.col("pr"))))
            .first()[0]
        )
        prev = cur
        if delta is not None and delta < tol:
            break
    return prev, (deg, nodes, n), delta


def x8_pagerank_converged(spark, sf_dir: str) -> DataFrame:
    """Until-convergence PageRank with an ORACLE-CHECKABLE certificate:
    the round count is data-dependent (so rank VALUES are not
    engine-reproducible), but the fixed point is — one extra propagation
    round over the converged ranks must move no node by more than 1e-2/n
    (UNCHANGED across the round-6 rel_tol/burst retune: the 6-round
    stopping delta bounds the 1-round residual by ~1.12x, so
    7e-3 * 1.12 = 7.9e-3 < 1e-2 — see pagerank_until_converged).
    The contract emits (node, converged);
    DuckDB reproduces the node set and asserts TRUE — a loop that stalls,
    oscillates, or stops early is a loud hash mismatch, the same
    tolerance-row discipline as x6_quantiles_approx. The fixed-3-round
    value check lives in `x8_pagerank` (unrolled-CTE oracle); exact rank
    values on a known graph are unit-pinned in test_stats_hierarchy."""
    from pyspark.sql import functions as F

    edges, deg, nodes, n = _interaction_graph_tables(spark, sf_dir)
    ranks, (deg, nodes, n), _ = pagerank_until_converged(
        edges, graph=(deg, nodes, n)
    )
    residual_round = _pr_round(edges, deg, nodes, n, ranks)
    return (
        ranks.join(
            residual_round.select("node", F.col("pr").alias("pr_next")), "node"
        )
        .select(
            "node",
            (F.abs(F.col("pr_next") - F.col("pr")) <= F.lit(1e-2 / n)).alias(
                "converged"
            ),
        )
    )


HITS_ITERS = 2


def x8_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (Kleinberg, JACM'99) over the DIRECTED
    user->item interaction graph — the second classic link-analysis
    signal next to x8_pagerank: users that touch many good items are
    good hubs, items touched by many good hubs are good authorities.
    On the bipartite user->item graph the two scores live on disjoint
    node sets, so the result is one (node, role, score) frame.

    Two fixed rounds (oracle-checkable, the x8_pagerank discipline):
    each round is authority = sum of incident hub scores then hub = sum
    of incident authority scores, each L1-normalized by a 1-ROW global
    sum attached via cross join (bounded BNLJ, allowlisted). EXACTNESS:
    h0 = 1.0 so the first raw authority pass and its normalizer are
    integer-valued doubles (exact at any corpus size < 2^53 edges);
    later group/global sums carry only summation-order ulps, absorbed
    by the verifier's 9-significant-digit normalization (the
    x8_pagerank precedent).

    At 100 TB: edges hash-partitioned on the join key make each round
    one shuffle join + one partial-agg shuffle; the normalizers are
    metadata-size (1 row). Reference parity: none (the reference uploads
    files); §2.9 graph-signal family."""
    from pyspark.sql import functions as F

    # memoized checkpointed pair frame (r13-opt): same substrate as the
    # PR queries; referenced once per half-round
    pairs = _interaction_pairs(spark, sf_dir)

    def _l1_normalize(raw, key, out):
        tot = raw.agg(F.sum("s").alias("t"))
        return raw.crossJoin(tot).select(key, (F.col("s") / F.col("t")).alias(out))

    hub = pairs.select("u").distinct().withColumn("h", F.lit(1.0))
    auth = None
    for _ in range(HITS_ITERS):
        a_raw = pairs.join(hub, "u").groupBy("item").agg(F.sum("h").alias("s"))
        auth = _l1_normalize(a_raw, "item", "a").localCheckpoint(eager=True)
        h_raw = pairs.join(auth, "item").groupBy("u").agg(F.sum("a").alias("s"))
        hub = _l1_normalize(h_raw, "u", "h").localCheckpoint(eager=True)
    return hub.select(
        F.col("u").alias("node"), F.lit("hub").alias("role"), F.col("h").alias("score")
    ).unionByName(
        auth.select(
            F.col("item").alias("node"),
            F.lit("auth").alias("role"),
            F.col("a").alias("score"),
        )
    )


QUERIES = {
    "x8_recursive_hierarchy": x8_recursive_hierarchy,
    "x8_pagerank": x8_pagerank,
    "x8_pagerank_converged": x8_pagerank_converged,
    "x8_hits": x8_hits,
}

ORACLES = {
    "x8_recursive_hierarchy": _RECURSIVE_SQL.format(
        tbl="customer", intdiv="//", str_t="VARCHAR"
    ),
    # three unrolled PR rounds; every scalar forced to DOUBLE so the
    # arithmetic is the same IEEE op sequence Spark executes
    "x8_pagerank": """
        WITH pairs AS (
            SELECT DISTINCT user_id AS u,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
              AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
        ), edges AS (
            SELECT u AS src, -(item + 1) AS dst FROM pairs
            UNION ALL
            SELECT -(item + 1) AS src, u AS dst FROM pairs
        ), deg AS (
            SELECT src, count(*) AS outdeg FROM edges GROUP BY src
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), nn AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
        ), p0 AS (
            SELECT node, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes, nn
        ), c1 AS (
            SELECT e.dst, sum(p.pr / d.outdeg) AS in_pr
            FROM edges e JOIN deg d ON e.src = d.src JOIN p0 p ON e.src = p.node
            GROUP BY e.dst
        ), p1 AS (
            SELECT nodes.node,
                   CAST(0.15 AS DOUBLE) / nn.n
                   + CAST(0.85 AS DOUBLE) * coalesce(c1.in_pr, CAST(0 AS DOUBLE)) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.dst
        ), c2 AS (
            SELECT e.dst, sum(p.pr / d.outdeg) AS in_pr
            FROM edges e JOIN deg d ON e.src = d.src JOIN p1 p ON e.src = p.node
            GROUP BY e.dst
        ), p2 AS (
            SELECT nodes.node,
                   CAST(0.15 AS DOUBLE) / nn.n
                   + CAST(0.85 AS DOUBLE) * coalesce(c2.in_pr, CAST(0 AS DOUBLE)) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.dst
        ), c3 AS (
            SELECT e.dst, sum(p.pr / d.outdeg) AS in_pr
            FROM edges e JOIN deg d ON e.src = d.src JOIN p2 p ON e.src = p.node
            GROUP BY e.dst
        )
        SELECT nodes.node,
               CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(c3.in_pr, CAST(0 AS DOUBLE)) AS pr
        FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.dst
    """,
    # convergence certificate: the node set is graph-derived (engine-
    # independent); the converged boolean is asserted TRUE. A Spark loop
    # that stalls or stops before the fixed point flips booleans and
    # hash-mismatches loudly.
    "x8_pagerank_converged": """
        WITH pairs AS (
            SELECT DISTINCT user_id AS u,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
              AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
        ), edges AS (
            SELECT u AS src FROM pairs
            UNION ALL
            SELECT -(item + 1) AS src FROM pairs
        )
        SELECT DISTINCT src AS node, TRUE AS converged FROM edges
    """,
    # two unrolled HITS rounds; h0 = 1.0 makes the first authority pass
    # integer-exact, every later sum carries only summation-order ulps
    "x8_hits": """
        WITH pairs AS MATERIALIZED (
            SELECT DISTINCT user_id AS u,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
              AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
        ), h0 AS (
            SELECT DISTINCT u, CAST(1 AS DOUBLE) AS h FROM pairs
        ), a1r AS MATERIALIZED (
            SELECT item, sum(h) AS s FROM pairs JOIN h0 USING (u) GROUP BY item
        ), a1 AS MATERIALIZED (
            SELECT item, s / t.t AS a
            FROM a1r, (SELECT sum(s) AS t FROM a1r) t
        ), h1r AS MATERIALIZED (
            SELECT u, sum(a) AS s FROM pairs JOIN a1 USING (item) GROUP BY u
        ), h1 AS MATERIALIZED (
            SELECT u, s / t.t AS h
            FROM h1r, (SELECT sum(s) AS t FROM h1r) t
        ), a2r AS MATERIALIZED (
            SELECT item, sum(h) AS s FROM pairs JOIN h1 USING (u) GROUP BY item
        ), a2 AS MATERIALIZED (
            SELECT item, s / t.t AS a
            FROM a2r, (SELECT sum(s) AS t FROM a2r) t
        ), h2r AS MATERIALIZED (
            SELECT u, sum(a) AS s FROM pairs JOIN a2 USING (item) GROUP BY u
        ), h2 AS (
            SELECT u, s / t.t AS h
            FROM h2r, (SELECT sum(s) AS t FROM h2r) t
        )
        SELECT u AS node, 'hub' AS role, h AS score FROM h2
        UNION ALL
        SELECT item AS node, 'auth' AS role, a AS score FROM a2
    """,
}
