"""Classic OLAP query shapes (TPC-H-inspired, adapted to the driver schema).

Beyond star.py's Q1/Q3/Q5 analogues, these cover the remaining canonical
shapes a migrating analytics user runs: EXISTS with a range predicate (Q4),
fact-dim join with a negative filter and top-k (Q10), LEFT JOIN count
distribution (Q13), NOT IN + grouped count-distinct (Q16), HAVING over a
grouped sum (Q18), and substring bucketing with a scalar-subquery filter
(Q22). All decorrelate to joins/windows — no per-row re-scans — and each is
DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table


def x5_q4_priority_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape — EXISTS with a range predicate: orders (in a date window)
    having at least one lineitem shipped >60 days after the order date,
    counted per priority. Semi-join, not a per-order subquery."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select("l_orderkey")
        .distinct()
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_orders"))
    )


def x5_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape — revenue lost to returns per customer, top 20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def x5_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — LEFT JOIN count distribution: how many customers placed
    exactly k high-value orders, including k=0 (the left join is the point)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_customers"))


def x5_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape — NOT IN + grouped count-distinct: distinct suppliers per
    (brand, size) over mid-range parts, excluding suppliers with a negative
    account balance (the NOT IN side)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 10) & (F.col("p_size") <= 40)
    )
    li = load_table(spark, sf_dir, "lineitem")
    # exclusion list: suppliers in the red (the Q16 "complaints" analog —
    # every supplier has shipped SOME returned item, so that filter would
    # be vacuous on this data)
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("suppkey"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


def x5_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape — HAVING over a grouped sum: orders whose total quantity
    exceeds 150, with customer attribution."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "total_qty",
                F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def x5_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape — substring bucketing + scalar-subquery filter: customers
    with above-average balance and no orders, counted per name-suffix
    bucket. The scalar subquery (global avg) broadcasts as a literal-like
    single-row join; the 'no orders' side is an anti-join."""
    cust = load_table(spark, sf_dir, "customer")
    # "idle" = no high-value order (every customer has SOME order in this
    # data, so bare no-orders would be vacuously empty)
    big_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    # the scalar subquery evaluates driver-side to a literal — exactly what
    # Spark's ScalarSubquery node does, without the 1-row BNLJ in the plan;
    # a session memo keyed on the aggregated frame's plan, since the value
    # re-ran its subtree per call on top of the main query's own run
    avg_bal = memo.get(
        spark, "q22_avg_bal", (cust,),
        lambda: cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal")).first()[0],
    )
    return (
        cust.filter(F.col("c_acctbal") > F.lit(avg_bal))
        .join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("bucket"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


QUERIES = {
    "x5_q4_priority_with_late_items": x5_q4_priority_with_late_items,
    "x5_q10_returned_revenue": x5_q10_returned_revenue,
    "x5_q13_order_count_distribution": x5_q13_order_count_distribution,
    "x5_q16_supplier_part_counts": x5_q16_supplier_part_counts,
    "x5_q18_large_orders": x5_q18_large_orders,
    "x5_q22_idle_customers": x5_q22_idle_customers,
}

ORACLES = {
    "x5_q4_priority_with_late_items": """
        SELECT o_orderpriority AS priority, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    "x5_q10_returned_revenue": """
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS lost_revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY lost_revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "x5_q13_order_count_distribution": """
        SELECT c_count, count(*) AS n_customers FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                              AND o.o_totalprice > 150000
            GROUP BY c.c_custkey
        ) GROUP BY c_count
    """,
    "x5_q16_supplier_part_counts": """
        SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS n_suppliers
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_size BETWEEN 10 AND 40
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
    """,
    "x5_q18_large_orders": """
        SELECT c_custkey, c_name, o_orderkey, total_qty,
               round(o_totalprice, 2) AS o_totalprice
        FROM (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING round(sum(l_quantity), 2) > 150
        ) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "x5_q22_idle_customers": """
        SELECT substr(c_name, 17, 2) AS bucket,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 400000)
        GROUP BY 1
    """,
}
