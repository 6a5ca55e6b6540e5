"""TPC-H query shapes Q4/Q10/Q12/Q14/Q18/Q19 adapted to the driver's
synthetic schema (which lacks l_commitdate/l_receiptdate, comments,
phones — predicates are re-targeted to existing columns while keeping
each query's structural shape: the semi-join EXISTS, the returned-item
join-agg, the conditional bucket agg, the promo share, the
having-in-subquery, the disjunctive multi-range predicate)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import fixed, msum, sql_fixed, sql_msum
from ..hints import constant_size
from ..registry import register
from ..sources import load_table


# Q4 shape: order-priority checking — orders with at least one
# late-shipped item (semi join), counted per priority.
@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        o.join(late.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# Q10 shape: returned-item revenue per customer + nation, top 20.
@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_msum("l_extendedprice*(1-l_discount)", "revenue")}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(constant_size(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# Q12 shape: conditional bucket aggregation — high/low-priority order
# counts per lineitem status (shipmode stands in as linestatus).
@register(
    "q12_priority_by_status",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# Q14 shape: promo revenue share — conditional numerator over a join.
@register(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT
      100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN {sql_fixed("l_extendedprice*(1-l_discount)")} ELSE 0 END) AS DOUBLE)/10000)
            / (CAST(SUM({sql_fixed("l_extendedprice*(1-l_discount)")}) AS DOUBLE)/10000)
        AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(38,0)"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                100.0
                * (F.sum(promo).cast("double") / 10000)
                / (F.sum(rev).cast("double") / 10000)
            ).alias("promo_revenue_pct")
        )
    )


# Q18 shape: large-volume orders — groupBy + HAVING feeding a
# semi-join back onto the fact tables.
@register(
    "q18_large_orders",
    oracle=f"""
    SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_msum("l_quantity", "total_qty")}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 150)
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "big_key"),
                li.l_orderkey == F.col("big_key"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(msum("l_quantity", "total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


# Q19 shape: disjunctive multi-range predicate across the join — the
# OR-of-ANDs Catalyst must push partially into both scans.
@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_msum("l_extendedprice*(1-l_discount)", "revenue")}
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#9' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#9") & s.between(10, 30) & q.between(10, 30))
        | ((b == "Brand#20") & s.between(20, 50) & q.between(20, 40))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(pred)
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
