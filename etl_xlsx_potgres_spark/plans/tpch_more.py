"""Remaining TPC-H query shapes (Q2/Q7/Q8/Q9/Q11/Q13/Q15/Q16/Q17/Q20/
Q21/Q22) adapted to the driver's synthetic schema.

The synthetic star schema has no ``partsupp`` table and no
``l_commitdate``/``l_receiptdate``/comment/phone/container columns, so
each query keeps its *structural* shape (the part Catalyst must plan —
correlated min, double-EXISTS blame chain, agg-of-agg scalar subquery,
anti-join with substring bucketing) while re-targeting predicates to
existing columns:

- part↔supplier relationships come from observed shipments
  (``DISTINCT l_partkey, l_suppkey`` over lineitem) instead of partsupp.
- Q21's "kept waiting" (receipt > commit) becomes "shipped last in a
  multi-supplier order" using l_shipdate.
- Q22's phone country code becomes ``c_custkey % 7``.
- Q9's supply cost becomes ``0.5 * p_retailprice * l_quantity``.

Determinism: money sums use the fixed-point policy from
``functions.numeric``; averages are exact integer-sum/count; min/max and
equality over doubles are engine-identical (see oracle policy notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import fixed, msum, sql_msum
from ..hints import constant_size
from ..registry import register
from ..sources import load_table


def _shipped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp stand-in: distinct (partkey, suppkey) ever shipped."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_partkey", "l_suppkey").distinct()


# Q2 shape: minimum-cost supplier — correlated MIN subquery over the
# part↔supplier relation, restricted to one region, tie-preserving.
@register(
    "q2_min_acctbal_supplier",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM ps
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size < 25
      AND s_acctbal = (
        SELECT MIN(s2.s_acctbal)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.l_partkey = ps.l_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 100
    """,
)
def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _shipped_pairs(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 25)
    )
    europe = (
        ps.join(s, ps.l_suppkey == s.s_suppkey)
        .join(constant_size(n), s.s_nationkey == n.n_nationkey)
        .join(constant_size(r), n.n_regionkey == r.r_regionkey)
    )
    # Correlated MIN becomes a per-part window minimum — one shuffle on
    # l_partkey instead of a rescan per row.
    w = Window.partitionBy("l_partkey")
    return (
        europe.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
        .limit(100)
    )


# Q7 shape: volume shipping between two nations, both directions,
# revenue per (supp_nation, cust_nation, year).
@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
           {sql_msum("l_extendedprice*(1-l_discount)", "revenue")}
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(constant_size(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(constant_size(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# Q8 shape: national market share — conditional share of a revenue sum
# per year (ratio of two order-independent fixed-point sums).
@register(
    "q8_market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                 THEN CAST(FLOOR(l_extendedprice*(1-l_discount)*10000) AS DECIMAL(38,0))
                 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*10000) AS DECIMAL(38,0)))
                AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region   ON n2.n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    rev = fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    nat = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(constant_size(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(constant_size(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .join(constant_size(r), F.col("c_rkey") == r.r_regionkey)
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            (F.sum(nat).cast("double") / F.sum(rev).cast("double")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# Q9 shape: product-type profit by nation and year; supply cost adapted
# to 0.5 * p_retailprice * l_quantity (no partsupp in the schema).
@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           {sql_msum("l_extendedprice*(1-l_discount) - 0.5*p_retailprice*l_quantity", "profit")}
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.5 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(constant_size(n), F.col("s_nationkey") == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(msum(profit, "profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# Q11 shape: important stock — per-part shipped value for one nation's
# suppliers, HAVING above a scalar-subquery threshold. The spec's
# threshold is FRACTION-OF-TOTAL with the fraction scaled inversely to
# SF (0.0001/SF); with a fixed fraction the r11 sf0.1 sweep went
# VACUOUS (10x the parts -> every share below 0.3%). A multiple of the
# MEAN per-part value is the scale-free equivalent: the qualifying
# tail stays ~1% of parts at any SF (measured: 11/893 at sf0.01,
# 200/15353 at sf0.1), and the plan keeps the same scalar-subquery
# crossJoin(broadcast) shape.
@register(
    "q11_important_stock",
    oracle="""
    WITH v AS (
      SELECT l_partkey,
             SUM(CAST(FLOOR(0.5*p_retailprice*l_quantity*10000) AS DECIMAL(38,0)))
               AS fval
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_0'
      GROUP BY l_partkey)
    SELECT l_partkey AS p_key, CAST(fval AS DOUBLE)/10000 AS part_value
    FROM v
    WHERE CAST(fval AS DOUBLE) > (SELECT 3.0 * (CAST(SUM(fval) AS DOUBLE) / COUNT(*)) FROM v)
    ORDER BY part_value DESC, p_key
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")
    val = fixed(0.5 * F.col("p_retailprice") * F.col("l_quantity"))
    per_part = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(constant_size(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("fval"))
    )
    # mean via exact decimal SUM / exact COUNT (a double AVG would
    # sum in engine- and partition-dependent order); the division and
    # the 3.0 scaling are single deterministic double ops
    total = per_part.agg(
        (3.0 * (F.sum("fval").cast("double") / F.count(F.lit(1)))).alias(
            "threshold"
        )
    )
    return (
        per_part.crossJoin(constant_size(total))
        .filter(F.col("fval").cast("double") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_key"),
            (F.col("fval").cast("double") / 10000).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_key")
    )


# Q13 shape: customer order-count distribution — left outer join with an
# ON-clause filter, then a distribution over the grouped counts.
@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# Q15 shape: top supplier — agg feeding an agg-of-agg scalar subquery
# (revenue = MAX(revenue)), tie-preserving.
@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_msum("l_extendedprice*(1-l_discount)", "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY supplier_no)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        msum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.crossJoin(constant_size(top))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# Q16 shape: supplier-relationship count — distinct suppliers per part
# attribute group, excluding a brand/type/size set and "complaint"
# suppliers (negative balance stands in for the comment predicate).
@register(
    "q16_part_supplier_counts",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r21: skip the _shipped_pairs DISTINCT — COUNT(DISTINCT l_suppkey)
    # dedups suppliers per group anyway, so the pair-distinct exchange
    # was a full-lineitem shuffle (pre part-filter!) spent proving
    # nothing. The only remaining exchange carries part-matched rows
    # after the selective broadcast joins. Same 898 rows at sf0.1;
    # interleaved A/B (n=5 medians): 0.70 -> 0.43 s.
    ps = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# Q17 shape: small-quantity revenue — correlated per-part average
# (window instead of rescan), exact integer average on both engines.
@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice*10000) AS DECIMAL(38,0)))
                AS DOUBLE)/10000/7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_size < 10
      AND l_quantity < (
        SELECT 0.2 * CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
                   / COUNT(*)
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10)
    )
    # Correlated per-part AVG over ALL lineitems of the part (not only
    # the brand-filtered join) — computed as an exact integer sum/count
    # so Spark and the oracle agree bit-for-bit, then broadcast back.
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (
            0.2
            * F.sum(F.col("l_quantity").cast("bigint")).cast("double")
            / F.count(F.lit(1))
        ).alias("qty_threshold")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_qty, F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(fixed("l_extendedprice")).cast("double") / 10000 / 7.0).alias(
                "avg_yearly"
            )
        )
    )


# Q20 shape: part promotion — semi-join a supplier list against an
# aggregated shipment threshold over promo parts.
@register(
    "q20_promo_suppliers",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_4'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 100)
    ORDER BY s_name
    """,
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    heavy = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(constant_size(n), s.s_nationkey == n.n_nationkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# Q21 shape: the double EXISTS/NOT EXISTS blame chain — suppliers who
# shipped LAST in multi-supplier orders (receipt>commit adapted to
# shipdate ordering), counted per supplier.
@register(
    "q21_last_shipper",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_6'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def q21_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_6")
    l1 = li.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.select("l_orderkey", "l_suppkey", "l_shipdate").alias("l3")
    others = (F.col("l2.l_orderkey") == F.col("l1.l_orderkey")) & (
        F.col("l2.l_suppkey") != F.col("l1.l_suppkey")
    )
    later = (
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate"))
    )
    return (
        l1.join(s, F.col("l1.l_suppkey") == s.s_suppkey)
        .join(constant_size(n), F.col("s_nationkey") == n.n_nationkey)
        .join(l2, others, "left_semi")
        .join(l3, later, "left_anti")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


# Q22 shape: global sales opportunity — substring country-code
# bucketing, above-average balance scalar subquery, anti join to orders.
@register(
    "q22_sales_opportunity",
    oracle="""
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(FLOOR(c_acctbal*10000) AS DECIMAL(38,0)))
                AS DOUBLE)/10000 AS totacctbal
    FROM (
      SELECT CAST(c_custkey % 7 AS VARCHAR) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_custkey % 7 IN (1, 3, 5)
        AND c_acctbal > (
          SELECT CAST(SUM(CAST(FLOOR(c2.c_acctbal*10000) AS DECIMAL(38,0)))
                      AS DOUBLE)/10000/COUNT(*)
          FROM customer c2
          WHERE c2.c_acctbal > 0.0 AND c2.c_custkey % 7 IN (1, 3, 5))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") % 7).isin(1, 3, 5)
    )
    # "no recent orders" (the synthetic data has no order-less
    # customers, so the pure anti-join would be vacuously empty)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(fixed("c_acctbal")).cast("double") / 10000 / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(constant_size(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .withColumn("cntrycode", (F.col("c_custkey") % 7).cast("string"))
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(fixed("c_acctbal")).cast("double") / 10000).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )
