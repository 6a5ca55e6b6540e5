"""Relational query library over the TPC-H-ish test tables.

The reference has no joins, windows, or aggregations beyond one keyed
dedup (SURVEY.md §2 "absent categories") — this module supplies the
full relational surface the engine must offer, expressed with the
declarative DataFrame API so Catalyst handles pushdown, pruning, join
strategy, and AQE does runtime re-planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import mavg, msum, sql_mavg, sql_msum
from ..hints import constant_size
from ..operators.rank import top_n
from ..registry import register
from ..sources import load_table


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1 pricing summary — scan → filter → groupBy → 8 aggs.
# Shape notes for 100 TB: the shipdate filter and 7-column projection push
# into the parquet scan; partial (map-side) aggregation shrinks the shuffle
# to |groups| x partitions rows; only 4 tiny groups survive.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_msum("l_quantity", "sum_qty")},
      {sql_msum("l_extendedprice", "sum_base_price")},
      {sql_msum("l_extendedprice*(1-l_discount)", "sum_disc_price")},
      {sql_msum("l_extendedprice*(1-l_discount)*(1+l_tax)", "sum_charge")},
      {sql_mavg("l_quantity", "avg_qty")},
      {sql_mavg("l_extendedprice", "avg_price")},
      {sql_mavg("l_discount", "avg_disc")},
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            msum("l_quantity", "sum_qty"),
            msum("l_extendedprice", "sum_base_price"),
            msum(disc_price, "sum_disc_price"),
            msum(charge, "sum_charge"),
            mavg("l_quantity", "avg_qty"),
            mavg("l_extendedprice", "avg_price"),
            mavg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# TPC-H Q3 shape: selective filters on both join sides, 3-way join,
# aggregate, top-k. At scale: customer filter broadcasts (post-filter it
# is small), lineitem/orders shuffle on orderkey once; top-k is a
# TakeOrderedAndProject (no global sort materialization).
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_msum("l_extendedprice*(1-l_discount)", "revenue")},
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q5 shape: 6-way snowflake join, revenue per nation. The three
# dimension hops (supplier/nation/region at sf scale) broadcast; the
# lineitem-orders join is the one real shuffle.
# --------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {sql_msum("l_extendedprice*(1-l_discount)", "revenue")}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, li, s, n, r = (
        load_table(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(constant_size(n), s.s_nationkey == n.n_nationkey)
        .join(constant_size(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS) — no payload duplication, the
# probe side never widens, and Catalyst can push them below other ops.
# --------------------------------------------------------------------------
@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every synthetic customer has >=1 order, so the unfiltered anti
    # join is empty (a vacuous pass); anti-joining against the URGENT
    # subset keeps the same plan shape (filter pushed below the join's
    # build side) with a non-empty result at every SF
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# Full outer join with both-side aggregates — exercises null-producing
# join sides feeding an aggregate.
@register(
    "join_full_outer_nation_activity",
    oracle=f"""
    SELECT n_name,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(DISTINCT s_suppkey) AS n_suppliers
    FROM nation
    FULL OUTER JOIN customer ON c_nationkey = n_nationkey
    FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def join_full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "full_outer")
        .join(s, F.col("s_nationkey") == F.col("n_nationkey"), "full_outer")
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Range (theta) join: same-customer order pairs within a 30-day window.
# Spark-first shape: equi-join on the customer key carries the heavy
# lifting (hash join), the range predicate is applied as a post-join
# filter — at scale the equi component keeps this from being a
# cartesian product; for a pure range join (no equi key) bucketize the
# range key and equi-join on bucket.
# --------------------------------------------------------------------------
@register(
    "join_range_order_pairs",
    oracle="""
    SELECT a.o_orderkey AS first_order, b.o_orderkey AS next_order,
           a.o_custkey AS cliente,
           date_diff('day', a.o_orderdate, b.o_orderdate) AS gap_days
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND b.o_orderdate > a.o_orderdate
     AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
    """,
)
def join_range_order_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("first_order"),
        F.col("o_custkey").alias("cliente"),
        F.col("o_orderdate").alias("d1"),
    )
    b = o.select(
        F.col("o_orderkey").alias("next_order"),
        F.col("o_custkey").alias("cliente"),
        F.col("o_orderdate").alias("d2"),
    )
    return (
        a.join(b, "cliente")
        .filter((F.col("d2") > F.col("d1")) & (F.col("d2") <= F.col("d1") + F.expr("INTERVAL 30 DAY")))
        .select(
            "first_order",
            "next_order",
            "cliente",
            F.datediff(F.to_date("d2"), F.to_date("d1")).alias("gap_days"),
        )
    )


# --------------------------------------------------------------------------
# As-of join: each purchase matched to the user's most recent click at
# or before it. Spark lacks a native ASOF JOIN; the scalable shape is
# the union-and-carry-forward window (one shuffle on user_id, one sort,
# no pairwise blowup — O(n log n) vs the naive O(n^2) join+max):
# tag both streams, sort by (ts, tag), carry the last click ts/id
# forward with last(ignorenulls) over an unbounded-preceding frame.
# Oracle uses DuckDB's native ASOF JOIN.
# --------------------------------------------------------------------------
@register(
    "join_asof_purchase_click",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           c.event_id AS click_id, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def join_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    is_click = F.col("event_type") == "click"
    tagged = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(is_click, F.col("ts")).alias("click_ts_src"),
        F.when(is_click, F.col("event_id")).alias("click_id_src"),
    )
    # clicks sort before purchases at equal ts ("at or before" includes ties)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last("click_ts_src", ignorenulls=True).over(w).alias("click_ts"),
        F.last("click_id_src", ignorenulls=True).over(w).alias("click_id"),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "click_id", "click_ts"
    )


# --------------------------------------------------------------------------
# Set operations.
# --------------------------------------------------------------------------
@register(
    "setops_customer_segments",
    oracle="""
    SELECT 'union' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'intersect', c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'except', c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    """,
)
def setops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        building.union(rich).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionAll(
            building.intersect(rich).select(F.lit("intersect").alias("op"), "c_custkey")
        )
        .unionAll(
            building.exceptAll(rich).distinct().select(F.lit("except").alias("op"), "c_custkey")
        )
    )


# --------------------------------------------------------------------------
# Global top-k: TakeOrderedAndProject — each partition keeps k rows,
# driver merges; no global sort. Tie-broken for determinism.
# --------------------------------------------------------------------------
@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(15)
    )


# Top-k per group — the window row_number pattern (one shuffle on the
# group key; AQE handles skewed groups).
@register(
    "topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return top_n(
        o, ("o_custkey",), (F.desc("o_totalprice"), "o_orderkey"), 3, rank="rn"
    )


# Pure time-range join (NO equi key): purchases matched to error
# events within +-5 minutes across ALL users. The naive formulation is
# a quadratic theta-join; the scale shape is INTERVAL BINNING: key the
# build side by its 300s epoch bin, explode the probe side to the 3
# bins any +-300s window can touch, equi-join on the bin, then apply
# the exact timestamp predicate. Each (purchase, error) pair meets in
# exactly one bin (the error's own), so no dedup pass is needed, and
# the shuffle carries bin keys — cost tracks matches, not the cross
# product. Gap stats use integer microseconds (exact on both engines).
@register(
    "join_range_binned_events",
    oracle="""
    SELECT p.event_id AS purchase_id,
           COUNT(*) AS n_errors,
           CAST(MIN(ABS(epoch_us(e.ts) - epoch_us(p.ts))) AS BIGINT)
             AS min_gap_us
    FROM events p JOIN events e
      ON e.event_type = 'error'
     AND e.ts BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts + INTERVAL 5 MINUTE
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def join_range_binned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"),
        F.floor(F.col("ts").cast("long") / 300).alias("bin"),
    )
    pbin = F.floor(F.col("ts").cast("long") / 300)
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.explode(F.array(pbin - 1, pbin, pbin + 1)).alias("bin"),
    )
    gap_us = F.abs(
        F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("p_ts"))
    )
    return (
        pur.join(err, "bin")
        .filter(
            (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTE"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 5 MINUTE"))
        )
        .groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.min(gap_us).cast("long").alias("min_gap_us"),
        )
    )
