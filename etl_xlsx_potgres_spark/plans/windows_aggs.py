"""Window functions, grouping sets/rollup/cube, pivot, and advanced
aggregates (SURVEY.md §2 "absent categories" — none exist in the
reference; all are first-class here).

Determinism: every window that feeds row_number/ntile orders by a
total order (unique key last); every float aggregate uses the
fixed-point policy from functions/numeric.py, including *windowed*
sums (cumulative double sums are not associative-order-safe either).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import fixed, msum, sql_fixed, sql_msum
from ..registry import register
from ..sources import load_table


@register(
    "win_rank_customers",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rn,
           ntile(4)     OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    """,
)
def win_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    wt = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(wt).alias("rn"),
        F.ntile(4).over(wt).alias("quartile"),
    )


@register(
    "win_lag_lead_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           date_diff('day',
                     lag(o_orderdate) OVER w,
                     o_orderdate) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_lag_lead_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ).alias("days_since_prev"),
    )


# Running totals & moving aggregates over explicit frames — fixed-point
# inside the window so the cumulative sums are reproducible.
@register(
    "win_running_total",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM({sql_fixed("o_totalprice")}) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/10000
             AS running_spend,
           CAST(SUM({sql_fixed("o_totalprice")}) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)/10000
             AS moving_3_sum,
           COUNT(*) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_3_n
    FROM orders
    """,
)
def win_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = base.rowsBetween(-2, Window.currentRow)
    scaled = fixed("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(scaled).over(cum).cast("double") / 10000).alias("running_spend"),
        (F.sum(scaled).over(mov).cast("double") / 10000).alias("moving_3_sum"),
        F.count(F.lit(1)).over(mov).alias("moving_3_n"),
    )


@register(
    "win_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
    )


@register(
    "agg_rollup_region_nation",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           {sql_msum("c_acctbal", "total_balance")},
           GROUPING(r_name, n_name) AS gid
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        msum("c_acctbal", "total_balance"),
        F.grouping_id().alias("gid"),
    )


@register(
    "agg_cube_status_priority",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_msum("o_totalprice", "total_price")},
           GROUPING(o_orderstatus, o_orderpriority) AS gid
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        msum("o_totalprice", "total_price"),
        F.grouping_id().alias("gid"),
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_msum("l_quantity", "qty")}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n, {sql_msum("l_quantity", "qty")}
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# Pivot (wide aggregation) — the inverse of the reference's contact
# unpivot; explicit value list keeps the plan a single pass.
@register(
    "pivot_returnflag_by_linestatus",
    oracle=f"""
    SELECT l_returnflag,
           {sql_msum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", "O")},
           {sql_msum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", "F")}
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_returnflag_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg((F.sum(fixed("l_quantity")).cast("double") / 10000))
    )


# Exact distinct aggregates (sum over a distinct set is order-safe once
# fixed-point) + multi-column distinct count.
@register(
    "agg_exact_distinct",
    oracle=f"""
    SELECT COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           CAST(SUM(DISTINCT {sql_fixed("l_quantity")}) AS DOUBLE)/10000 AS sum_distinct_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def agg_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        (F.sum_distinct(fixed("l_quantity")).cast("double") / 10000).alias(
            "sum_distinct_qty"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# Exact percentiles (interpolating) — verified to match DuckDB's
# quantile_cont on this data.
@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           quantile_cont(l_extendedprice, 0.75) AS p75_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_extendedprice, 0.25)").alias("p25_price"),
        F.expr("percentile(l_extendedprice, 0.75)").alias("p75_price"),
    )


# Variance/stddev from exact fixed-point moments — engine-native
# stddev implementations differ in accumulation order, so both sides
# compute sqrt((Σx² - (Σx)²/n) / (n-1)) from identical exact sums.
@register(
    "agg_stats_manual",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           {sql_msum("o_totalprice", "total")},
           sqrt(greatest(
             (CAST(SUM({sql_fixed("o_totalprice*o_totalprice")}) AS DOUBLE)/10000
              - pow(CAST(SUM({sql_fixed("o_totalprice")}) AS DOUBLE)/10000, 2)/COUNT(*))
             / (COUNT(*) - 1), 0)) AS stddev_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_stats_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    sx = F.sum(fixed("o_totalprice")).cast("double") / 10000
    sxx = F.sum(fixed(F.col("o_totalprice") * F.col("o_totalprice"))).cast("double") / 10000
    return o.groupBy("o_orderstatus").agg(
        n.alias("n"),
        sx.alias("total"),
        F.sqrt(F.greatest((sxx - F.pow(sx, 2) / n) / (n - 1), F.lit(0.0))).alias(
            "stddev_price"
        ),
    )


# Approximate aggregates, bound-style oracle: sketch outputs have no
# exact SQL twin by construction, so the query verifies ITSELF — it
# computes the HLL/approx-percentile sketches AND the exact answers in
# one pass, and emits (exact counts, within-tolerance booleans). The
# DuckDB oracle recomputes the exact counts independently and expects
# literal TRUE for every bound, so a sketch drifting outside tolerance
# becomes a hash mismatch, not an unverifiable rows-only row. Bounds:
# HLL default rsd is 5% -> 10% tolerance; approx_percentile accuracy
# 1000 bounds rank error ~0.1%, but the <=-rank check is one-sided on
# tie-heavy price data (every duplicate of the percentile value counts
# into le_p95), so the windows are [p-5pp, min(p+5pp, 1)]. The sketches
# are the 100 TB path (fixed-size state, no distinct shuffle).
@register(
    "agg_approx_sketches",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(DISTINCT l_suppkey) AS exact_supps,
           TRUE AS parts_within_10pct, TRUE AS supps_within_10pct,
           TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
    FROM lineitem
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # pass 1: sketches only — no countDistinct here, so the agg stays
    # expand-free (fixed-size sketch state, one partial-agg shuffle)
    sk = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("ap50"),
        F.expr("approx_percentile(l_extendedprice, 0.95, 1000)").alias("ap95"),
        F.count(F.lit(1)).alias("n"),
    )
    # pass 2 (the verification side): exact distincts AND the rank
    # positions of the approx percentiles, in ONE agg over li joined
    # with the 1-row sketch frame
    m = (
        li.crossJoin(F.broadcast(sk))
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_suppkey").alias("exact_supps"),
            F.first("approx_parts").alias("approx_parts"),
            F.first("approx_supps").alias("approx_supps"),
            F.sum((F.col("l_extendedprice") <= F.col("ap50")).cast("long")).alias(
                "le_p50"
            ),
            F.sum((F.col("l_extendedprice") <= F.col("ap95")).cast("long")).alias(
                "le_p95"
            ),
            F.first("n").alias("n"),
        )
    )
    return m.select(
        "exact_parts",
        "exact_supps",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.10 * F.col("exact_parts")
        ).alias("parts_within_10pct"),
        (
            F.abs(F.col("approx_supps") - F.col("exact_supps"))
            <= 0.10 * F.col("exact_supps")
        ).alias("supps_within_10pct"),
        (F.col("le_p50") / F.col("n")).between(0.45, 0.55).alias("p50_rank_ok"),
        (F.col("le_p95") / F.col("n")).between(0.90, 1.00).alias("p95_rank_ok"),
    )


# NTILE decile bucketing — the window partitioner behind quantile
# feature binning; total order (price, key) makes tile edges
# deterministic across engines.
@register(
    "win_ntile_price_deciles",
    oracle=f"""
    SELECT decile, COUNT(*) AS n_orders,
           {sql_msum("o_totalprice", "bucket_total")},
           MIN(o_orderkey) AS min_key
    FROM (
      SELECT o_orderkey, o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders)
    GROUP BY decile
    ORDER BY decile
    """,
)
def win_ntile_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT F.ntile over an unpartitioned window (single-partition sort of
    # the whole table): global_ntile range-partitions on the sort key and
    # derives the tile from a distributed global rank + the exact NTILE
    # front-loading formula (row count from the rank's own partition
    # counts; the range sort is materialized when this function runs).
    from ..operators.ids import global_ntile

    o = load_table(spark, sf_dir, "orders")
    return (
        global_ntile(o, ["o_totalprice", "o_orderkey"], 10, "decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            msum("o_totalprice", "bucket_total"),
            F.min("o_orderkey").alias("min_key"),
        )
        .orderBy("decile")
    )
