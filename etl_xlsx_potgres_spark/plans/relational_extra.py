"""Additional relational coverage: scalar and correlated subqueries,
HAVING, RANGE window frames, lateral explode (posexplode), union by
name, explicit null ordering."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import fixed, sql_fixed
from ..registry import register
from ..sources import load_table


# Scalar subquery: customers above the global average balance. The
# aggregate is computed once and broadcast into the filter.
@register(
    "subquery_above_avg_balance",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE CAST(c_acctbal*10000 AS BIGINT) > (
      SELECT CAST(AVG(CAST(c_acctbal*10000 AS BIGINT)) AS BIGINT) FROM customer)
    """,
)
def subquery_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer_sq")
    # exact integer-scaled comparison keeps the threshold engine-stable
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM customer_sq
        WHERE CAST(c_acctbal*10000 AS BIGINT) > (
          SELECT CAST(AVG(CAST(c_acctbal*10000 AS BIGINT)) AS BIGINT) FROM customer_sq)
        """
    )


# Correlated subquery: each customer's most expensive order (rewritten
# by Catalyst into a join; expressed correlated for surface coverage).
@register(
    "subquery_correlated_max_order",
    oracle="""
    SELECT c_custkey,
           (SELECT MAX(o_totalprice) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order_price
    FROM customer c
    """,
)
def subquery_correlated_max_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_corr")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT MAX(o_totalprice) FROM orders_corr o
                WHERE o.o_custkey = c.c_custkey) AS max_order_price
        FROM customer_corr c
        """
    )


@register(
    "agg_having_active_customers",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM({sql_fixed("o_totalprice")}) AS DOUBLE)/10000 AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def agg_having_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(fixed("o_totalprice")).cast("double") / 10000).alias("spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


# RANGE frame: spend within the last 30 days of each order, per
# customer — value-based frame, not row-count-based.
@register(
    "win_range_frame_30d_spend",
    oracle=f"""
    SELECT o_custkey, o_orderkey, d,
           CAST(SUM({sql_fixed("o_totalprice")}) OVER (
             PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)/10000
             AS spend_30d
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
          FROM orders)
    """,
)
def win_range_frame_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "d", F.unix_date(F.to_date("o_orderdate"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "d",
        (F.sum(fixed("o_totalprice")).over(w).cast("double") / 10000).alias("spend_30d"),
    )


# Lateral explode with ordinality (posexplode): one row per word of
# p_type with its position.
@register(
    "fn_posexplode_words",
    oracle="""
    SELECT p_partkey, pos, word FROM (
      SELECT p_partkey,
             unnest(list_transform(string_split(p_type, ' '),
                    (x, i) -> struct_pack(pos := i - 1, word := x)),
                    recursive := true)
      FROM part
    )
    """,
)
def fn_posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey", F.posexplode(F.split("p_type", " ")).alias("pos", "word")
    )


# Union-by-name across differently-ordered projections.
@register(
    "setops_union_by_name",
    oracle="""
    SELECT key, name, kind FROM (
      SELECT c_custkey AS key, c_name AS name, 'customer' AS kind FROM customer
      UNION ALL
      SELECT s_suppkey AS key, s_name AS name, 'supplier' AS kind FROM supplier
    )
    """,
)
def setops_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("kind"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_name").alias("name"),
        F.col("s_suppkey").alias("key"),
    )
    return c.unionByName(s)


# Explicit null ordering: NULLS FIRST / LAST must be stable and
# deterministic (keys seeded with NULLIF).
@register(
    "sort_null_ordering",
    oracle="""
    SELECT c_custkey, seg,
           row_number() OVER (ORDER BY seg ASC NULLS FIRST, c_custkey) AS rn_nf,
           row_number() OVER (ORDER BY seg DESC NULLS LAST, c_custkey) AS rn_nl
    FROM (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg FROM customer)
    """,
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two distributed global ranks (range-partition + offsets, not an
    # unpartitioned window), each materialized once when built; the
    # null-ordering semantics live in the sort-key expressions, which
    # the range partitioner honors. The two rank frames rejoin on the
    # unique key.
    from ..operators.ids import global_row_number

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    )
    nf = global_row_number(
        c, [F.col("seg").asc_nulls_first(), F.asc("c_custkey")], "rn_nf"
    )
    nl = global_row_number(
        c.select("c_custkey", "seg"),
        [F.col("seg").desc_nulls_last(), F.asc("c_custkey")],
        "rn_nl",
    ).select("c_custkey", "rn_nl")
    return nf.join(nl, "c_custkey").select("c_custkey", "seg", "rn_nf", "rn_nl")


# Skew handling: lineitem's 3-value returnflag is maximally hot; the
# salted two-stage aggregation spreads each flag over 16 reducers and
# must produce bit-identical sums (exact fixed-point partials).
@register(
    "skew_salted_agg",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM({sql_fixed("l_extendedprice")}) AS DOUBLE)/10000 AS total_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_sum

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_sum(
        li,
        ["l_returnflag"],
        fixed("l_extendedprice"),
        "_scaled",
        salt_from="l_orderkey",
    )
    return out.select(
        "l_returnflag", (F.col("_scaled").cast("double") / 10000).alias("total_price")
    )


# Skew-safe salted shuffle join against a replicated dimension — same
# result set as the plain join.
@register(
    "skew_salted_join",
    oracle="""
    SELECT l_returnflag, flag_label, COUNT(*) AS n
    FROM lineitem
    JOIN (VALUES ('A', 'returned'), ('N', 'kept'), ('R', 'refunded'))
         AS d(l_returnflag, flag_label) USING (l_returnflag)
    GROUP BY l_returnflag, flag_label
    ORDER BY l_returnflag
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    dim = spark.createDataFrame(
        [("A", "returned"), ("N", "kept"), ("R", "refunded")],
        schema="l_returnflag string, flag_label string",
    )
    joined = salted_join(li, dim, "l_returnflag", salt_from="l_orderkey")
    return (
        joined.groupBy("l_returnflag", "flag_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag")
    )


# SCD2 emulation: each customer's orders as dimension versions with
# validity intervals (valid_to = next version's start; NULL = current).
# The MERGE-less engine pattern for slowly changing dimensions.
@register(
    "scd2_version_intervals",
    oracle="""
    SELECT o_custkey, o_orderkey AS version_id,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
    FROM orders
    """,
)
def scd2_version_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        F.col("o_orderkey").alias("version_id"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# MERGE INTO emulation (no Delta in this runtime): target rows are
# replaced by matching source rows, unmatched source rows are
# inserted — full outer join + coalesce, the anti-join+union pattern.
@register(
    "merge_upsert_emulation",
    oracle="""
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
           CASE WHEN s.c_custkey IS NOT NULL AND t.c_custkey IS NOT NULL THEN 'updated'
                WHEN s.c_custkey IS NOT NULL THEN 'inserted'
                ELSE 'kept' END AS merge_action
    FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0) t
    FULL OUTER JOIN
         (SELECT c_custkey, c_acctbal + 100 AS c_acctbal FROM customer
          WHERE c_custkey % 3 = 0) s
    ON t.c_custkey = s.c_custkey
    """,
)
def merge_upsert_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    target = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("t_key"), F.col("c_acctbal").alias("t_bal")
    )
    source = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("s_key"), (F.col("c_acctbal") + 100).alias("s_bal")
    )
    merged = target.join(source, target.t_key == source.s_key, "full_outer")
    action = (
        F.when(F.col("s_key").isNotNull() & F.col("t_key").isNotNull(), "updated")
        .when(F.col("s_key").isNotNull(), "inserted")
        .otherwise("kept")
    )
    return merged.select(
        F.coalesce("s_key", "t_key").alias("c_custkey"),
        F.coalesce("s_bal", "t_bal").alias("c_acctbal"),
        action.alias("merge_action"),
    )


# Histogram: fixed-width bucketing — the groupBy form of a numeric
# profile (each bucket a partial count; one tiny shuffle).
@register(
    "histogram_order_price",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def histogram_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )
