"""Scalar function packs: string / date / math / conditional / json /
map / array expressions, each oracle-checked. All JVM-native builtins
— zero Python UDFs, so every pack stays inside WholeStageCodegen.

Transcendentals (ln/exp/log10) go through the floor-grid because JVM
Math and C libm may differ in the last ulp; everything else is either
exact integer/string/date logic or verified bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table


def _grid(c, scale: int = 6):
    """floor(x*10^s)/10^s — collapses sub-ulp libm differences."""
    m = 10**scale
    return F.floor(c * m).cast("double") / m


@register(
    "fn_string_pack",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up, lower(p_brand) AS lo,
           length(p_name) AS len,
           substring(p_type, 1, 5) AS sub5,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           replace(p_type, ' ', '_') AS replaced,
           concat_ws('|', p_brand, p_type) AS joined,
           reverse(p_brand) AS rev,
           strpos(p_name, 'a') AS first_a,
           contains(p_type, 'BRASS') AS has_brass,
           starts_with(p_brand, 'Brand#1') AS is_brand1,
           repeat('ab', 3) AS rep,
           trim('  ' || p_brand || ' ') AS trimmed,
           split_part(p_type, ' ', 1) AS first_word
    FROM part
    """,
)
def fn_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.length("p_name").alias("len"),
        F.substring("p_type", 1, 5).alias("sub5"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("replaced"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.reverse("p_brand").alias("rev"),
        F.instr("p_name", "a").alias("first_a"),
        F.contains("p_type", F.lit("BRASS")).alias("has_brass"),
        F.startswith("p_brand", F.lit("Brand#1")).alias("is_brand1"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias("trimmed"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("first_word"),
    )


@register(
    "fn_regex_pack",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '[0-9]+') AS cust_digits,
           regexp_matches(c_name, '^Customer') AS is_customer,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
           len(regexp_extract_all(c_name, '0')) AS zero_count
    FROM customer
    """,
)
def fn_regex_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "[0-9]+", 0).alias("cust_digits"),
        F.col("c_name").rlike("^Customer").alias("is_customer"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked"),
        F.regexp_count("c_name", F.lit("0")).cast("long").alias("zero_count"),
    )


@register(
    "fn_date_pack",
    oracle="""
    SELECT o_orderkey,
           date_part('year', o_orderdate)    AS yr,
           date_part('month', o_orderdate)   AS mo,
           date_part('day', o_orderdate)     AS dy,
           date_part('quarter', o_orderdate) AS qtr,
           date_part('dow', o_orderdate)     AS dow0,
           date_trunc('month', o_orderdate)  AS month_start,
           CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS due,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    """,
)
def fn_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dy"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        # Spark dayofweek: 1=Sunday; DuckDB dow: 0=Sunday
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow0"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.timestamp_seconds(F.unix_date(F.date_add(d, 90)) * 86400).alias("due"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias("days_to_end"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "fn_math_pack",
    oracle="""
    SELECT c_custkey,
           abs(c_acctbal) AS abs_bal,
           CAST(sign(c_acctbal) AS DOUBLE) AS sgn,
           round(c_acctbal, 0) AS rounded,
           floor(c_acctbal) AS flr,
           ceil(c_acctbal) AS cl,
           c_custkey % 7 AS m7,
           pow(CAST(c_nationkey AS DOUBLE), 2) AS nk_sq,
           sqrt(abs(c_acctbal)) AS root,
           floor(ln(abs(c_acctbal) + 1) * 1000000)/1000000 AS log_bal,
           floor(exp(CAST(c_nationkey AS DOUBLE)/10) * 1000000)/1000000 AS exp_nk,
           greatest(c_acctbal, 0) AS pos_part,
           least(c_acctbal, 0) AS neg_part
    FROM customer
    """,
)
def fn_math_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.abs(bal).alias("abs_bal"),
        F.signum(bal).alias("sgn"),
        F.round(bal, 0).alias("rounded"),
        F.floor(bal).cast("double").alias("flr"),
        F.ceil(bal).cast("double").alias("cl"),
        (F.col("c_custkey") % 7).alias("m7"),
        F.pow(F.col("c_nationkey").cast("double"), 2).alias("nk_sq"),
        F.sqrt(F.abs(bal)).alias("root"),
        _grid(F.log(F.abs(bal) + 1)).alias("log_bal"),
        _grid(F.exp(F.col("c_nationkey").cast("double") / 10)).alias("exp_nk"),
        F.greatest(bal, F.lit(0.0)).alias("pos_part"),
        F.least(bal, F.lit(0.0)).alias("neg_part"),
    )


@register(
    "fn_conditional_pack",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'devedor'
                WHEN c_acctbal < 5000 THEN 'regular'
                ELSE 'premium' END AS tier,
           nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'N/A') AS seg_filled,
           c_acctbal IS NULL AS bal_missing,
           CASE WHEN c_acctbal BETWEEN 0 AND 1000 THEN TRUE ELSE FALSE END AS small_positive,
           c_mktsegment IN ('BUILDING', 'MACHINERY') AS in_target
    FROM customer
    """,
)
def fn_conditional_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.when(bal < 0, "devedor").when(bal < 5000, "regular").otherwise("premium").alias("tier"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("N/A")).alias(
            "seg_filled"
        ),
        bal.isNull().alias("bal_missing"),
        bal.between(0, 1000).alias("small_positive"),
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY").alias("in_target"),
    )


# JSON: declared-schema from_json is the engine's path (typed, no
# per-row path evaluation); get_json_object shown for ad-hoc access.
@register(
    "fn_json_pack",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
           json_extract_string(props, '$.k') AS k_str,
           json_extract_string(props, '$.missing') AS absent
    FROM events
    """,
)
def fn_json_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k_typed"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.missing").alias("absent"),
    )


# Map type: built from JSON, consumed back to scalars so the
# comparison stays type-stable across engines.
@register(
    "fn_map_pack",
    oracle="""
    SELECT event_id,
           'k' AS only_key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           1 AS n_keys
    FROM events
    """,
)
def fn_map_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.element_at(F.map_keys(m), 1).alias("only_key"),
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


# Array functions over the embedding column — scalar outputs (dims,
# elements, fixed-grid norms) keep the cross-engine compare exact.
@register(
    "fn_array_pack",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_coord,
           CAST(embedding[len(embedding)] AS DOUBLE) AS last_coord,
           floor(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 1000000)/1000000 AS norm_sq,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
)
def fn_array_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    dot_self = F.aggregate(
        x,
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size(x).alias("dim"),
        F.element_at(x, 1).cast("double").alias("first_coord"),
        F.element_at(x, F.size(x)).cast("double").alias("last_coord"),
        _grid(dot_self).alias("norm_sq"),
        F.size(F.filter(x, lambda v: v > 0)).alias("n_positive"),
    )
