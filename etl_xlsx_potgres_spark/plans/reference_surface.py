"""Reference-surface operators as oracle-checked queries.

One query per operator row of SURVEY.md §2 (rows 5-23), exercised on
the driver's TPC-H-ish tables. Each query calls the reusable
implementation in ``operators/`` — the oracle is the independent ANSI
re-statement of the same semantics for DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import (
    dedup_arbitrary,
    dedup_deterministic,
    digits_only,
    extract_dimension,
    fk_lookup,
    new_rows,
    normalize_headers,
    parse_date,
    phone_normalize,
    stringify_legacy,
    unpivot,
    validate_split,
    with_defaults,
)
from ..registry import register
from ..sources import load_table


# §2 row 5 — header normalization (etl_process.py:197 semantics).
@register(
    "ref_header_normalize",
    oracle="""
    SELECT c_custkey AS C_CustKey, c_name AS CName,
           c_nationkey AS C_Nation_Key, c_acctbal AS Acct_Bal,
           c_mktsegment AS MktSegment
    FROM customer
    """,
)
def ref_header_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    messy = load_table(spark, sf_dir, "customer").toDF(
        " C CustKey ", "C.Name", "C/Nation Key", "Acct Bal", "Mkt.Segment"
    )
    return normalize_headers(messy)


# §2 row 6 — digits-only clean (limpar_cpf_cnpj, etl_process.py:10-11).
@register(
    "ref_digits_only",
    oracle="""
    SELECT c_custkey, regexp_replace(c_name, '\\D', '', 'g') AS digits
    FROM customer
    """,
)
def ref_digits_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_custkey", digits_only("c_name").alias("digits"))


# §2 row 7 — phone normalize (limpar_celular, etl_process.py:14-15),
# over synthetically noised values so the clean is observable.
@register(
    "ref_phone_normalize",
    oracle="""
    SELECT c_custkey,
           regexp_replace(replace(replace('+55-' || c_name || '  ', '+', ''), '-', ''),
                          '^\\s+|\\s+$', '', 'g') AS phone
    FROM customer
    """,
)
def ref_phone_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    noisy = F.concat(F.lit("+55-"), F.col("c_name"), F.lit("  "))
    return c.select("c_custkey", phone_normalize(noisy).alias("phone"))


# §2 row 7 quirk — the reference's str(float) behavior: NaN -> "nan",
# integral floats keep ".0" (etl_process.py:15 on a float64 column).
@register(
    "ref_stringify_legacy",
    oracle="""
    SELECT c_custkey,
           CASE WHEN nullif(c_custkey, 7) IS NULL THEN 'nan'
                ELSE CAST(CAST(CAST(nullif(c_custkey, 7) AS DOUBLE) AS DECIMAL(20,1)) AS VARCHAR)
           END AS phone_str
    FROM customer
    """,
)
def ref_stringify_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    as_float = F.nullif(F.col("c_custkey"), F.lit(7)).cast("double")
    return c.select("c_custkey", stringify_legacy(as_float).alias("phone_str"))


# §2 row 10 — date parse/cast (to_date, etl_process.py:207-208).
@register(
    "ref_date_parse",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS DATE) AS parsed_date
    FROM orders
    """,
)
def ref_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        parse_date(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("parsed_date"),
    )


# §2 row 11 — conditional cast (when(notNull).cast, etl_process.py:209):
# null-preserving cast to the sink's numeric(15,2), surfaced as double.
@register(
    "ref_conditional_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE) AS valor
    FROM orders
    """,
)
def ref_conditional_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    valor = F.col("o_totalprice").cast("decimal(15,2)").cast("double")
    return o.select("o_orderkey", valor.alias("valor"))


# §2 row 12 — null-default fill (etl_process.py:210-211); NULLs seeded
# via NULLIF so the default path is actually exercised.
@register(
    "ref_null_default_fill",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'Desconhecido') AS segmento
    FROM customer
    """,
)
def ref_null_default_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    seeded = c.withColumn("segmento", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")))
    return with_defaults(seeded, {"segmento": "Desconhecido"}).select(
        "c_custkey", "segmento"
    )


# §2 row 13 — keyed dedup, arbitrary survivor (dropDuplicates,
# etl_process.py:213). Only the key set is deterministic, so that is
# what the query exposes.
@register(
    "ref_dedup_arbitrary",
    oracle="SELECT DISTINCT l_suppkey FROM lineitem",
)
def ref_dedup_arbitrary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return dedup_arbitrary(li, ["l_suppkey"]).select("l_suppkey")


# §2 row 13 (deterministic upgrade) — first order per customer under a
# total tie-break order.
@register(
    "ref_dedup_deterministic",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def ref_dedup_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    first = dedup_deterministic(o, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")])
    return first.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


# §2 row 14/23 — run metrics: counts as data, not prints
# (etl_process.py:215,227-235).
@register(
    "ref_run_metrics",
    oracle="""
    SELECT COUNT(*) AS total,
           COUNT(DISTINCT l_orderkey) AS chaves_distintas,
           CAST(SUM(CASE WHEN l_discount <= 0.06 THEN 1 ELSE 0 END) AS BIGINT)
             AS validos,
           CAST(SUM(CASE WHEN l_discount > 0.06 THEN 1 ELSE 0 END) AS BIGINT)
             AS quarentena
    FROM lineitem
    """,
)
def ref_run_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ok = F.col("l_discount") <= 0.06
    return li.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("l_orderkey").alias("chaves_distintas"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("validos"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("quarentena"),
    )


# §2 row 16 — distinct-projection dimension extraction
# (drop_duplicates on two columns, etl_process.py:34).
@register(
    "ref_distinct_projection",
    oracle="SELECT DISTINCT p_brand, p_type FROM part",
)
def ref_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select("p_brand", "p_type").distinct()


# §2 row 16 (sink-keyed variant) — dimension unique on its sink key
# alone with deterministic survivor (sink UNIQUE on descricao,
# schema_database_pgsql.sql:425-426).
@register(
    "ref_dimension_extract",
    oracle="""
    SELECT p_brand, p_retailprice, p_type
    FROM part
    QUALIFY row_number() OVER (PARTITION BY p_brand
                               ORDER BY p_retailprice, p_type, p_partkey) = 1
    """,
)
def ref_dimension_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    dim = dedup_deterministic(
        p, ["p_brand"], [F.col("p_retailprice"), F.col("p_type"), F.col("p_partkey")]
    )
    return dim.select("p_brand", "p_retailprice", "p_type")


# §2 row 18 — FK lookup as a broadcast dimension join chain replacing
# the reference's N+1 per-row SELECTs (buscar_id, etl_process.py:53-59).
@register(
    "ref_fk_lookup_join",
    oracle="""
    SELECT o_orderkey, c.c_name, n.n_name, r.r_name
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def ref_fk_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    n = load_table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    r = load_table(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    # customer scales with the data: no hint, the planner sizes it
    resolved, _ = fk_lookup(
        o, c.select("o_custkey", "c_name", "c_nationkey"), "o_custkey", broadcast=False
    )
    resolved, _ = fk_lookup(resolved, n.select("c_nationkey", "n_name", "n_regionkey"), "c_nationkey")
    resolved, _ = fk_lookup(resolved, r.select("n_regionkey", "r_name"), "n_regionkey")
    return resolved.select("o_orderkey", "c_name", "n_name", "r_name")


# §2 rows 18/21 — FK miss → quarantine row with reason instead of a
# per-row exception (etl_process.py:106-111).
@register(
    "ref_fk_missing_quarantine",
    oracle="""
    SELECT o_orderkey, 'Cliente não encontrado' AS erro
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 0)
    """,
)
def ref_fk_missing_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    _, missing = fk_lookup(o, dim, "o_custkey", broadcast=False)
    return missing.select("o_orderkey", F.lit("Cliente não encontrado").alias("erro"))


# §2 row 19 — row expansion with literal defaults (contract build,
# etl_process.py:113-124: `or 10` default, lit false/1, substring,
# '' coalesce).
@register(
    "ref_row_expansion",
    oracle="""
    SELECT o_orderkey,
           o_custkey AS cliente_id,
           CASE WHEN date_part('day', o_orderdate) IS NULL
                  OR date_part('day', o_orderdate) = 0
                THEN 10 ELSE date_part('day', o_orderdate) END AS dia_vencimento,
           FALSE AS isento,
           1 AS status_id,
           COALESCE(NULLIF(o_orderstatus, 'O'), '') AS endereco_complemento,
           SUBSTRING(o_orderpriority, 1, 2) AS endereco_uf
    FROM orders
    """,
)
def ref_row_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.dayofmonth("o_orderdate")
    return o.select(
        "o_orderkey",
        F.col("o_custkey").alias("cliente_id"),
        F.when(day.isNull() | (day == 0), 10).otherwise(day).alias("dia_vencimento"),
        F.lit(False).alias("isento"),
        F.lit(1).alias("status_id"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("")).alias(
            "endereco_complemento"
        ),
        F.substring("o_orderpriority", 1, 2).alias("endereco_uf"),
    )


# §2 row 20 — wide→long unpivot with a type map (contact loop,
# etl_process.py:153-174).
@register(
    "ref_unpivot_contacts",
    oracle="""
    SELECT * FROM (
      SELECT p_partkey, 'Brand' AS tipo, 1 AS tipo_id, trim(CAST(p_brand AS VARCHAR)) AS contato FROM part
      UNION ALL
      SELECT p_partkey, 'Type', 2, trim(CAST(p_type AS VARCHAR)) FROM part
      UNION ALL
      SELECT p_partkey, 'Name', 3, trim(CAST(p_name AS VARCHAR)) FROM part
    ) WHERE contato IS NOT NULL
    """,
)
def ref_unpivot_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return unpivot(
        p,
        ["p_partkey"],
        {"Brand": ("p_brand", 1), "Type": ("p_type", 2), "Name": ("p_name", 3)},
    )


# §2 row 17 — insert-if-absent (INSERT ... ON CONFLICT DO NOTHING,
# etl_process.py:36-41/:70-78) as a left anti join.
@register(
    "ref_upsert_new_rows",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey % 2 <> 0
    """,
)
def ref_upsert_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    existing = c.filter(F.col("c_custkey") % 2 == 0)
    return new_rows(c, existing, ["c_custkey"]).select("c_custkey", "c_name", "c_acctbal")


# §2 rows 21/23 — validate-and-split quarantine channel replacing
# SAVEPOINT/ROLLBACK row isolation (etl_process.py:103-129).
@register(
    "ref_quarantine_split",
    oracle="""
    SELECT l_orderkey, l_linenumber, erro FROM (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN (l_quantity > 0) IS NOT TRUE THEN 'quantidade inválida'
                  WHEN (l_discount <= 0.06) IS NOT TRUE
                    THEN 'desconto fora do intervalo'
                  WHEN l_shipdate IS NULL THEN 'data de envio ausente'
             END AS erro
      FROM lineitem
    ) WHERE erro IS NOT NULL
    """,
)
def ref_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rules = [
        ("quantidade inválida", F.col("l_quantity") > 0),
        ("desconto fora do intervalo", F.col("l_discount") <= 0.06),
        ("data de envio ausente", F.col("l_shipdate").isNotNull()),
    ]
    _, quarantine = validate_split(li, rules)
    return quarantine.select("l_orderkey", "l_linenumber", "erro")


# §2 rows 16+13 composed — the planos dimension pipeline: distinct
# projection + keyed dedup + the extracted dimension's row count as a
# metric column (mirrors inserir_planos_unicos, etl_process.py:29-50).
@register(
    "ref_dimension_load_metric",
    oracle="""
    SELECT COUNT(*) AS planos FROM (
      SELECT DISTINCT p_brand FROM part
    )
    """,
)
def ref_dimension_load_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    dim = extract_dimension(p, "p_brand", ["p_retailprice", "p_type"])
    return dim.agg(F.count(F.lit(1)).alias("planos"))


# Surrogate-key assignment at scale — replaces both the reference
# sink's SERIAL sequences (schema_database_pgsql.sql) and the naive
# single-partition row_number window: identical ids (global rank by
# key) from a fully distributed range-sort plan (operators/ids.py).
@register(
    "ref_surrogate_ids_scalable",
    oracle="""
    SELECT p_partkey, p_brand,
           CAST(row_number() OVER (ORDER BY p_brand, p_partkey) AS BIGINT)
             AS sk
    FROM part
    """,
)
def ref_surrogate_ids_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import surrogate_ids

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return surrogate_ids(p, ["p_brand", "p_partkey"], "sk")
