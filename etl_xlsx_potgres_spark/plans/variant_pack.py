"""VARIANT semi-structured type (new in Spark 4) — the open-format
answer to schema-on-read JSON columns: ``parse_json`` produces a
binary-encoded variant whose fields are extracted with typed paths
(``variant_get``) WITHOUT re-parsing text per access, and
``schema_of_variant`` recovers the observed schema. For a 100 TB
event stream with heterogeneous payloads this is the scan-friendly
shape: parse once at ingest, push typed extractions down to the
columnar reader (variant shredding), never regex over text.

The probe builds a nested JSON document from REAL row values
(``to_json(struct(...))``), round-trips it through VARIANT, and
extracts typed scalars, a nested field, and an array element. The
DuckDB oracle computes every output directly from the source columns
— so a parse/extract/coercion bug anywhere in the variant path flips
values against ground truth. ``props`` (the fixture's own JSON
column) is also extracted both natively and via the variant path and
cross-checked in-row.

Reference lifecycle note: the reference has no semi-structured
surface (``etl_process.py:1-235`` is fixed-schema pandas); VARIANT is
north-star Spark 4 surface for heterogeneous event payloads.

Map-only projection; zero shuffles, zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table


@register(
    "fn_variant_pack",
    oracle="""
    SELECT event_id,
           event_type AS v_type,
           CAST(FLOOR(value) AS BIGINT) AS v_floor,
           user_id AS v_user,
           event_type || ':' || CAST(user_id AS STRING) AS v_tag0,
           CAST(json_extract(props, '$.k') AS BIGINT) AS props_k,
           CAST(json_extract(props, '$.k') AS BIGINT) % 7 = user_id % 7
             AS k_mod_matches
    FROM events
    """,
)
def fn_variant_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("type"),
            F.floor("value").cast("long").alias("floor_value"),
            F.struct(F.col("user_id").alias("id")).alias("who"),
            F.array(
                F.concat_ws(":", "event_type", F.col("user_id").cast("string"))
            ).alias("tags"),
        )
    )
    withv = e.withColumn("v", F.parse_json(doc)).withColumn(
        "pv", F.parse_json("props")
    )
    return withv.select(
        "event_id",
        F.expr("variant_get(v, '$.type', 'string')").alias("v_type"),
        F.expr("variant_get(v, '$.floor_value', 'bigint')").alias("v_floor"),
        F.expr("variant_get(v, '$.who.id', 'bigint')").alias("v_user"),
        F.expr("variant_get(v, '$.tags[0]', 'string')").alias("v_tag0"),
        F.expr("variant_get(pv, '$.k', 'bigint')").alias("props_k"),
        (
            F.expr("variant_get(pv, '$.k', 'bigint')") % 7
            == F.col("user_id") % 7
        ).alias("k_mod_matches"),
    )
