"""Domain-blocklist filtering — the first gate of every web-corpus
curation pipeline (C4 and RefinedWeb both open with a URL filter
against blocklists like the public UT1 collection; Dodge et al. 2021
document the same stage for C4).  A page is blocked when its host
equals a blocklist entry or sits anywhere UNDER one (suffix match at
dot boundaries): entry ``tracker.net`` must block
``cdn.tracker.net``.

URL synthesis: the fixture has no URL column, so each document
synthesizes a deterministic host (the ``domain_calibration``
convention, extended): every 7th page lives under
``cdn.tracker.net``, the rest under
``sub{0..2}.domain-{0..3}.com``.  The blocklist mixes entry grains —
a registered domain (``domain-1.com``), a bare host under a tracker
domain (``tracker.net``), a FULL host (``sub2.domain-0.com``, which
must NOT block sub0/sub1 siblings), and a never-matching entry
(``phish.example``, proving the filter doesn't over-block).  All
four verdict paths are non-vacuous at sf0.01.

Plan shape — scalable suffix matching: real blocklists are millions
of entries (UT1 adult alone is ~4M domains), far beyond an in-literal
IN list but comfortably broadcast-able.  Each host explodes into its
O(label-count) dot-suffix set (``a.b.com`` -> [``a.b.com``,
``b.com``, ``com``]; bounded by DNS label depth, ~5), which turns
suffix matching into an EQUI-join the broadcast hash join can
execute — no BroadcastNestedLoopJoin, no regex scan over the
blocklist per row.  One Exchange total (the per-doc verdict rollup);
the blocklist side is a broadcast.

Reference lifecycle note: the reference ETL (etl_process.py:1-235)
has no URL surface; this is north-star LLM-curation stage 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table

BLOCKLIST = (
    "domain-1.com",
    "tracker.net",
    "sub2.domain-0.com",
    "phish.example",
)

_SPARK_HOST = (
    "CASE WHEN doc_id % 7 = 0 THEN 'cdn.tracker.net' "
    "ELSE 'sub' || CAST(doc_id % 3 AS STRING) || '.domain-'"
    " || CAST((doc_id DIV 4) % 4 AS STRING) || '.com' END"
)
_DUCK_HOST = _SPARK_HOST.replace("doc_id DIV 4", "doc_id // 4").replace(
    "AS STRING", "AS VARCHAR"
)

_SPARK_SUFFIXES = (
    "transform(sequence(1, size(labels)),"
    " i -> array_join(slice(labels, i, size(labels) - i + 1), '.'))"
)
_DUCK_SUFFIXES = (
    "list_transform(generate_series(1, len(labels)),"
    " i -> array_to_string(list_slice(labels, i, len(labels)), '.'))"
)

_DUCK_BLOCKLIST_VALUES = ", ".join(f"('{e}')" for e in BLOCKLIST)


@register(
    "filter_domain_blocklist",
    oracle=f"""
    WITH hosts AS (
      SELECT doc_id, {_DUCK_HOST} AS host FROM documents
    ),
    lab AS (
      SELECT doc_id, host, string_split(host, '.') AS labels FROM hosts
    ),
    sufs AS (
      SELECT doc_id, host, unnest({_DUCK_SUFFIXES}) AS suffix FROM lab
    ),
    bl(entry) AS (VALUES {_DUCK_BLOCKLIST_VALUES}),
    hits AS (
      SELECT s.doc_id, MIN(b.entry) AS matched_entry
      FROM sufs s JOIN bl b ON s.suffix = b.entry
      GROUP BY s.doc_id
    )
    SELECT h.doc_id, h.host,
           hits.matched_entry IS NOT NULL AS blocked,
           hits.matched_entry
    FROM hosts h LEFT JOIN hits ON h.doc_id = hits.doc_id
    """,
)
def filter_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hosts = d.select("doc_id", F.expr(_SPARK_HOST).alias("host"))
    blocklist_df = spark.createDataFrame(
        [(e,) for e in BLOCKLIST], ["entry"]
    )
    blocklist_df = constant_size(blocklist_df)
    sufs = (
        hosts.withColumn("labels", F.split("host", "\\."))
        .select(
            "doc_id", "host", F.explode(F.expr(_SPARK_SUFFIXES)).alias("suffix")
        )
    )
    # equi-join on the exploded suffix; rollup restores doc grain.
    # min() makes the reported entry deterministic when several match.
    verdict = (
        sufs.join(blocklist_df, sufs.suffix == blocklist_df.entry)
        .groupBy("doc_id")
        .agg(F.min("entry").alias("matched_entry"))
    )
    return hosts.join(verdict, "doc_id", "left").select(
        "doc_id",
        "host",
        F.col("matched_entry").isNotNull().alias("blocked"),
        "matched_entry",
    )
