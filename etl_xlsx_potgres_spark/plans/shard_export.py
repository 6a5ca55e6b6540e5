"""Training-shard export — the write side of a curation pipeline:
deterministically assign every document to one of N_SHARDS shards,
materialize the corpus as a shard-partitioned parquet layout with
bounded file sizes, and attest the layout by reading it BACK through
partition-column restore (what the downstream trainer actually sees).

Shard assignment is the portable md5 bucket (``operators.text``'s
``hex_int``/``sql_hex_int``) mod N_SHARDS — reproducible across
engines and runs, independent of partitioning, and uniform, so every
shard gets ~|corpus|/N docs regardless of ingest order (a trainer's
data loader wants shards balanced to within sampling noise).

Write-path mechanics exercised (the knobs that matter at 100 TB):

- ``repartition(shard)`` routes each shard's rows to one task set so
  a shard directory gets few, large files — not #tasks x #shards
  stragglers (the writer fan-out problem ``plans/dpp_pruning.py``
  notes);
- ``maxRecordsPerFile`` caps file size from the engine side — with
  a petabyte corpus a shard is many files, each individually
  splittable; the attestation counts files per shard and asserts the
  cap held (files = ceil(rows/cap) per shard when one task writes a
  shard);
- the read-back restores ``shard`` from the directory structure
  (partition-column pruning available to the trainer for
  shard-subset reads).

Output: one row per shard with doc count, token sum, and byte sum —
balanced-layout stats a manifest would carry. The DuckDB oracle
re-derives all three from the raw table and the same hash arithmetic;
a lost or duplicated row anywhere in the write->read round trip
flips the counts.

The JSONL twin (``export_jsonl_shards``, below) writes the same
shards through Spark's text sink.

Reference lifecycle note: the reference's only sink is row-at-a-time
Postgres inserts (``etl_process.py:29-191``); a shard-partitioned
columnar export is its at-scale replacement for handing data to a
downstream consumer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.text import hex_int, sql_hex_int, sql_tokens
from ..registry import register
from ..sources import load_table

N_SHARDS = 8
MAX_RECORDS_PER_FILE = 40

_ROOT = "/tmp/spark_graft_shards"


def _shard_col() -> F.Column:
    """The document's export shard.  DuckDB twin: :data:`_SQL_SHARD`."""
    h = F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    return (hex_int(h) % N_SHARDS).cast("int")


_SQL_SHARD = f"""CAST({sql_hex_int("md5('shard:' || CAST(doc_id AS VARCHAR))")}
           % {N_SHARDS} AS INT)"""


def export_shards(spark: SparkSession, sf_dir: str) -> str:
    """Write the shard-partitioned layout (idempotent overwrite per
    SF) and return its path."""
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join(_ROOT, f"documents_{sf}")
    (
        load_table(spark, sf_dir, "documents")
        .withColumn("shard", _shard_col())
        .repartition("shard")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy("shard")
        .parquet(out)
    )
    return out


@register(
    "export_training_shards",
    oracle=f"""
    SELECT
      {_SQL_SHARD} AS shard,
      count(*) AS n_docs,
      CAST(sum(len({sql_tokens()})) AS BIGINT) AS total_tokens,
      CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY shard
    """,
)
def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count

    path = export_shards(spark, sf_dir)
    back = spark.read.parquet(path)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("long")).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


# JSONL training-shard export — the delivery format trainer data
# loaders actually consume (gzip'd JSON-lines shards are the lingua
# franca of public LLM corpora: C4, The Pile, RedPajama, FineWeb all
# ship as sharded ``*.jsonl.gz``).  ``export_training_shards`` attests
# the columnar (parquet) layout; this exercises Spark's TEXT sink path
# end to end — ``write.partitionBy(shard).json`` with gzip codec, then
# a declared-schema ``read.json`` restore — because the JSON writer and
# reader are a genuinely different code path (schema-on-read, partition
# column restore from directory structure, per-line codec framing) and
# a corpus handoff that silently drops or duplicates lines is exactly
# the failure this round trip flips on.
#
# Shard assignment is the same ``_shard_col``/``_SQL_SHARD`` md5
# arithmetic as the parquet export (same hash, same modulus) so the two
# layouts are shard-compatible: a trainer can mix parquet and JSONL
# reads of the same corpus and see the same document partition.
#
# Scale notes: ``repartition(shard)`` keeps one task set per shard
# directory (few large .gz files, not #tasks x #shards stragglers);
# gzip is splittable-NOT, which is fine at the shard grain because the
# loader parallelizes across files, and ``maxRecordsPerFile`` bounds
# each file.  The attestation aggregates the READ-BACK frame (counts,
# token sums, char sums per shard) against a DuckDB oracle derived from
# the raw table and the same hash — lost/duplicated/mangled lines flip
# the counts; non-UTF8-safe text would flip the char sums.
#
# Reference lifecycle note: the reference's only sink is row-at-a-time
# Postgres inserts (etl_process.py:29-191); a compressed JSONL export
# is the handoff a downstream training job actually ingests.
_READ_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@register(
    "export_jsonl_shards",
    oracle=f"""
    SELECT
      {_SQL_SHARD} AS shard,
      count(*) AS n_docs,
      CAST(sum(len({sql_tokens()})) AS BIGINT) AS total_tokens,
      CAST(sum(len(text)) AS BIGINT) AS total_text_chars,
      CAST(min(doc_id) AS BIGINT) AS min_doc_id,
      CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents
    GROUP BY shard
    """,
)
def export_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count

    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join(_ROOT, f"documents_jsonl_{sf}")
    (
        load_table(spark, sf_dir, "documents")
        .withColumn("shard", _shard_col())
        .repartition("shard")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .option("compression", "gzip")
        .partitionBy("shard")
        .json(out)
    )
    back = spark.read.schema(_READ_SCHEMA.add("shard", T.IntegerType())).json(
        out
    )
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("long")).alias("total_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_text_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
