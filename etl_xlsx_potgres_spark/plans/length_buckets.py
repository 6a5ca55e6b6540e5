"""Length-bucketed batching — the padding-waste accountant for
training-batch assembly (the bucketed/dynamic-batching stage every
seq-to-seq and LLM fine-tune loader runs: group similar-length
sequences so the per-batch pad-to-max overhead stays small).

Two policies over the same corpus, compared in one frame:

* ``bucketed`` — documents are first split into fixed-width token-
  length buckets (width 8, capped), then batched (size 16) in
  (length, doc_id) order inside each bucket;
* ``naive`` — arrival-order batching (doc_id order), no length
  grouping: the baseline whose waste bucketing is meant to beat.

Batch formation needs a row order, but NOT a global one — real
loaders batch per worker. The order here lives inside
(bucket, shard) cells, with shard = md5(doc_id) % 4: a deterministic
stand-in for the worker id whose count is the scale knob (shards
scale with the cluster, so per-cell row_number windows stay bounded
— same discipline as ``sequence_packing``'s md5-prefix buckets).
Padded size of a batch is ``count * max(len)``; waste is
``padded - real`` and the ratio is reported in exact integer
micro-units, so the whole result is bit-identical across engines and
partition widths.

Reference lifecycle note: the reference (``etl_process.py:1-235``)
stops at relational load; this extends the training-data pack
(packing -> shard export -> BATCHING).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import hex_int, sql_hex_int, sql_tokens, token_count
from ..registry import register
from ..sources import load_table

_BATCH = 16
_WIDTH = 8
_SHARDS = 4

_DUCK_SHARD = sql_hex_int("md5(CAST(doc_id AS VARCHAR))", 1) + f" % {_SHARDS}"

_ORACLE = f"""
WITH sized AS (
  SELECT doc_id,
         CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens,
         CAST({_DUCK_SHARD} AS INT) AS shard
  FROM documents
),
assigned AS (
  SELECT 'bucketed' AS policy,
         CAST(least(n_tokens // {_WIDTH}, 15) AS INT) AS length_bucket,
         shard, doc_id, n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY least(n_tokens // {_WIDTH}, 15), shard
           ORDER BY n_tokens, doc_id) AS rn
  FROM sized
  UNION ALL
  SELECT 'naive', -1, shard, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id)
  FROM sized
),
batches AS (
  SELECT policy, length_bucket, shard,
         CAST((rn - 1) // {_BATCH} AS BIGINT) AS batch_id,
         CAST(COUNT(*) AS BIGINT) AS n_in_batch,
         CAST(MAX(n_tokens) AS BIGINT) AS max_len,
         CAST(SUM(n_tokens) AS BIGINT) AS real_tokens
  FROM assigned
  GROUP BY 1, 2, 3, 4
)
SELECT policy, length_bucket,
       CAST(SUM(n_in_batch) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(real_tokens) AS BIGINT) AS real_tokens,
       CAST(SUM(n_in_batch * max_len) AS BIGINT) AS padded_tokens,
       CAST(((SUM(n_in_batch * max_len) - SUM(real_tokens)) * 1000000)
            // greatest(SUM(n_in_batch * max_len), 1) AS BIGINT)
         AS waste_micro
FROM batches
GROUP BY 1, 2
"""


def _sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        (hex_int(F.md5(F.col("doc_id").cast("string")), 1) % _SHARDS)
        .cast("int")
        .alias("shard"),
    )


@register("pack_length_buckets", oracle=_ORACLE)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    sized = _sized(spark, sf_dir)
    bucket = F.expr(f"CAST(least(n_tokens DIV {_WIDTH}, 15) AS INT)")
    bucketed = sized.select(
        F.lit("bucketed").alias("policy"),
        bucket.alias("length_bucket"),
        "shard",
        "doc_id",
        "n_tokens",
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("length_bucket", "shard").orderBy(
                "n_tokens", "doc_id"
            )
        ),
    )
    naive = sized.select(
        F.lit("naive").alias("policy"),
        F.lit(-1).cast("int").alias("length_bucket"),
        "shard",
        "doc_id",
        "n_tokens",
    ).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("shard").orderBy("doc_id")),
    )
    batches = (
        bucketed.unionByName(naive)
        .groupBy(
            "policy",
            "length_bucket",
            "shard",
            F.expr(f"CAST((rn - 1) DIV {_BATCH} AS BIGINT)").alias("batch_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in_batch"),
            F.max("n_tokens").cast("long").alias("max_len"),
            F.sum("n_tokens").cast("long").alias("real_tokens"),
        )
    )
    return (
        batches.groupBy("policy", "length_bucket")
        .agg(
            F.sum("n_in_batch").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("real_tokens").cast("long").alias("real_tokens"),
            F.sum(F.col("n_in_batch") * F.col("max_len"))
            .cast("long")
            .alias("padded_tokens"),
        )
        .select(
            "policy",
            "length_bucket",
            "n_docs",
            "n_batches",
            "real_tokens",
            "padded_tokens",
            # greatest(,1): a bucket of all-empty documents pads to 0
            F.expr(
                "CAST(((padded_tokens - real_tokens) * 1000000)"
                " DIV greatest(padded_tokens, 1) AS BIGINT)"
            ).alias("waste_micro"),
        )
    )
