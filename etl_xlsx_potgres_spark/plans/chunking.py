"""Training-data preparation: document chunking and sequence packing.

- ``text_chunk_documents``: split each document into overlapping
  token-window chunks (window=W tokens, stride=S) — the pre-tokenizer
  chunking stage of an LLM ingest pipeline. Map-only per document.
- ``text_pack_sequences``: assign documents to fixed-budget bins
  (greedy in a deterministic document order, per source shard) via a
  cumulative token-count window — the batch-packing stage that turns
  variable-length docs into near-constant-cost training rows. One
  shuffle on the shard key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

WINDOW = 40  # tokens per chunk
STRIDE = 30  # tokens between chunk starts (WINDOW-STRIDE overlap)
PACK_BUDGET = 512  # token budget per packed sequence


@register(
    "text_chunk_documents",
    oracle=f"""
    SELECT doc_id, chunk_id,
           array_to_string(list_slice(toks, chunk_id*{STRIDE} + 1,
                                      chunk_id*{STRIDE} + {WINDOW}), ' ') AS chunk_text,
           least({WINDOW}, len(toks) - chunk_id*{STRIDE}) AS n_tokens
    FROM (
      SELECT doc_id, {sql_tokens()} AS toks,
             unnest(generate_series(0,
               CAST(ceil(greatest(len({sql_tokens()}) - {WINDOW}, 0) * 1.0 / {STRIDE}) AS BIGINT)))
               AS chunk_id
      FROM documents
      WHERE len({sql_tokens()}) > 0
    )
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    # chunk starts: 0, S, 2S, ... covering the tail (last chunk may be short)
    n_chunks = F.ceil(F.greatest(n - WINDOW, F.lit(0)) / STRIDE) + 1
    with_toks = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    chunks = with_toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (F.ceil(F.greatest(F.size("toks") - WINDOW, F.lit(0)) / STRIDE)).cast("long"))).alias("chunk_id"),
        "toks",
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.concat_ws(
            " ", F.slice("toks", (F.col("chunk_id") * STRIDE + 1).cast("int"), WINDOW)
        ).alias("chunk_text"),
        F.least(F.lit(WINDOW), F.size("toks") - F.col("chunk_id") * STRIDE).alias(
            "n_tokens"
        ),
    )


@register(
    "text_pack_sequences",
    oracle=f"""
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR((cum - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT doc_id, source, len({sql_tokens()}) AS n_tokens FROM documents)
    )
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bin by the cumulative token count BEFORE each doc: docs stream
    # into budget-sized packs in deterministic doc_id order per shard
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select("doc_id", "source", F.size(toks).alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET).cast("bigint").alias("pack_id"),
    )
