"""Training-data preparation: document chunking and sequence packing.

- ``text_chunk_documents``: split each document into overlapping
  token-window chunks (window=W tokens, stride=S) — the pre-tokenizer
  chunking stage of an LLM ingest pipeline. Map-only per document.
- ``text_chunk_udtf``: the same chunks from a Python UDTF (below).
- ``text_pack_sequences``: assign documents to fixed-budget bins
  (greedy in a deterministic document order, per source shard) via a
  cumulative token-count window — the batch-packing stage that turns
  variable-length docs into near-constant-cost training rows. One
  shuffle on the shard key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..operators.text import py_tokens, sql_tokens, tokens
from ..registry import register
from ..sources import load_table

WINDOW = 40  # tokens per chunk
STRIDE = 30  # tokens between chunk starts (WINDOW-STRIDE overlap)
PACK_BUDGET = 512  # token budget per packed sequence


# the token-window chunks, shared by the JVM chunker and its UDTF twin
_CHUNK_ORACLE = f"""
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
    """


@register("text_chunk_documents", oracle=_CHUNK_ORACLE)
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


# Python UDTF (Spark 4 ``@udtf``) — the table-function
# extensibility surface, exercised on the document-chunking shape.
#
# ``text_chunk_documents`` above is the production chunker: pure JVM
# expressions (sequence/explode/slice), zero Python. This section
# re-expresses the SAME semantics as a user-defined TABLE
# function consumed through a SQL ``LATERAL`` join — the Spark-4 shape
# for operators whose per-row fan-out logic genuinely needs Python
# (imperative tokenizers, sentencepiece, format-specific splitters):
#
#     SELECT d.doc_id, c.* FROM documents d,
#            LATERAL chunk_tokens_udtf(d.text) c
#
# The UDTF is Arrow-optimized (``useArrow=True`` — the plan shows
# ``ArrowEvalPythonUDTF``, batch transfer, not row pickling; allow-
# listed in ``tests/test_plan_lint.py`` with this justification). The
# lateral join itself stays a map-side operation: each input partition
# expands independently, no shuffle is introduced, so the shape scales
# exactly like the JVM chunker modulo the Python evaluation cost
# (measured ~3-6x the codegen chunker at sf0.1 — the price of the
# escape hatch, which is why the JVM form remains the default).
#
# Oracle: ``text_chunk_documents``'s (same window/stride constants,
# same whitespace tokenizer) — the UDTF must agree with the declarative
# twin exactly, which also pins the two implementations to each other.
@udtf(
    returnType="chunk_id: bigint, chunk_text: string, n_tokens: bigint",
    useArrow=True,
)
class ChunkTokensUdtf:
    """One document's text -> overlapping token-window chunks
    (window=WINDOW, stride=STRIDE; the trailing chunk may be short).
    Documents with no tokens yield no rows — the lateral join drops
    them like the JVM chunker's ``size(toks) > 0`` filter."""

    def eval(self, text: str):
        # the JVM chunker's tokenizer, rendered in Python
        toks = py_tokens(text)
        if not toks:
            return
        n = len(toks)
        # ceil(max(n-W, 0)/S) + 1 — the JVM chunker's count
        n_chunks = (max(n - WINDOW, 0) + STRIDE - 1) // STRIDE + 1
        for cid in range(n_chunks):
            start = cid * STRIDE
            window = toks[start : start + WINDOW]
            yield cid, " ".join(window), len(window)


@register("text_chunk_udtf", oracle=_CHUNK_ORACLE)
def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("chunk_tokens_udtf", ChunkTokensUdtf)
    d = load_table(spark, sf_dir, "documents")
    d.select("doc_id", "text").createOrReplaceTempView("docs_for_chunk_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk_text, c.n_tokens
        FROM docs_for_chunk_udtf d, LATERAL chunk_tokens_udtf(d.text) c
        """
    )
