"""Python UDTF (Spark 4 ``@udtf``) — the table-function
extensibility surface, exercised on the document-chunking shape.

``plans/chunking.py``'s ``text_chunk_documents`` is the production
chunker: pure JVM expressions (sequence/explode/slice), zero Python.
This module re-expresses the SAME semantics as a user-defined TABLE
function consumed through a SQL ``LATERAL`` join — the Spark-4 shape
for operators whose per-row fan-out logic genuinely needs Python
(imperative tokenizers, sentencepiece, format-specific splitters):

    SELECT d.doc_id, c.* FROM documents d,
           LATERAL chunk_tokens_udtf(d.text) c

The UDTF is Arrow-optimized (``useArrow=True`` — the plan shows
``ArrowEvalPythonUDTF``, batch transfer, not row pickling; allow-
listed in ``tests/test_plan_lint.py`` with this justification). The
lateral join itself stays a map-side operation: each input partition
expands independently, no shuffle is introduced, so the shape scales
exactly like the JVM chunker modulo the Python evaluation cost
(measured ~3-6x the codegen chunker at sf0.1 — the price of the
escape hatch, which is why the JVM form remains the default).

Oracle: byte-identical to ``text_chunk_documents``'s (same window/
stride constants, same whitespace tokenizer) — the UDTF must agree
with the declarative twin exactly, which also pins the two
implementations to each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

from ..operators.text import py_tokens, sql_tokens
from ..registry import register
from ..sources import load_table
from .chunking import STRIDE, WINDOW


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


@register(
    "text_chunk_udtf",
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
