"""``mapInArrow`` — the lowest-overhead Python escape hatch (Spark
3.3+, first-class in Spark 4): the UDF receives raw
``pyarrow.RecordBatch`` objects with NO pandas conversion on either
side, the right shape when the Python work is itself Arrow-native
(pyarrow.compute kernels, Arrow-IPC-speaking libraries, zero-copy
hand-off to tokenizers). Completes the Python-boundary matrix the
engine exercises: row Python UDF (banned by plan lint), pandas UDF,
mapInPandas, cogrouped/grouped pandas, UDTF (``text_chunk_udtf``), and now
raw-Arrow batches.

The demo computes per-document char/token counts entirely with
pyarrow.compute kernels (``utf8_length`` and
``operators.text.arrow_token_count``, the Arrow rendering of the one
tokenizer). Map-only: no shuffle, the batch iterator streams, and column
pruning still reaches the scan (only doc_id/text are read —
mapInArrow declares its input like any projection).

Counts are exact integers, so the DuckDB oracle is bit-exact — the
same pinning discipline as ``text_chunk_udtf``: the Arrow kernel
implementation must agree with the declarative tokenizer everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.text import arrow_token_count, sql_tokens
from ..registry import register
from ..sources import load_table


def _count_batches(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        text = batch.column(1)
        yield pa.record_batch(
            [
                batch.column(0),
                pc.cast(pc.utf8_length(text), pa.int64()),
                arrow_token_count(text),
            ],
            names=["doc_id", "n_chars", "n_tokens"],
        )


@register(
    "text_tokcount_arrow",
    oracle=f"""
    SELECT doc_id,
           CAST(len(text) AS BIGINT) AS n_chars,
           CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def text_tokcount_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        _count_batches, "doc_id long, n_chars long, n_tokens long"
    )
