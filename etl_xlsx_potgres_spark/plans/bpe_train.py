"""Iterative BPE merge learning (Sennrich et al. 2016) — tokenizer
TRAINING stage 2, completing the BPE story next to
``text_bpe_pair_counts`` (stage 1: pair statistics) and
``text_encode_ids`` (stage 3: apply a learned vocab).

Reference lifecycle note: the reference has no corpus stage
(``/root/reference/etl_process.py:1-235``); this extends the
driver-mandated LLM-curation pack.

Algorithm, per round: count adjacent-symbol pairs over the WORD
FREQUENCY table (weighted by word count), pick the most frequent pair
((count DESC, pair ASC) total order), merge it into one symbol in
every word, repeat. Three rounds are unrolled (the
``emb_kmeans_iterations`` pattern) and each round's chosen merge is a
result row, so the differential attests the whole trajectory — a
wrong round-1 merge cascades into rounds 2-3.

Merge semantics (the padded single-pass ``replace`` both engines
compute byte-identically) and the kernels: ``operators/bpe.py``.

Plan shape at 100 TB: the ONLY corpus-wide work is the one word-count
shuffle (|vocab| rows out via partial aggregation). Every round then
operates on the vocabulary-sized frame: pair explode (≤ symbols/word
rows per word), a |pairs|-row aggregate, a 1-row ``limit(1)`` winner
broadcast back with ``crossJoin``. Spark's per-round state is one
winner row — nothing data-sized is ever collected or broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import (
    N_MERGE_ROUNDS,
    SQL_TRAIN_CTES,
    merge_rounds,
    word_counts,
)
from ..registry import register
from ..sources import load_table


@register(
    "text_bpe_merge_rounds",
    oracle=f"""
    WITH {SQL_TRAIN_CTES}
    SELECT round, pair, merged, pair_count FROM (
      {" UNION ALL ".join(
          f"SELECT {k} AS round, pair, merged, c AS pair_count FROM t{k}"
          for k in range(1, N_MERGE_ROUNDS + 1)
      )}
    )
    ORDER BY round
    """,
)
def text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    tops = merge_rounds(word_counts(load_table(spark, sf_dir, "documents")))
    out = None
    for k, top in enumerate(tops, start=1):
        row = top.select(
            F.lit(k).alias("round"),
            "pair",
            "merged",
            F.col("c").alias("pair_count"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")
