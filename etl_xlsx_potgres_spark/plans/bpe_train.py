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

Merge semantics, pinned identically on BOTH engines: the word's
symbol sequence is a space-joined string and the merge is a literal
single-pass ``replace`` of the space-PADDED pair (`` l l `` →
`` ll ``), i.e. left-to-right non-overlapping with boundary guards.
Because the pad spaces are consumed by the match, an odd run like
``l l l l`` merges once per adjacent disjoint window per round (the
remainder is caught in a later round) — a well-defined deterministic
variant both engines compute byte-identically; Sennrich's regex
lookarounds differ only on 3+ symbol runs of the same pair.

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

from ..caching import scoped_persist
from ..hints import constant_size
from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

N_MERGE_ROUNDS = 3


def _duck_round(k: int) -> str:
    """CTEs p{k} (pair counts), t{k} (winner), w{k} (merged reprs)
    reading from w{k-1}."""
    return f"""
    p{k} AS (
      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS c
      FROM (
        SELECT cnt,
               unnest(list_transform(
                 generate_series(1, len(string_split(repr, ' ')) - 1),
                 i -> string_split(repr, ' ')[i] || ' '
                      || string_split(repr, ' ')[i + 1])) AS pair
        FROM w{k - 1}
      )
      GROUP BY pair
    ),
    t{k} AS (
      SELECT pair, replace(pair, ' ', '') AS merged, c
      FROM p{k} ORDER BY c DESC, pair LIMIT 1
    ),
    w{k} AS (
      SELECT word, cnt,
             trim(replace(' ' || repr || ' ',
                          (SELECT ' ' || pair   || ' ' FROM t{k}),
                          (SELECT ' ' || merged || ' ' FROM t{k}))) AS repr
      FROM w{k - 1}
    )"""


# the training CTE prologue (words -> w0 -> per-round p{k}/t{k}/w{k})
# — shared with the token-budget chunkers (``plans/chunk_token_budget``)
_TRAIN_CTES = f"""words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({sql_tokens()}) AS word FROM documents)
      GROUP BY word
    ),
    w0 AS (
      SELECT word, cnt,
             array_to_string(list_transform(
               generate_series(1, length(word)),
               i -> substring(word, i, 1)), ' ') AS repr
      FROM words
    ),
    {",".join(_duck_round(k) for k in range(1, N_MERGE_ROUNDS + 1))}"""


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one corpus shuffle: (word, cnt) — persisted because every
    training round (and any downstream consumer) re-reads it."""
    d = load_table(spark, sf_dir, "documents")
    return scoped_persist(
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_rounds(words: DataFrame) -> list[DataFrame]:
    """N_MERGE_ROUNDS Lloyd-style unrolled BPE rounds over the word
    frequency frame; returns the per-round 1-row winner frames
    (pair, merged, c).  Shared by the training query below and the
    token-budget chunkers (``plans/chunk_token_budget``)."""
    w = words.select(
        "word",
        "cnt",
        F.expr(
            "array_join(transform(sequence(1, length(word)),"
            " i -> substring(word, i, 1)), ' ')"
        ).alias("repr"),
    )
    rounds = []
    for k in range(1, N_MERGE_ROUNDS + 1):
        pairs = (
            # single-char words have no pairs: sequence(1, 0) DESCENDS
            # in Spark where DuckDB's generate_series(1, 0) is empty,
            # so the length guard keeps the engines aligned
            w.filter(F.expr("size(split(repr, ' ')) >= 2"))
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(split(repr, ' ')) - 1),"
                        " i -> concat(element_at(split(repr, ' '), i), ' ',"
                        "             element_at(split(repr, ' '), i + 1)))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("c"))
        )
        # persisted (r21): round k's 1-row winner is referenced by
        # EVERY later round's replace chain and again by the final
        # merges-row crossJoin, and Spark has no common-subexpression
        # elimination across those references — the vocab-scale pair
        # aggregate re-ran O(rounds^2) times. One-row frames, so the
        # persist is free. A/B at sf0.1 (n=4 medians): bpe_merge_rounds
        # 1.13 -> 0.95 s (cold 6.37 -> 1.31), tokenizer_fertility
        # 1.45 -> 1.29, fertility_by_source 1.77 -> 1.59,
        # chunk_token_budget_udtf 1.63 -> 1.39.
        top = scoped_persist(
            pairs.orderBy(F.desc("c"), F.asc("pair"))
            .limit(1)
            .select(
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                "c",
            )
        )
        rounds.append(top)
        w = w.crossJoin(constant_size(top)).select(
            "word",
            "cnt",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("repr"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("merged"), F.lit(" ")),
                )
            ).alias("repr"),
        )
    return rounds


@register(
    "text_bpe_merge_rounds",
    oracle=f"""
    WITH {_TRAIN_CTES}
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
    tops = _merge_rounds(_word_counts(spark, sf_dir))
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
