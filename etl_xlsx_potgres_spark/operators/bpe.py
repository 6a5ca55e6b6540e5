"""BPE merge learning (Sennrich et al. 2016) and the trained-BPE word
cost: the word-frequency shuffle, the unrolled merge rounds, the 1-row
trained-merges frame and the per-word token cost, each with its Spark
and DuckDB rendering side by side.  Shared by the training query
(``text_bpe_merge_rounds``), the token-budget chunkers and the
fertility audits, so the tokenizer they apply is the one trained.

Merge semantics, pinned identically on BOTH engines: the word's
symbol sequence is a space-joined string and the merge is a literal
single-pass ``replace`` of the space-PADDED pair (`` l l `` →
`` ll ``), i.e. left-to-right non-overlapping with boundary guards.
Because the pad spaces are consumed by the match, an odd run like
``l l l l`` merges once per adjacent disjoint window per round (the
remainder is caught in a later round) — a well-defined deterministic
variant both engines compute byte-identically; Sennrich's regex
lookarounds differ only on 3+ symbol runs of the same pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from .text import sql_tokens, tokens

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
SQL_TRAIN_CTES = f"""words AS (
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


def word_counts(d: DataFrame) -> DataFrame:
    """The one corpus shuffle over the documents ``d``: (word, cnt) —
    persisted because every training round (and any downstream
    consumer) re-reads it."""
    return scoped_persist(
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_rounds(words: DataFrame) -> list[DataFrame]:
    """N_MERGE_ROUNDS Lloyd-style unrolled BPE rounds over the word
    frequency frame; returns the per-round 1-row winner frames
    (pair, merged, c).  DuckDB twin: :data:`SQL_TRAIN_CTES`."""
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


def cost_expr(engine: str) -> str:
    """Per-word BPE token cost: char-split repr -> the N learned
    merges applied exactly as training does (pad, replace, trim) ->
    symbol count.  ``p{k}``/``m{k}`` are the space-padded pair/merged
    columns provided by the 1-row merges frame."""
    if engine == "spark":
        split_chars = (
            "array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), ' ')"
        )
        r = split_chars
        for k in range(1, N_MERGE_ROUNDS + 1):
            r = f"trim(replace(concat(' ', {r}, ' '), p{k}, m{k}))"
        return (
            f"transform(toks, w -> CAST(size(split({r}, ' ')) AS BIGINT))"
        )
    split_chars = (
        "array_to_string(list_transform(generate_series(1, length(w)),"
        " i -> substring(w, i, 1)), ' ')"
    )
    r = split_chars
    for k in range(1, N_MERGE_ROUNDS + 1):
        r = f"trim(replace(' ' || {r} || ' ', p{k}, m{k}))"
    return (
        f"list_transform(toks, w ->"
        f" CAST(len(string_split({r}, ' ')) AS BIGINT))"
    )


SQL_MERGES_COLS = ", ".join(
    f"(SELECT ' ' || pair || ' ' FROM t{k}) AS p{k},"
    f" (SELECT ' ' || merged || ' ' FROM t{k}) AS m{k}"
    for k in range(1, N_MERGE_ROUNDS + 1)
)


def merges_row(d: DataFrame) -> DataFrame:
    """1-row frame (p1, m1, ..., pN, mN): the winners trained on the
    documents ``d``, space-padded exactly as the training replace
    expects.  DuckDB twin: :data:`SQL_MERGES_COLS` over the ``t{k}``
    CTEs."""
    tops = merge_rounds(word_counts(d))
    mrow = None
    for k, top in enumerate(tops, start=1):
        cur = top.select(
            F.concat(F.lit(" "), F.col("pair"), F.lit(" ")).alias(f"p{k}"),
            F.concat(F.lit(" "), F.col("merged"), F.lit(" ")).alias(f"m{k}"),
        )
        # 1-row winner frames (the merge_rounds broadcast contract)
        mrow = cur if mrow is None else mrow.crossJoin(constant_size(cur))
    return mrow
