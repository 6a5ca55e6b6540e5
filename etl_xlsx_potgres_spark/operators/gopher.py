"""Gopher repetition-rule kernels (Rae et al. 2021, Table A1) shared
by the split rule queries (``gopher_quality``, ``gopher_lines``) and
the composite gate (``gopher_composite``): the paper thresholds, the
deterministic multi-line synthesis of the single-line fixture, the
character-mass measure and the bigram array, each with its Spark and
DuckDB rendering side by side, so the queries cannot drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

TOP_BIGRAM_MAX = 0.18  # Gopher: top 2-gram fraction above this -> drop
DUP_TOKEN_MAX = 0.5

SQL_BIGRAMS = (
    f"list_transform(generate_series(1, len(toks) - 1),"
    f" i -> toks[i] || ' ' || toks[i + 1])"
)

LINE_TOKENS = 8      # tokens per synthesized line
PARA_LINES = 3       # lines per synthesized paragraph
DUP_LINE_MAX = 0.30        # Gopher: duplicate line fraction
DUP_LINE_CHAR_MAX = 0.20   # Gopher: duplicate line character fraction
DUP_PARA_MAX = 0.30
DUP_PARA_CHAR_MAX = 0.20

# ---- synthesized structure (per engine, identical semantics) ----

SPARK_LINES = f"""
CASE WHEN size(toks) >= 1 THEN
  transform(sequence(1, (size(toks) + {LINE_TOKENS - 1}) DIV {LINE_TOKENS}),
    i -> CASE WHEN doc_id % 5 = 0 AND i % 2 = 0
              THEN array_join(slice(toks, 1, {LINE_TOKENS}), ' ')
              ELSE array_join(
                slice(toks, (i - 1) * {LINE_TOKENS} + 1, {LINE_TOKENS}), ' ')
         END)
ELSE CAST(array() AS ARRAY<STRING>) END
"""

SQL_LINES = f"""
list_transform(generate_series(1, (len(toks) + {LINE_TOKENS - 1}) // {LINE_TOKENS}),
  i -> CASE WHEN doc_id % 5 = 0 AND i % 2 = 0
            THEN array_to_string(list_slice(toks, 1, {LINE_TOKENS}), ' ')
            ELSE array_to_string(
              list_slice(toks, (i - 1) * {LINE_TOKENS} + 1,
                         i * {LINE_TOKENS}), ' ')
       END)
"""

SPARK_PARAS = f"""
CASE WHEN size(lines) >= 1 THEN
  transform(sequence(1, (size(lines) + {PARA_LINES - 1}) DIV {PARA_LINES}),
    p -> CASE WHEN doc_id % 7 = 0 AND p % 2 = 0
              THEN array_join(slice(lines, 1, {PARA_LINES}), chr(10))
              ELSE array_join(
                slice(lines, (p - 1) * {PARA_LINES} + 1, {PARA_LINES}),
                chr(10))
         END)
ELSE CAST(array() AS ARRAY<STRING>) END
"""

SQL_PARAS = f"""
list_transform(generate_series(1, (len(lines) + {PARA_LINES - 1}) // {PARA_LINES}),
  p -> CASE WHEN doc_id % 7 = 0 AND p % 2 = 0
            THEN array_to_string(list_slice(lines, 1, {PARA_LINES}), chr(10))
            ELSE array_to_string(
              list_slice(lines, (p - 1) * {PARA_LINES} + 1,
                         p * {PARA_LINES}), chr(10))
       END)
"""

# ---- per-array metrics (a = array column name) ----


def _spark_chars(a: str) -> str:
    return (
        f"aggregate(transform({a}, x -> length(x)), 0L,"
        f" (acc, x) -> acc + CAST(x AS BIGINT))"
    )


def _sql_chars(a: str) -> str:
    return (
        f"COALESCE(CAST(list_sum(list_transform({a}, x -> len(x)))"
        f" AS BIGINT), 0)"
    )


def line_metrics() -> list[F.Column]:
    """Per-row line/paragraph repetition counts over the synthesized
    ``lines``/``paras`` arrays: counts, distinct counts and the char
    mass of each.  DuckDB twin: :data:`SQL_LINE_METRICS`."""
    return [
        col
        for a in ("lines", "paras")
        for col in (
            F.size(a).cast("long").alias(f"n_{a}"),
            F.size(F.array_distinct(a)).cast("long").alias(f"nd_{a}"),
            F.expr(_spark_chars(a)).alias(f"c_{a}"),
            F.expr(_spark_chars(f"array_distinct({a})")).alias(f"cd_{a}"),
        )
    ]


SQL_LINE_METRICS = ",\n".join(
    f"""CAST(len({a}) AS BIGINT) AS n_{a},
         CAST(len(list_distinct({a})) AS BIGINT) AS nd_{a},
         {_sql_chars(a)} AS c_{a},
         {_sql_chars(f'list_distinct({a})')} AS cd_{a}"""
    for a in ("lines", "paras")
)
