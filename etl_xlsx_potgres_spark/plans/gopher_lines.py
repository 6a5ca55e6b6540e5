"""Gopher LINE-level repetition rules (Rae et al. 2021, Table A1):
duplicate-line fraction, duplicate-paragraph fraction, and the
character-mass variants — the half of the paper's repetition tier
that ``gopher_quality`` could not exercise because the fixture's
documents are single-line.

Multi-line synthesis: both engines deterministically rebuild the SAME
multi-line document from the fixture text — tokens chunked into
8-token lines, lines chunked into 3-line paragraphs (chr(10)-joined)
— and duplication is SEEDED structurally: every even line of a
``doc_id % 5 = 0`` document is replaced by its first line, and every
even paragraph of a ``doc_id % 7 = 0`` document by its first
paragraph.  The rules therefore fire non-vacuously in both
directions (flagged and clean documents both exist) and the pair
stays an exact cross-engine oracle: the synthesized text is a pure
function of (doc_id, text).

Rules (paper thresholds):
- ``frac_dup_lines``  = (n_lines - n_distinct_lines) / n_lines,
  drop > 0.30;
- ``frac_chars_dup_lines``: character mass of repeat occurrences
  (total chars - chars of the distinct set) / total chars,
  drop > 0.20;
- same pair at paragraph grain (> 0.30 / > 0.20).

Plan shape: ENTIRELY row-local — the line/paragraph arrays, distinct
sets, and char sums are higher-order array functions over each row's
own tokens (the aggregation grain equals the row grain — the r9
text_oov_rate lesson), so the query is map-only with zero Exchanges
at any corpus size.  Every count is exact bigint; the only doubles
are the final ratios (one exact division each, IEEE-identical on
both engines).

Engine-parity notes: Spark ``sequence(1, 0)`` DESCENDS ([1, 0]), so
the constructors guard emptiness explicitly; integer ``DIV`` (Spark)
== integer ``//`` (DuckDB) on the non-negative counts involved;
``chr(10)`` builds the paragraph joiner portably (string-literal
escape rules differ between the engines).

Reference lifecycle note: the reference has no corpus stage
(``etl_process.py:1-235``); with this, the engine implements the
complete Gopher repetition tier (token n-gram rules in
``gopher_quality``, line/paragraph rules here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

LINE_TOKENS = 8      # tokens per synthesized line
PARA_LINES = 3       # lines per synthesized paragraph
DUP_LINE_MAX = 0.30        # Gopher: duplicate line fraction
DUP_LINE_CHAR_MAX = 0.20   # Gopher: duplicate line character fraction
DUP_PARA_MAX = 0.30
DUP_PARA_CHAR_MAX = 0.20

# ---- synthesized structure (per engine, identical semantics) ----

_SPARK_LINES = f"""
CASE WHEN size(toks) >= 1 THEN
  transform(sequence(1, (size(toks) + {LINE_TOKENS - 1}) DIV {LINE_TOKENS}),
    i -> CASE WHEN doc_id % 5 = 0 AND i % 2 = 0
              THEN array_join(slice(toks, 1, {LINE_TOKENS}), ' ')
              ELSE array_join(
                slice(toks, (i - 1) * {LINE_TOKENS} + 1, {LINE_TOKENS}), ' ')
         END)
ELSE CAST(array() AS ARRAY<STRING>) END
"""

_DUCK_LINES = f"""
list_transform(generate_series(1, (len(toks) + {LINE_TOKENS - 1}) // {LINE_TOKENS}),
  i -> CASE WHEN doc_id % 5 = 0 AND i % 2 = 0
            THEN array_to_string(list_slice(toks, 1, {LINE_TOKENS}), ' ')
            ELSE array_to_string(
              list_slice(toks, (i - 1) * {LINE_TOKENS} + 1,
                         i * {LINE_TOKENS}), ' ')
       END)
"""

_SPARK_PARAS = f"""
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

_DUCK_PARAS = f"""
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


def _duck_chars(a: str) -> str:
    return (
        f"COALESCE(CAST(list_sum(list_transform({a}, x -> len(x)))"
        f" AS BIGINT), 0)"
    )


@register(
    "quality_gopher_lines",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    lined AS (
      SELECT doc_id, {_DUCK_LINES} AS lines FROM base
    ),
    stru AS (
      SELECT doc_id, lines, {_DUCK_PARAS} AS paras FROM lined
    ),
    m AS (
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_distinct(lines)) AS BIGINT) AS nd_lines,
             {_duck_chars('lines')} AS c_lines,
             {_duck_chars('list_distinct(lines)')} AS cd_lines,
             CAST(len(paras) AS BIGINT) AS n_paras,
             CAST(len(list_distinct(paras)) AS BIGINT) AS nd_paras,
             {_duck_chars('paras')} AS c_paras,
             {_duck_chars('list_distinct(paras)')} AS cd_paras
      FROM stru
    )
    SELECT doc_id, n_lines, n_paras,
           CASE WHEN n_lines > 0
                THEN CAST(n_lines - nd_lines AS DOUBLE) / n_lines
           END AS frac_dup_lines,
           CASE WHEN c_lines > 0
                THEN CAST(c_lines - cd_lines AS DOUBLE) / c_lines
           END AS frac_chars_dup_lines,
           CASE WHEN n_paras > 0
                THEN CAST(n_paras - nd_paras AS DOUBLE) / n_paras
           END AS frac_dup_paras,
           CASE WHEN c_paras > 0
                THEN CAST(c_paras - cd_paras AS DOUBLE) / c_paras
           END AS frac_chars_dup_paras,
           COALESCE(CASE WHEN n_lines > 0
                THEN CAST(n_lines - nd_lines AS DOUBLE) / n_lines
                END > {DUP_LINE_MAX}, FALSE)
           OR COALESCE(CASE WHEN c_lines > 0
                THEN CAST(c_lines - cd_lines AS DOUBLE) / c_lines
                END > {DUP_LINE_CHAR_MAX}, FALSE)
           OR COALESCE(CASE WHEN n_paras > 0
                THEN CAST(n_paras - nd_paras AS DOUBLE) / n_paras
                END > {DUP_PARA_MAX}, FALSE)
           OR COALESCE(CASE WHEN c_paras > 0
                THEN CAST(c_paras - cd_paras AS DOUBLE) / c_paras
                END > {DUP_PARA_CHAR_MAX}, FALSE)
             AS gopher_line_flagged
    FROM m
    """,
)
def quality_gopher_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    stru = (
        d.select("doc_id", tokens("text").alias("toks"))
        .withColumn("lines", F.expr(_SPARK_LINES))
        .withColumn("paras", F.expr(_SPARK_PARAS))
    )
    m = stru.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size(F.array_distinct("lines")).cast("long").alias("nd_lines"),
        F.expr(_spark_chars("lines")).alias("c_lines"),
        F.expr(_spark_chars("array_distinct(lines)")).alias("cd_lines"),
        F.size("paras").cast("long").alias("n_paras"),
        F.size(F.array_distinct("paras")).cast("long").alias("nd_paras"),
        F.expr(_spark_chars("paras")).alias("c_paras"),
        F.expr(_spark_chars("array_distinct(paras)")).alias("cd_paras"),
    )

    def frac(tot: str, dup_from: str):
        return F.when(
            F.col(tot) > 0,
            (F.col(tot) - F.col(dup_from)).cast("double") / F.col(tot),
        )

    f_lines = frac("n_lines", "nd_lines")
    f_lchars = frac("c_lines", "cd_lines")
    f_paras = frac("n_paras", "nd_paras")
    f_pchars = frac("c_paras", "cd_paras")
    return m.select(
        "doc_id",
        "n_lines",
        "n_paras",
        f_lines.alias("frac_dup_lines"),
        f_lchars.alias("frac_chars_dup_lines"),
        f_paras.alias("frac_dup_paras"),
        f_pchars.alias("frac_chars_dup_paras"),
        (
            F.coalesce(f_lines > DUP_LINE_MAX, F.lit(False))
            | F.coalesce(f_lchars > DUP_LINE_CHAR_MAX, F.lit(False))
            | F.coalesce(f_paras > DUP_PARA_MAX, F.lit(False))
            | F.coalesce(f_pchars > DUP_PARA_CHAR_MAX, F.lit(False))
        ).alias("gopher_line_flagged"),
    )
