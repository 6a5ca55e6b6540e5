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

from ..operators.gopher import (
    DUP_LINE_CHAR_MAX,
    DUP_LINE_MAX,
    DUP_PARA_CHAR_MAX,
    DUP_PARA_MAX,
    SPARK_LINES,
    SPARK_PARAS,
    SQL_LINE_METRICS,
    SQL_LINES,
    SQL_PARAS,
    line_metrics,
)
from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table


@register(
    "quality_gopher_lines",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    lined AS (
      SELECT doc_id, {SQL_LINES} AS lines FROM base
    ),
    stru AS (
      SELECT doc_id, lines, {SQL_PARAS} AS paras FROM lined
    ),
    m AS (
      SELECT doc_id, {SQL_LINE_METRICS}
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
        .withColumn("lines", F.expr(SPARK_LINES))
        .withColumn("paras", F.expr(SPARK_PARAS))
    )
    m = stru.select("doc_id", *line_metrics())

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
