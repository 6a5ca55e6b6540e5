"""Gopher repetition rules (Rae et al. 2021, "Scaling Language
Models: ... Gopher", Table A1) — the rule-based repetition filters
every production curation stack runs before model-based scoring:
documents dominated by a repeated phrase, or with a low
distinct-token ratio, are boilerplate/spam and are dropped.

Token-grained variants (the fixture corpus is single-line, so the
paper's line-based duplicates are vacuous here; the n-gram rules are
the load-bearing ones at any rate):

- ``frac_top_bigram``: occurrences of the document's MOST FREQUENT
  word 2-gram over all 2-gram slots (paper threshold 0.18);
- ``frac_dup_tokens``: 1 - distinct/total tokens (a low ratio means
  the document is a few tokens repeated; paper drops < 0.5 distinct
  ... expressed here as dup-fraction > 0.5);
- ``gopher_flagged``: either rule fires.

Plan shape: token counts are ROW-LOCAL (size/array_distinct over the
row's own token array — the aggregation grain equals the row grain,
so no shuffle; the r9 text_oov_rate lesson). Only the bigram mode
needs a rendezvous: one explode to (doc, bigram) + count, one doc
rollup — 2 Exchanges, each carrying one row per bigram OCCURRENCE,
bounded by document length, skew-free at any corpus size. All ratios
are exact-integer divisions cast to double (identical IEEE results
on both engines); the <2-token degenerate case is NULL-guarded
explicitly because Spark 4 runs ANSI mode (x/0 raises, unlike
DuckDB's NULL).

Reference lifecycle note: the reference has no corpus stage
(``etl_process.py:1-235``); this completes the rule-based tier of
the driver-mandated curation pack next to the entropy/length/stopword
heuristics (``corpus_quality``, ``text_analysis``) and the
model-based NB scorer (``quality_classifier``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.gopher import DUP_TOKEN_MAX, SQL_BIGRAMS, TOP_BIGRAM_MAX
from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

@register(
    "quality_gopher_repetition",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    tok AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
      FROM base
    ),
    bg AS (
      SELECT doc_id, unnest({SQL_BIGRAMS}) AS bigram FROM base
    ),
    bgc AS (
      SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY 1, 2
    ),
    bstat AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(MAX(c) AS BIGINT) AS top_bigram_n
      FROM bgc GROUP BY 1
    )
    SELECT tok.doc_id, tok.n_tokens, tok.n_distinct_tokens,
           COALESCE(bstat.n_bigrams, 0) AS n_bigrams,
           COALESCE(bstat.top_bigram_n, 0) AS top_bigram_n,
           CASE WHEN bstat.n_bigrams > 0
                THEN CAST(bstat.top_bigram_n AS DOUBLE) / bstat.n_bigrams
           END AS frac_top_bigram,
           CASE WHEN tok.n_tokens > 0
                THEN 1.0 - CAST(tok.n_distinct_tokens AS DOUBLE)
                           / tok.n_tokens
           END AS frac_dup_tokens,
           COALESCE(CASE WHEN bstat.n_bigrams > 0
                    THEN CAST(bstat.top_bigram_n AS DOUBLE) / bstat.n_bigrams
                    END > {TOP_BIGRAM_MAX}, FALSE)
           OR COALESCE(CASE WHEN tok.n_tokens > 0
                       THEN 1.0 - CAST(tok.n_distinct_tokens AS DOUBLE)
                            / tok.n_tokens END > {DUP_TOKEN_MAX}, FALSE)
             AS gopher_flagged
    FROM tok LEFT JOIN bstat ON bstat.doc_id = tok.doc_id
    """,
)
def quality_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens("text").alias("toks"))
    # row-local token stats: grain == row, no shuffle
    tok = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias(
            "n_distinct_tokens"
        ),
    )
    n = F.size("toks")
    bigrams = F.zip_with(
        F.slice("toks", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("toks", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bstat = (
        base.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.max("c").cast("long").alias("top_bigram_n"),
        )
    )
    frac_top = F.when(
        F.col("n_bigrams") > 0,
        F.col("top_bigram_n").cast("double") / F.col("n_bigrams"),
    )
    frac_dup = F.when(
        F.col("n_tokens") > 0,
        F.lit(1.0)
        - F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"),
    )
    return (
        tok.join(bstat, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("top_bigram_n"), F.lit(0)).alias(
                "top_bigram_n"
            ),
            frac_top.alias("frac_top_bigram"),
            frac_dup.alias("frac_dup_tokens"),
            (
                F.coalesce(frac_top > TOP_BIGRAM_MAX, F.lit(False))
                | F.coalesce(frac_dup > DUP_TOKEN_MAX, F.lit(False))
            ).alias("gopher_flagged"),
        )
    )
