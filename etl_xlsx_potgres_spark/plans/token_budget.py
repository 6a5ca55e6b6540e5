"""Token-budget document selection WITHOUT a global sort — the
"give me the best documents up to a B-token training budget" stage
that follows quality scoring in an LLM curation pipeline.

The naive formulation (ORDER BY quality DESC, take rows until the
running token total passes B) needs a total order over the corpus —
a single-partition sort that dies at 100 TB. The scalable pattern is
bin-granular threshold selection:

1. score every document (map-only),
2. histogram scores into fixed-width integer bins — one groupBy with
   map-side partials; the result is a ~100-row frame at ANY corpus
   size,
3. run the cumulative token sum over the *bins* (constant-size
   window, best-quality-first), and
4. the selection predicate is ``bin > t*`` — a broadcastable
   threshold any downstream scan can fuse as a pushed filter.

Bin granularity is the knob: 100 bins bounds the budget overshoot at
one bin's token mass; refine by re-binning inside the boundary bin
if tighter packing is needed (a second constant-size pass).

The quality signal here is the stopword micro-ratio (integer
micro-units, ``(stop_tokens * 1e6) DIV tokens`` — the repo's exact
fixed-point policy), standing in for any scorer upstream (NB quality,
LM perplexity); the budget is 30% of the corpus's tokens, derived
in-frame so the whole result is one window pass. Every decision is
exact bigint arithmetic — bit-identical across engines and
partitionings.

Reference lifecycle note: the reference (``etl_process.py:1-235``)
has no corpus-selection stage; this extends the curation pack
(dedup -> quality -> importance -> mix -> SELECT-to-budget).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

_STOP = ("the", "and", "of", "to", "in", "is", "a", "that")

_STOP_SQL = ", ".join(f"'{s}'" for s in _STOP)


@register(
    "select_token_budget",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST((CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                        AS BIGINT) * 1000000)
                  // greatest(len(toks), 1) AS BIGINT) AS score
      FROM (SELECT {sql_tokens()} AS toks FROM documents)
    ),
    bins AS (
      SELECT CAST(score // 10000 AS INT) AS quality_bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      FROM scored GROUP BY 1
    ),
    cum AS (
      SELECT quality_bin, n_docs, bin_tokens,
             CAST(SUM(bin_tokens)
                  OVER (ORDER BY quality_bin DESC) AS BIGINT) AS cum_tokens,
             CAST((SUM(bin_tokens) OVER () * 3) // 10 AS BIGINT)
               AS budget_tokens
      FROM bins
    )
    SELECT quality_bin, n_docs, bin_tokens, cum_tokens, budget_tokens,
           cum_tokens <= budget_tokens AS fully_selected,
           cum_tokens > budget_tokens
             AND cum_tokens - bin_tokens <= budget_tokens AS is_boundary
    FROM cum
    """,
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop_set = F.array(*[F.lit(s) for s in _STOP])
    scored = d.select(
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_set, t)))
        .cast("long")
        .alias("stop_tokens"),
    ).select(
        "n_tokens",
        F.expr(
            "CAST((stop_tokens * 1000000) DIV greatest(n_tokens, 1) AS BIGINT)"
        ).alias("score"),
    )
    bins = scored.groupBy(
        F.expr("CAST(score DIV 10000 AS INT)").alias("quality_bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )
    # both windows run over the ~100-row bin frame, never the corpus
    by_quality = Window.orderBy(F.desc("quality_bin"))
    whole = Window.orderBy(F.desc("quality_bin")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "quality_bin",
        "n_docs",
        "bin_tokens",
        F.sum("bin_tokens").over(by_quality).cast("long").alias("cum_tokens"),
        (F.sum("bin_tokens").over(whole) * F.lit(3)).alias("_b3"),
    ).select(
        "quality_bin",
        "n_docs",
        "bin_tokens",
        "cum_tokens",
        F.expr("CAST(_b3 DIV 10 AS BIGINT)").alias("budget_tokens"),
    )
    return cum.select(
        "quality_bin",
        "n_docs",
        "bin_tokens",
        "cum_tokens",
        "budget_tokens",
        (F.col("cum_tokens") <= F.col("budget_tokens")).alias("fully_selected"),
        (
            (F.col("cum_tokens") > F.col("budget_tokens"))
            & (F.col("cum_tokens") - F.col("bin_tokens") <= F.col("budget_tokens"))
        ).alias("is_boundary"),
    )
