"""CCNet-style per-language quantile gating — the head/middle/tail
split of Wenzek et al.'s CCNet pipeline (arXiv:1911.00359): score
every document, then cut each LANGUAGE's score distribution at the
30%/70% quantiles and keep the "head" (and often "middle") bands.
The per-language cut is the point — an absolute threshold would
starve low-resource languages.

Exact quantiles need a per-language sort; at 100 TB that is a
single-partition killer per language. The scalable formulation is
the same bin-histogram trick as ``token_budget``: integer
micro-scores -> fixed 10k-wide bins -> a per-(lang, bin) histogram
(one groupBy, map-side partials, <= 101 rows per language at ANY
corpus size) -> cumulative counts over the tiny per-language frame
-> bin-granular band labels. The label frame is broadcast-sized; in
production it joins back to the corpus as a pushed filter. Banding
is bin-granular (a boundary bin lands wholly in one band) — the
documented CCNet practice is tolerant of this, and the bin width is
the precision knob.

The score is the token-repetition micro-ratio
``1e6 - (distinct_tokens * 1e6) DIV tokens`` (higher = more
repetitive = worse), standing in for CCNet's LM perplexity; the
band arithmetic — ``cum <= (3 * n_lang) DIV 10`` etc. — is exact
bigint, bit-identical across engines and partitionings.

Reference lifecycle note: the reference (``etl_process.py:1-235``)
has no corpus stage; this completes the quality pack's coverage of
published curation recipes (Gopher rules, NB classifier, CCNET GATE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import tokens
from ..registry import register
from ..sources import load_table

_DUCK_TOKS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
)

_ORACLE = f"""
WITH scored AS (
  SELECT lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(1000000 - (CAST(len(list_distinct(toks)) AS BIGINT) * 1000000)
                        // greatest(len(toks), 1) AS BIGINT) AS score
  FROM (SELECT lang, {_DUCK_TOKS} AS toks FROM documents)
),
hist AS (
  SELECT lang, CAST(score // 10000 AS INT) AS score_bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
  FROM scored GROUP BY 1, 2
),
banded AS (
  SELECT lang, score_bin, n_docs, bin_tokens,
         CASE
           WHEN SUM(n_docs) OVER (PARTITION BY lang ORDER BY score_bin)
                <= (3 * SUM(n_docs) OVER (PARTITION BY lang)) // 10
             THEN 'head'
           WHEN SUM(n_docs) OVER (PARTITION BY lang ORDER BY score_bin)
                <= (7 * SUM(n_docs) OVER (PARTITION BY lang)) // 10
             THEN 'middle'
           ELSE 'tail'
         END AS band
  FROM hist
)
SELECT lang, band,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(MIN(score_bin) AS INT) AS min_bin,
       CAST(MAX(score_bin) AS INT) AS max_bin
FROM banded
GROUP BY 1, 2
"""


@register("quality_ccnet_gate", oracle=_ORACLE)
def quality_ccnet_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = d.select(
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    ).select(
        "lang",
        "n_tokens",
        F.expr(
            "CAST(1000000 - (n_distinct * 1000000)"
            " DIV greatest(n_tokens, 1) AS BIGINT)"
        ).alias("score"),
    )
    hist = scored.groupBy(
        "lang", F.expr("CAST(score DIV 10000 AS INT)").alias("score_bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )
    # windows over the <=101-row per-language histogram, not the corpus
    cum_w = Window.partitionBy("lang").orderBy("score_bin")
    all_w = Window.partitionBy("lang")
    cum = F.sum("n_docs").over(cum_w)
    n_lang = F.sum("n_docs").over(all_w)
    # cum <= (k*n) DIV 10  <=>  10*cum <= k*n  for integer cum — same
    # predicate as the oracle's floor-division form, shift-free here
    banded = hist.withColumn(
        "band",
        F.when(cum * 10 <= n_lang * 3, F.lit("head"))
        .when(cum * 10 <= n_lang * 7, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return (
        banded.groupBy("lang", "band")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("bin_tokens").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.min("score_bin").cast("int").alias("min_bin"),
            F.max("score_bin").cast("int").alias("max_bin"),
        )
    )
