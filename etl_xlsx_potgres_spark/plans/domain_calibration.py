"""Per-domain quality calibration — the CCNet/RefinedWeb refinement
the absolute-threshold NB gate lacks: a single global score cut
systematically starves whole registered domains whose score
distribution sits low (CCNet applies its quantile cuts PER GROUP for
exactly this reason; RefinedWeb tracks per-domain gate rates as the
curation health metric).  This query joins the NB quality scores
(``operators/classifier.nb_scores`` — the same fitted model, same
micro-nat arithmetic) with the registered-domain key extracted by the
``fn_url_pack`` machinery, cuts each DOMAIN's score distribution at
its own top-30% quantile, and reports the per-(domain, band) rollup a
curation run monitors: doc counts, bin spans, and exact keep rates.

Domain key: the fixture carries no URL column, so each document
synthesizes a deterministic URL (the ``dedup_url_canonical``
convention) whose host varies in BOTH the subdomain (``sub{0..2}.``,
collapsed by registered-domain extraction — proving the extraction
does real work) and the registered domain (``domain-{0..3}.com``).
``lang`` — the NB score driver — is fixture-random w.r.t. doc_id
arithmetic, so each domain receives its own score mix and the
per-domain cut bins genuinely differ from a global cut.

Scale shape (the ``ccnet_gate``/``token_budget`` bin-histogram grid):
NO per-domain sort — integer micro-scores floor into fixed
10k-micro-nat bins (signed-safe: ``floor()`` spelled on both engines,
the DuckDB ``//``-truncation trap), one corpus-scale
``(domain, bin)`` histogram with map-side partials, then every
quantile/band/rate decision happens on the constant-size histogram
frame (<= domains x ~200 bins at ANY corpus volume).  Beyond the
scorer's own featurize shuffle this adds ONE corpus shuffle (the
histogram groupBy); the domain frame is never broadcast — it is never
even materialized, the key is a projection.  Keep rates are exact
bigint micro-fractions; cum/total window sums are bigint — the pair
is bit-identical at any partitioning.

Reference lifecycle note: the reference has no corpus or URL surface
(``etl_process.py:1-235``); this composes two existing mandated
packs (NB quality scoring + URL parsing) into the domain-conditioned
filter a production web-corpus pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.classifier import SQL_NB_SCORES, nb_scores
from ..registry import register
from ..sources import load_table

BIN_MICRO = 10000  # score-bin width in micro-nats
KEEP_NUM, KEEP_DEN = 3, 10  # keep the top 30% per domain

_SPARK_URL = (
    "'https://sub' || CAST(doc_id % 3 AS STRING) || '.domain-'"
    " || CAST((doc_id DIV 4) % 4 AS STRING)"
    " || '.com/article/' || CAST(doc_id AS STRING)"
)
_DUCK_URL = _SPARK_URL.replace("doc_id DIV 4", "doc_id // 4")

# registered domain = last two host labels (the fn_url_pack contract)
_SPARK_DOMAIN = (
    f"regexp_extract(parse_url({_SPARK_URL}, 'HOST'),"
    " '([^.]+\\\\.[^.]+)$', 1)"
)
_DUCK_DOMAIN = (
    f"regexp_extract(regexp_extract({_DUCK_URL},"
    " '^[a-z]+://([^/?#]+)', 1), '([^.]+\\.[^.]+)$', 1)"
)

# signed-safe bin: floor() on BOTH engines (integer // truncates
# toward zero in DuckDB; scores are micro-nats, exact in double)
_BIN_EXPR = f"CAST(floor(CAST(score_micro AS DOUBLE) / {BIN_MICRO}) AS INT)"

_ORACLE = f"""
WITH s AS ({SQL_NB_SCORES}),
scored AS (
  SELECT {_DUCK_DOMAIN} AS registered_domain,
         {_BIN_EXPR} AS score_bin
  FROM s
),
hist AS (
  SELECT registered_domain, score_bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM scored GROUP BY 1, 2
),
banded AS (
  SELECT registered_domain, score_bin, n_docs,
         SUM(n_docs) OVER (PARTITION BY registered_domain) AS dom_docs,
         CASE
           WHEN SUM(n_docs) OVER (PARTITION BY registered_domain
                                  ORDER BY score_bin DESC)
                <= ({KEEP_NUM} * SUM(n_docs)
                    OVER (PARTITION BY registered_domain)) // {KEEP_DEN}
             THEN 'keep'
           ELSE 'drop'
         END AS band
  FROM hist
)
SELECT registered_domain, band,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(MIN(score_bin) AS INT) AS min_bin,
       CAST(MAX(score_bin) AS INT) AS max_bin,
       CAST((SUM(n_docs) * 1000000) // MAX(dom_docs) AS BIGINT)
         AS band_rate_micro
FROM banded
GROUP BY 1, 2
"""


@register("quality_domain_calibrated", oracle=_ORACLE)
def quality_domain_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = nb_scores(load_table(spark, sf_dir, "documents")).select(
        F.expr(_SPARK_DOMAIN).alias("registered_domain"),
        F.expr(_BIN_EXPR).alias("score_bin"),
    )
    hist = scored.groupBy("registered_domain", "score_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    dom_w = Window.partitionBy("registered_domain")
    cum_w = dom_w.orderBy(F.desc("score_bin")).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_tot = hist.select(
        "registered_domain",
        "score_bin",
        "n_docs",
        F.sum("n_docs").over(dom_w).alias("dom_docs"),
        F.sum("n_docs").over(cum_w).alias("cum_from_top"),
    )
    banded = with_tot.select(
        "registered_domain",
        "score_bin",
        "n_docs",
        "dom_docs",
        F.when(
            F.col("cum_from_top")
            <= F.expr(f"({KEEP_NUM} * dom_docs) DIV {KEEP_DEN}"),
            F.lit("keep"),
        )
        .otherwise(F.lit("drop"))
        .alias("band"),
    )
    return banded.groupBy("registered_domain", "band").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.min("score_bin").cast("int").alias("min_bin"),
        F.max("score_bin").cast("int").alias("max_bin"),
        F.expr("CAST((SUM(n_docs) * 1000000) DIV MAX(dom_docs) AS BIGINT)")
            .alias("band_rate_micro"),
    )
