"""Domain-mix rebalancing — the data-MIXING stage of LLM curation
(the knob DoReMi / Pile-style recipes tune: how much of each source
lands in the training mix), distinct from per-document importance
(DSIR) and quality scoring (NB): here the unit of policy is the
SOURCE, and the mechanism is deterministic downsampling of sources
toward a target mix.

Target mix: proportional to each source's count of ``lang = 'en'``
documents — the fixture stand-in for DoReMi's learned domain weights
(any per-source weight vector slots into the same arithmetic). A
source's quota is ``N * en_s / en_total``; over-quota sources keep a
deterministic md5-coin subset, under-quota sources keep everything
(no upsampling — duplication is the dedup pipeline's enemy).

Exact-arithmetic formulation (no floats in the keep decision): a
document of source ``s`` is kept iff

    hex6(md5(doc_id)) * en_total * c_s  <  N * en_s * 16^6

with ``c_s`` the source's size and ``hex6`` the first 6 md5 hex
digits as an integer — the engine-portable md5-fraction coin.
Cross-multiplying keeps both sides exact bigints, so the keep
decision — and every count below — is bit-identical on both engines
and at any partitioning. Bigint headroom: the products carry
``16^6 * N²``-scale magnitudes — exact through ~10^8 docs; beyond
that normalize the weights to micro-units first (the DSIR caveat).

Plan shape: one scan -> per-source count + en-count (one tiny row
per source, broadcast back) -> map-side coin per doc -> per-source
keep counts with map-side partials. The corpus is never shuffled;
at 100 TB the mix decision is a metadata-sized frame and the keep
filter fuses into any downstream scan.

Reference lifecycle note: the reference has no corpus stage
(``etl_process.py:1-235``); this completes the curation pack's
coverage of the standard pipeline: dedup -> quality -> importance ->
MIX.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from .importance_sampling import _duck_hex6

_HEX_SPAN = 16 ** 6

_SPARK_COIN = "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT)"
_DUCK_COIN = _duck_hex6("md5(CAST(doc_id AS VARCHAR))")


@register(
    "corpus_mix_rebalance",
    oracle=f"""
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS c_s,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS en_s
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(c_s) AS BIGINT) AS n,
             CAST(SUM(en_s) AS BIGINT) AS en_total
      FROM src
    ),
    coined AS (
      SELECT d.source,
             CASE WHEN {_DUCK_COIN} * tot.en_total * src.c_s
                       < tot.n * src.en_s * {_HEX_SPAN}
                  THEN 1 ELSE 0 END AS kept
      FROM documents d
      JOIN src ON src.source = d.source
      CROSS JOIN tot
    )
    SELECT coined.source,
           src.c_s AS n_docs,
           src.en_s AS en_docs,
           CAST(SUM(coined.kept) AS BIGINT) AS n_kept,
           src.c_s * tot.en_total > tot.n * src.en_s AS was_over_quota
    FROM coined
    JOIN src ON src.source = coined.source
    CROSS JOIN tot
    GROUP BY coined.source, src.c_s, src.en_s, tot.n, tot.en_total
    """,
)
def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("c_s"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("en_s"),
    )
    tot = src.agg(
        F.sum("c_s").cast("long").alias("n"),
        F.sum("en_s").cast("long").alias("en_total"),
    )
    coin = F.expr(_SPARK_COIN)
    kept = F.when(
        coin * F.col("en_total") * F.col("c_s")
        < F.col("n") * F.col("en_s") * _HEX_SPAN,
        1,
    ).otherwise(0)
    coined = (
        d.select("doc_id", "source")
        .join(F.broadcast(src), "source")  # one row per source
        .crossJoin(F.broadcast(tot))  # 1-row totals
        .select("source", "c_s", "en_s", "n", "en_total", kept.alias("kept"))
    )
    return (
        coined.groupBy("source", "c_s", "en_s", "n", "en_total")
        .agg(F.sum("kept").cast("long").alias("n_kept"))
        .select(
            "source",
            F.col("c_s").alias("n_docs"),
            F.col("en_s").alias("en_docs"),
            "n_kept",
            # exact bigint cross-product comparison, no division
            (
                F.col("c_s") * F.col("en_total") > F.col("n") * F.col("en_s")
            ).alias("was_over_quota"),
        )
    )
