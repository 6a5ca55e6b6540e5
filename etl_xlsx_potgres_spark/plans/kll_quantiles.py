"""Mergeable KLL quantile sketching — the companion to
``hll_distinct`` for ORDER statistics: exact percentiles need a
per-group sort (or a full-value shuffle into ``percentile``), while a
KLL sketch is a constant-size summary (k=200 default, ~1.3 % rank
error) whose partials merge associatively — the shape a 100 TB
pipeline uses for per-day latency/price quantiles that later roll up
across days without re-touching raw values.

Same staging as the HLL query (Spark 4 Datasketches natives):

1. partial ``kll_sketch_agg_double`` at the finer (return_flag,
   line_status) ingest grain;
2. ``kll_merge_agg_double`` rolls partials up to return_flag — stage
   2's input is #groups x ~KBs, never the corpus;
3. quantile estimates are read out at p25/p50/p75;
4. the verifier computes each estimate's EXACT rank over the same
   scan (one broadcast join of the 3-row estimate frame + a
   conditional count) and asserts it lands within the published rank
   tolerance (+-5 %, >=3x the sketch's epsilon).

Sketch bytes and the picked quantile VALUES are implementation-
defined; the portable surface is exact row counts, exact min/max,
and the rank-bound verdicts — the DuckDB oracle pins the verdicts
TRUE, so an estimator drifting out of its envelope hash-fails the
gate (the ``hll_distinct``/``ann_ml_brp_lsh`` verdict pattern).

Reference lifecycle note: the reference computes no order statistics
(pandas load, ``etl_process.py:29-50``); sketched quantiles are the
at-scale replacement for the ``ORDER BY``-based percentiles in
``windows_aggs.agg_percentiles``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table

RANK_TOL = 0.05


@register(
    "agg_kll_quantiles_mergeable",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_kll_quantiles_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    partial = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    merged = partial.groupBy("l_returnflag").agg(
        F.kll_merge_agg_double("sk").alias("sk")
    )
    est = merged.select(
        "l_returnflag",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.25)).alias("q25"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.50)).alias("q50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.75)).alias("q75"),
    )
    # exact-rank verifier: one more pass over the scan with the 3-row
    # estimate frame broadcast; at production scale you run only the
    # sketch side — the exact side is what makes the check non-vacuous
    joined = li.join(constant_size(est), "l_returnflag")
    ranks = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.sum((F.col("l_extendedprice") <= F.col("q25")).cast("long"))
        .alias("r25"),
        F.sum((F.col("l_extendedprice") <= F.col("q50")).cast("long"))
        .alias("r50"),
        F.sum((F.col("l_extendedprice") <= F.col("q75")).cast("long"))
        .alias("r75"),
    )

    def ok(rank_col: str, q: float):
        return (
            F.abs(F.col(rank_col) / F.col("n_rows") - F.lit(q))
            <= F.lit(RANK_TOL)
        )

    return ranks.select(
        "l_returnflag",
        "n_rows",
        "min_price",
        "max_price",
        ok("r25", 0.25).alias("q25_ok"),
        ok("r50", 0.50).alias("q50_ok"),
        ok("r75", 0.75).alias("q75_ok"),
    )
