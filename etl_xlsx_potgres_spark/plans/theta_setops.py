"""Mergeable Theta-sketch set operations — the capability HLL lacks:
estimating the INTERSECTION / DIFFERENCE of distinct-key sets without
materializing either set. The production question shaped here: "how
many distinct customers ordered in BOTH the urgent and the low
priority band?" — at 100 TB each side's key set is billions wide, but
a Theta sketch is a bounded sample of hashed keys (default lgK=12,
~1.6 % rsd) and union/intersection/difference compose on the
sketches themselves.

Staging mirrors ``hll_distinct``/``kll_quantiles``:

1. partial ``theta_sketch_agg`` at the finer (priority, order_status)
   ingest grain;
2. ``theta_union_agg`` rolls partials up to each priority band —
   conditional aggregation (FILTER) selects the two bands in one
   pass;
3. scalar ``theta_intersection`` / ``theta_union`` /
   ``theta_difference`` combine the two 1-row sketches;
4. exact verifiers run alongside: one per-custkey bool_or pass gives
   the true both/either/only counts, and each estimate must land
   within its envelope (10 % — generous vs the rsd; below ~4k
   entries Theta operates in exact mode, so fixture-scale verdicts
   are tight by construction, and the exact counts keep the pair
   non-vacuous).

Sketch bytes are implementation-defined; the portable surface is the
exact counts + bound verdicts (the repo's sketch-verdict pattern).

Reference lifecycle note: the reference has no set-overlap analytics;
this extends the sketch pack (HLL distinct, count-min heavy hitters,
KLL quantiles, THETA SET-OPS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table

TOL = 0.10
_HI = "1-URGENT"
_LO = "5-LOW"


@register(
    "agg_theta_setops_mergeable",
    oracle=f"""
    WITH flags AS (
      SELECT o_custkey,
             bool_or(o_orderpriority = '{_HI}') AS hi,
             bool_or(o_orderpriority = '{_LO}') AS lo
      FROM orders
      WHERE o_orderpriority IN ('{_HI}', '{_LO}')
      GROUP BY o_custkey
    )
    SELECT CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hi_exact,
           CAST(SUM(CASE WHEN lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lo_exact,
           CAST(SUM(CASE WHEN hi AND lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both_exact,
           CAST(COUNT(*) AS BIGINT) AS n_union_exact,
           TRUE AS inter_ok, TRUE AS union_ok, TRUE AS diff_ok
    FROM flags
    """,
)
def agg_theta_setops_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin(_HI, _LO))
        .select("o_custkey", "o_orderpriority", "o_orderstatus")
    )
    # (1) partials at the finer ingest grain
    partial = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.theta_sketch_agg("o_custkey").alias("sk")
    )
    # (2) one conditional union-merge pass -> a 1-row two-sketch frame
    two = partial.agg(
        F.expr(
            f"theta_union_agg(sk) FILTER (WHERE o_orderpriority = '{_HI}')"
        ).alias("sk_hi"),
        F.expr(
            f"theta_union_agg(sk) FILTER (WHERE o_orderpriority = '{_LO}')"
        ).alias("sk_lo"),
    )
    # (3) sketch-level set algebra on the 1-row frame
    est = two.select(
        F.theta_sketch_estimate(F.col("sk_hi")).alias("hi_est"),
        F.theta_sketch_estimate(F.col("sk_lo")).alias("lo_est"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_hi"), F.col("sk_lo"))
        ).alias("inter_est"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("sk_hi"), F.col("sk_lo"))
        ).alias("union_est"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk_hi"), F.col("sk_lo"))
        ).alias("diff_est"),
    )
    # (4) exact verifier: per-custkey flags, then 1-row counts
    flags = o.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == _HI).cast("int")).alias("hi"),
        F.max((F.col("o_orderpriority") == _LO).cast("int")).alias("lo"),
    )
    exact = flags.agg(
        F.sum("hi").cast("long").alias("n_hi_exact"),
        F.sum("lo").cast("long").alias("n_lo_exact"),
        F.sum(F.col("hi") * F.col("lo")).cast("long").alias("n_both_exact"),
        F.count(F.lit(1)).cast("long").alias("n_union_exact"),
    )

    def ok(est_col: str, exact_col: str):
        return (
            F.abs(F.col(est_col) - F.col(exact_col))
            <= F.lit(TOL) * F.greatest(F.col(exact_col), F.lit(1))
        )

    return exact.crossJoin(constant_size(est)).select(
        "n_hi_exact",
        "n_lo_exact",
        "n_both_exact",
        "n_union_exact",
        ok("inter_est", "n_both_exact").alias("inter_ok"),
        ok("union_est", "n_union_exact").alias("union_ok"),
        (
            F.abs(
                F.col("diff_est")
                - (F.col("n_hi_exact") - F.col("n_both_exact"))
            )
            <= F.lit(TOL)
            * F.greatest(
                F.col("n_hi_exact") - F.col("n_both_exact"), F.lit(1)
            )
        ).alias("diff_ok"),
    )
