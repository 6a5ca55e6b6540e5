"""Mergeable HyperLogLog distinct counting — the sketch a 100 TB
pipeline uses when ``COUNT(DISTINCT key)`` would shuffle every
distinct key: per-partition HLL registers are CONSTANT-size
(2^lgConfigK bytes) regardless of cardinality, partials merge by
register-wise max (commutative + idempotent, so Spark's partial
aggregation and any cross-day rollup compose for free), and the
estimate is within ~1.6 % rsd at the default lgConfigK=12.

Two estimators, both native JVM (Spark 4 Datasketches
``hll_sketch_agg``/``hll_union_agg``/``hll_sketch_estimate`` and the
classic ``approx_count_distinct`` HLL++), are exercised against the
exact distinct count in one query:

1. partial sketches at the FINER (return_flag, line_status) grain —
   the shape of a per-day/per-source ingest that later rolls up;
2. ``hll_union_agg`` merges the partials up to return_flag: the
   re-aggregation never touches raw keys, which is the whole point —
   at 100 TB stage 2's input is #groups x 4 KB, not the corpus;
3. the exact ``count(DISTINCT ...)`` runs alongside as the verifier
   (at production scale you run ONLY the sketch side; the exact side
   here is what makes the check non-vacuous);
4. per group the query emits ``hll_ok`` / ``acd_ok`` — the estimate
   landing within the published error envelope (5 % / 10 %, >=3x the
   rsd) — joined back on the 3-row group frame (broadcast).

Sketch bytes are implementation-defined, so (like ``ann_ml_brp_lsh``'s
recall verdict) the portable surface is exact counts + bound
verdicts: the DuckDB oracle recomputes the exact side and pins the
verdicts TRUE — an estimator drifting out of its envelope hash-fails
the gate.

Reference lifecycle note: the reference counts distinct plan names by
loading every row into pandas (``etl_process.py:29-50``); sketched
distincts are the at-scale replacement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table

HLL_TOL = 0.05
ACD_TOL = 0.10


@register(
    "agg_hll_distinct_mergeable",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS hll_ok,
           TRUE AS acd_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_hll_distinct_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_orderkey"
    )
    # (1) partial sketches at the finer ingest grain, (2) register-max
    # merge up to return_flag — stage 2 input is #groups x ~4KB sketches
    partial = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    merged = partial.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("hll_est")
    )
    # (3) exact verifier + the HLL++ estimator over the same scan
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey").alias("acd_est"),
    )
    # (4) 3-row join; bound verdicts are the portable surface
    return exact.join(constant_size(merged), "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("hll_est") - F.col("exact_orders"))
            <= HLL_TOL * F.col("exact_orders")
        ).alias("hll_ok"),
        (
            F.abs(F.col("acd_est") - F.col("exact_orders"))
            <= ACD_TOL * F.col("exact_orders")
        ).alias("acd_ok"),
    )
