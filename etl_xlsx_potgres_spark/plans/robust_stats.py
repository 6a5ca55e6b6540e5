"""Robust statistics: median / MAD / outlier flagging over the events
stream — the anomaly-gate stage of a telemetry or data-quality
pipeline.

Exactness policy: medians are SELECTED elements (lower median via
row_number), never interpolated — interpolation formulas differ
between engines in the last ulp ((a+b)/2 vs a+(b-a)*0.5), selection
cannot. No cross-row float sums anywhere; the outlier test multiplies
two exact doubles by one literal.

Scale: exact per-key order statistics require a per-key distributed
sort (the window below). The event-type key space is a small constant
here; for high-cardinality keys or when 1-pass approximation is
acceptable, ``agg_percentiles``/``agg_approx_sketches`` are the scale
path — this operator is the exact gate you run on the keys that
matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table

# 3 sigma-equivalents under normality: 3 * 1.4826 (the MAD-to-sigma
# consistency constant), folded into one literal so both engines do a
# single multiplication.
_MAD_CUT = 4.4478


@register(
    "ts_mad_outliers",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, event_id, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM ev
    ),
    med AS (
      SELECT event_type, value AS median, n
      FROM ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    dev AS (
      SELECT e.event_type, e.event_id, abs(e.value - m.median) AS dev,
             m.median, m.n
      FROM ev e JOIN med m USING (event_type)
    ),
    dev_ranked AS (
      SELECT event_type, dev, median, n,
             row_number() OVER (
               PARTITION BY event_type ORDER BY dev, event_id) AS rn
      FROM dev
    ),
    mad AS (
      SELECT event_type, dev AS mad, median, n
      FROM dev_ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    )
    SELECT d.event_type,
           CAST(MAX(d.n) AS BIGINT) AS n,
           MAX(m.median) AS median,
           MAX(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.dev > m.mad * {_MAD_CUT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN d.dev > m.mad * {_MAD_CUT} THEN 1 ELSE 0 END)
                AS DOUBLE) / MAX(d.n) AS outlier_ratio
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: exact lower-median, MAD, and the count of
    values deviating more than ~3 robust sigmas — all via element
    selection, bit-identical across engines."""
    # NULL measurements are excluded on BOTH sides: besides being
    # meaningless to an outlier gate, a NULL sort key diverges
    # between engines (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    med = ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select("event_type", F.col("value").alias("median"), "n")

    dev = ev.join(constant_size(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("median")).alias("dev"),
        "median",
        "n",
    )
    wd = Window.partitionBy("event_type").orderBy("dev", "event_id")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long"))
        .select("event_type", F.col("dev").alias("mad"))
    )
    is_out = F.when(F.col("dev") > F.col("mad") * _MAD_CUT, 1).otherwise(0)
    return (
        dev.join(constant_size(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(is_out).cast("long").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "median",
            "mad",
            "n_outliers",
            (F.col("n_outliers").cast("double") / F.col("n")).alias(
                "outlier_ratio"
            ),
        )
    )
