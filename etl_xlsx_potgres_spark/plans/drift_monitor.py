"""Distribution-drift monitoring — the data-quality sentinel every
production pipeline runs between ingest batches: "did this week's
value distribution move vs last week's?" (the check that catches an
upstream schema change, a bot flood, or a broken collector before it
poisons training data).

Metric: total-variation distance ``TV = 1/2 * sum_i |p_i - q_i|``
between adjacent weeks' per-event-type value histograms. TV is PSI's
order-free cousin: PSI's ``(p-q)·ln(p/q)`` terms need float logs
whose SUMMATION ORDER differs across engines and partitionings,
while TV in integer micro-units (``p_i = cnt_i * 1e6 DIV total``)
is exact bigint arithmetic — bit-identical anywhere, no epsilon
smoothing, no ordered-fold contortions. Drift flags at 8 % (80 000
micro-units), a standard PSI-scale alert band.

Scale shape: ONE corpus pass builds the (type, week, bin) histogram
with map-side partials; everything after is metadata-sized —
(enum types) x (weeks, ~52/yr) x (10 bins) rows — so the
adjacent-week full-outer self-join (missing bins on either side
count as 0) and the per-(type, week) rollup cost nothing at any
corpus size. The corpus is never re-touched; in production the
histogram lands in a metrics table and each new week joins against
the stored previous row.

Reference lifecycle note: the reference's closest habit is its
row-count print after load (``etl_process.py:223-235``); this is the
distribution-level upgrade of that check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from ..registry import register
from ..sources import load_table

_BINS = 10
_TV_ALERT = 80_000  # 8% in micro-units

# explicit floor() on BOTH engines: Spark's DIV truncates toward
# zero, and DuckDB's integer // ALSO truncates in current builds
# (probed: -3 // 7 = 0) despite docs calling it floor division --
# spelling floor() out is the only version-proof way to make a
# pre-anchor ts bucket identically per engine.
_DUCK_WEEK = (
    "CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))"
    " / 7.0) AS INT)"
)
# floor over double is exact here: datediff is a small integer and
# correctly-rounded /7 can't cross an integer boundary.
_SPARK_WEEK = (
    "CAST(floor(datediff(CAST(ts AS DATE), DATE'2024-01-01') / 7) AS INT)"
)
_DUCK_BIN = f"CAST(least(floor(value / 2.0), {_BINS - 1}) AS INT)"
_SPARK_BIN = f"CAST(least(floor(value / 2.0D), {_BINS - 1}) AS INT)"

_ORACLE = f"""
WITH hist AS (
  SELECT event_type, {_DUCK_WEEK} AS week, {_DUCK_BIN} AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
),
shares AS (
  SELECT event_type, week, bin,
         CAST((cnt * 1000000)
              // SUM(cnt) OVER (PARTITION BY event_type, week)
              AS BIGINT) AS p_micro,
         CAST(SUM(cnt) OVER (PARTITION BY event_type, week) AS BIGINT)
           AS n_week
  FROM hist
),
paired AS (
  SELECT coalesce(c.event_type, p.event_type) AS event_type,
         coalesce(c.week, p.week + 1) AS week,
         coalesce(c.p_micro, 0) AS p_curr,
         coalesce(p.p_micro, 0) AS p_prev,
         c.n_week AS n_curr, p.n_week AS n_prev
  FROM shares c
  FULL OUTER JOIN shares p
    ON p.event_type = c.event_type AND p.bin = c.bin
   AND p.week = c.week - 1
  WHERE coalesce(c.week, p.week + 1)
        BETWEEN 1 AND (SELECT MAX(week) FROM hist)
),
tv AS (
  SELECT event_type, week,
         CAST(SUM(abs(p_curr - p_prev)) AS BIGINT) // 2 AS tv_micro,
         CAST(MAX(n_curr) AS BIGINT) AS n_curr,
         CAST(MAX(n_prev) AS BIGINT) AS n_prev
  FROM paired GROUP BY 1, 2
)
SELECT event_type, week, tv_micro, n_curr, n_prev,
       tv_micro > {_TV_ALERT} AS drifted
FROM tv
"""


@register("drift_weekly_value_hist", oracle=_ORACLE)
def drift_weekly_value_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the one corpus pass: (type, week, bin) counts, map-side partials
    hist = ev.select(
        "event_type",
        F.expr(_SPARK_WEEK).alias("week"),
        F.expr(_SPARK_BIN).alias("bin"),
    ).groupBy("event_type", "week", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # everything below runs on the (types x weeks x 10-bin) frame
    from pyspark.sql import Window

    wk = Window.partitionBy("event_type", "week")
    shares = hist.select(
        "event_type",
        "week",
        "bin",
        F.expr("cnt * 1000000").alias("_c6"),
        F.sum("cnt").over(wk).cast("long").alias("n_week"),
    ).select(
        "event_type",
        "week",
        "bin",
        F.expr("CAST(_c6 DIV n_week AS BIGINT)").alias("p_micro"),
        "n_week",
    )
    # the adjacent-week comparison self-joins this frame: persist the
    # (types x weeks x 10-bin) result so the corpus pass runs ONCE —
    # a self-join alias duplicates the whole subtree otherwise
    shares = scoped_persist(shares)
    max_week = shares.agg(F.max("week").alias("mw"))
    c, p = shares.alias("c"), shares.alias("p")
    paired = (
        c.join(
            p,
            (F.col("p.event_type") == F.col("c.event_type"))
            & (F.col("p.bin") == F.col("c.bin"))
            & (F.col("p.week") == F.col("c.week") - 1),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("c.event_type"), F.col("p.event_type")).alias(
                "event_type"
            ),
            F.coalesce(F.col("c.week"), F.col("p.week") + 1).alias("week"),
            F.coalesce(F.col("c.p_micro"), F.lit(0)).alias("p_curr"),
            F.coalesce(F.col("p.p_micro"), F.lit(0)).alias("p_prev"),
            F.col("c.n_week").alias("n_curr"),
            F.col("p.n_week").alias("n_prev"),
        )
        .crossJoin(constant_size(max_week))  # 1-row bound frame
        .where(F.col("week").between(F.lit(1), F.col("mw")))
    )
    tv = paired.groupBy("event_type", "week").agg(
        F.sum(F.abs(F.col("p_curr") - F.col("p_prev")))
        .cast("long")
        .alias("_sum_abs"),
        F.max("n_curr").cast("long").alias("n_curr"),
        F.max("n_prev").cast("long").alias("n_prev"),
    ).select(
        "event_type",
        "week",
        # integer halving in BOTH engines: CAST-of-decimal rounds in
        # DuckDB but truncates in Spark, so never divide before casting
        F.expr("CAST(_sum_abs DIV 2 AS BIGINT)").alias("tv_micro"),
        "n_curr",
        "n_prev",
    )
    return tv.select(
        "event_type",
        "week",
        "tv_micro",
        "n_curr",
        "n_prev",
        (F.col("tv_micro") > _TV_ALERT).alias("drifted"),
    )
