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

The module's second statistic, PSI against the fixed week-0 baseline
(``drift_psi_reference``/``drift_psi_shifted``), shares the histogram
keys; see its section below.

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

_TV_ALERT = 80_000  # 8% in micro-units
_BINS = 10

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


# Population Stability Index drift against a FIXED reference
# snapshot — the second of the two standard drift statistics
# (``drift_weekly_value_hist`` tracks week-over-week TOTAL-VARIATION;
# PSI compares every week to the week-0 baseline, the convention from
# credit-risk scorecard monitoring that ML observability stacks adopted
# wholesale): ``PSI = sum_bins (p_i - q_i) * ln(p_i / q_i)`` with the
# canonical alert ladder <0.10 stable, 0.10-0.25 moderate, >0.25 major.
# The two statistics disagree exactly when drift ACCUMULATES — a slow
# weekly creep never trips a week-over-week TV gate but shows up
# against the fixed baseline.
#
# Numeric policy (the ``quality_nb_scores`` micro-nat discipline): every
# bin's contribution quantizes to integer micro-nats BEFORE the sum —
# ``floor((p - q) * ln(p/q) * 1e6)`` where p and q are Laplace-smoothed
# exact rationals (``(c+1)/(n+BINS)``, so empty bins are defined and
# every contribution is >= 0) evaluated as one division of exact bigint
# products.  The per-week PSI is then an exact bigint sum —
# order-independent at any partitioning, and the single ``ln`` call per
# (week, bin) cell follows the NB scorer's established quantize-then-sum
# convention.
#
# Plan shape: ONE corpus pass builds the (event_type, week, bin)
# histogram (map-side partial aggregation); everything after — the
# bin spine (a constant ``BINS``-row frame), the week-0 reference
# slice, the smoothing, the ln, the rollup — happens on the
# constant-size histogram frame (#types x #weeks x BINS rows at ANY
# corpus volume).  At 100 TB this is one shuffle plus arithmetic on a
# few hundred rows.
#
# Fixture coverage: the events table's natural drift exercises
# ``stable`` and ``moderate`` at sf0.01 (week-4 purchase/signup volume
# collapses shift the smoothed shares); the ``major`` rung is
# threshold-only there — the thresholds are the canonical scorecard
# constants and are not bent to make every rung fire on synthetic data.
#
# Reference lifecycle note: the reference ETL (etl_process.py:1-235)
# loads once and never monitors; drift tracking is north-star surface
# for a production pipeline.

PSI_MODERATE = 100_000   # 0.10 in micro-nats
PSI_MAJOR = 250_000      # 0.25 in micro-nats

# (p - q) * ln(p/q) in micro-nats, Laplace-smoothed; c/n are the
# current cell, r/m the reference cell (exact bigints)
_CONTRIB = (
    "CAST(floor((CAST(c + 1 AS DOUBLE) / (n + {B})"
    "            - CAST(r + 1 AS DOUBLE) / (m + {B}))"
    "     * ln((CAST((c + 1) * (m + {B}) AS DOUBLE))"
    "          / (CAST((r + 1) * (n + {B}) AS DOUBLE)))"
    "     * 1000000) AS BIGINT)"
).format(B=_BINS)

_VERDICT = (
    f"CASE WHEN psi_micro > {PSI_MAJOR} THEN 'major' "
    f"WHEN psi_micro > {PSI_MODERATE} THEN 'moderate' "
    f"ELSE 'stable' END"
)


def _oracle(duck_bin: str) -> str:
    return f"""
    WITH hist AS (
      SELECT event_type, {_DUCK_WEEK} AS week, {duck_bin} AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    ),
    totals AS (
      SELECT event_type, week, CAST(SUM(cnt) AS BIGINT) AS n_week
      FROM hist GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, t.week, t.n_week, b.bin
      FROM totals t, LATERAL unnest(generate_series(0, {_BINS - 1})) b(bin)
      WHERE t.week >= 1
    ),
    cells AS (
      SELECT g.event_type, g.week, g.bin, g.n_week AS n,
             COALESCE(h.cnt, 0) AS c,
             COALESCE(hr.cnt, 0) AS r,
             rt.n_week AS m
      FROM grid g
      LEFT JOIN hist h
        ON h.event_type = g.event_type AND h.week = g.week
       AND h.bin = g.bin
      LEFT JOIN hist hr
        ON hr.event_type = g.event_type AND hr.week = 0
       AND hr.bin = g.bin
      JOIN totals rt ON rt.event_type = g.event_type AND rt.week = 0
    ),
    psi AS (
      SELECT event_type, week,
             CAST(MAX(n) AS BIGINT) AS n_curr,
             CAST(MAX(m) AS BIGINT) AS n_ref,
             CAST(SUM({_CONTRIB}) AS BIGINT) AS psi_micro
      FROM cells GROUP BY 1, 2
    )
    SELECT event_type, week, n_curr, n_ref, psi_micro,
           {_VERDICT} AS verdict
    FROM psi
    """


def _psi(spark: SparkSession, sf_dir: str, spark_bin: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.select(
            "event_type",
            F.expr(_SPARK_WEEK).alias("week"),
            F.expr(spark_bin).alias("bin"),
        )
        .groupBy("event_type", "week", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = hist.groupBy("event_type", "week").agg(
        F.sum("cnt").cast("long").alias("n_week")
    )
    bins = F.explode(F.sequence(F.lit(0), F.lit(_BINS - 1))).alias("bin")
    grid = (
        totals.filter(F.col("week") >= 1)
        .select("event_type", "week", "n_week", bins)
    )
    ref_hist = hist.filter(F.col("week") == 0).select(
        "event_type", "bin", F.col("cnt").alias("rcnt")
    )
    ref_tot = totals.filter(F.col("week") == 0).select(
        "event_type", F.col("n_week").alias("m")
    )
    cells = (
        grid.join(hist, ["event_type", "week", "bin"], "left")
        .join(ref_hist, ["event_type", "bin"], "left")
        .join(ref_tot, "event_type")
        .select(
            "event_type",
            "week",
            F.col("n_week").alias("n"),
            F.coalesce("cnt", F.lit(0)).alias("c"),
            F.coalesce("rcnt", F.lit(0)).alias("r"),
            "m",
        )
    )
    psi = cells.groupBy("event_type", "week").agg(
        F.max("n").cast("long").alias("n_curr"),
        F.max("m").cast("long").alias("n_ref"),
        F.sum(F.expr(_CONTRIB)).cast("long").alias("psi_micro"),
    )
    return psi.select(
        "event_type",
        "week",
        "n_curr",
        "n_ref",
        "psi_micro",
        F.expr(_VERDICT).alias("verdict"),
    )


@register("drift_psi_reference", oracle=_oracle(_DUCK_BIN))
def drift_psi_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _psi(spark, sf_dir, _SPARK_BIN)


# The seeded-shift twin: the canonical thresholds stay untouched (the
# reference query records that the fixture's NATURAL drift tops out
# at 'moderate'); here click's value distribution is shifted +5 bins
# from week 3 — a pure function of (event_type, week, value), applied
# identically on both engines — so the 'major' rung fires
# non-vacuously while the untouched types keep exercising 'stable'.
# This is the monitor's positive control: a detector whose alarm tier
# has never fired on ANY input is untested plumbing.
_SPARK_BIN_SHIFTED = (
    f"CASE WHEN event_type = 'click' AND {_SPARK_WEEK} >= 3 "
    f"THEN CAST(least(floor(value / 2.0D) + 5, {_BINS - 1}) AS INT) "
    f"ELSE {_SPARK_BIN} END"
)
_DUCK_BIN_SHIFTED = (
    f"CASE WHEN event_type = 'click' AND {_DUCK_WEEK} >= 3 "
    f"THEN CAST(least(floor(value / 2.0) + 5, {_BINS - 1}) AS INT) "
    f"ELSE {_DUCK_BIN} END"
)


@register("drift_psi_shifted", oracle=_oracle(_DUCK_BIN_SHIFTED))
def drift_psi_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _psi(spark, sf_dir, _SPARK_BIN_SHIFTED)
