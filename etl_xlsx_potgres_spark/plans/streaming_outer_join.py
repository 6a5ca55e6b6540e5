"""Stream-stream LEFT OUTER interval join under driver attestation —
the semantics the inner join (``streaming_interval_join``) cannot
show: a purchase with NO same-user click in the preceding hour must
still be emitted, with nulls, and it can only be emitted once the
WATERMARK has passed its join window (before that, a matching click
could still arrive — the null row would be premature and wrong).

That closure rule is the part bounded replays silently get wrong: on
a finite input the watermark is computed from data already seen, so
rows near the END of the stream never have their windows closed and
an availableNow replay terminates with their unmatched-row output
still buffered in the state store — the outer join UNDERCOUNTS
against the batch oracle. The honest fix is the one a production
pipeline uses for stream drain/backfill: advance the watermark past
the data with sentinel events. Here each side's landing directory
holds its data file plus two far-future sentinel files (reserved
user_id -1, excluded from output and oracle), replayed one file per
micro-batch (``maxFilesPerTrigger=1``, mtime-ordered):

  batch 1: all real rows join; no state closes (watermark still low)
  batch 2: sentinels raise max event time; the new watermark is
           committed at batch end
  batch 3: eviction runs under the raised watermark — every real
           purchase's window is now closed, unmatched rows flush

State stays O(watermark window) throughout — both sides carry a
watermark and the join condition bounds event time on both ends,
the same GC contract as the inner join.

The DuckDB oracle is the plain batch LEFT JOIN with the type filter
and time band in the ON clause; a premature null, a dropped
unmatched purchase, or a duplicate emit all flip the diff.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

_SENTINEL_TS = ("2024-06-01 00:00:00", "2024-06-02 00:00:00")


def _stage_side(spark: SparkSession, df: DataFrame, base: str) -> None:
    """Write one stream side's landing dir: the data file then two
    sentinel files, mtime-ordered so the file source replays them as
    three successive micro-batches."""
    if df.isEmpty():
        # the sentinel rows are cloned from df.limit(1) — an empty
        # side would stage zero sentinels and the outer join would
        # silently degrade to inner-join output (never-closing state)
        raise ValueError(
            f"streaming outer join: side for {base!r} is empty — "
            "cannot stage watermark-drain sentinels"
        )
    os.makedirs(base)
    stage = base + "_stage"
    pieces = [df.coalesce(1)]
    for ts in _SENTINEL_TS:
        pieces.append(
            df.limit(0).unionByName(
                df.limit(1).select(
                    F.lit(-1).cast("long").alias("event_id"),
                    F.to_timestamp(F.lit(ts)).alias("ts"),
                    F.lit(-1).cast("long").alias("user_id"),
                    F.col("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit(None).cast("string").alias("props"),
                )
            )
        )
    t0 = 1_700_000_000
    for i, piece in enumerate(pieces):
        piece.write.mode("overwrite").parquet(stage)
        parts = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        assert len(parts) == 1
        dst = os.path.join(base, f"{i:03d}.parquet")
        shutil.copy(os.path.join(stage, parts[0]), dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
    shutil.rmtree(stage, ignore_errors=True)


def _events_fingerprint(sf_dir: str) -> str:
    """Cheap identity of the events fixture (file names, sizes,
    mtimes): the staged landing dirs are a pure function of the
    events table, so the stage cache must die with it — a marker
    keyed only on the SF dir basename would keep serving stale
    staged files after the fixture is regenerated and the query
    would diverge from the oracle (loudly in the sweep, but
    confusingly)."""
    path = os.path.join(sf_dir, "events.parquet")
    parts = []
    files = (
        sorted(os.listdir(path)) if os.path.isdir(path)
        else [os.path.basename(path)] if os.path.exists(path)
        else []
    )
    root = path if os.path.isdir(path) else os.path.dirname(path)
    for f in files:
        st = os.stat(os.path.join(root, f))
        parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def _ensure_staged(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent staging per (SF, events fingerprint): repeated runs
    (bench passes, sweeps) skip the 8 write jobs; a regenerated
    fixture re-stages because the fingerprint in the marker no
    longer matches."""
    ev = load_table(spark, sf_dir, "events")
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    work = os.path.join(tempfile.gettempdir(), f"spark_graft_ojoin_{sf}")
    done = os.path.join(work, "_STAGED")
    fp = _events_fingerprint(sf_dir)
    stamped = None
    if os.path.exists(done):
        with open(done) as fh:
            stamped = fh.read().strip()
    if stamped != fp:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        for etype, sub in (("purchase", "p"), ("click", "c")):
            _stage_side(
                spark,
                ev.filter(F.col("event_type") == etype),
                os.path.join(work, sub),
            )
        with open(done, "w") as fh:
            fh.write(fp)
    return work


def _staged_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    work = _ensure_staged(spark, sf_dir)
    schema = load_table(spark, sf_dir, "events").schema

    def side(sub: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, sub))
            .withWatermark("ts", "2 hours")
        )

    return side("p").alias("p"), side("c").alias("c")


def _run_to_table(spark: SparkSession, joined: DataFrame, name: str) -> None:
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@register(
    "streaming_outer_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts
    FROM events p LEFT JOIN events c
      ON c.event_type = 'click' AND p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    """,
)
def streaming_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, c = _staged_sides(spark, sf_dir)
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") <= F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
    )
    joined = p.join(c, cond, "leftOuter").select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("c.event_id").alias("click_id"),
        F.col("c.ts").alias("click_ts"),
    )

    name = "stream_outer_ivjoin_sink"
    _run_to_table(spark, joined, name)
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "streaming_full_outer_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts,
           COALESCE(p.user_id, c.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def streaming_full_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL outer completes the family: right-unmatched rows (clicks
    no purchase followed within the hour) exercise the OTHER state
    store's watermark eviction — a click's window closes only when
    the PURCHASE-side watermark passes click_ts + 1 hour, so the
    sentinel-drain protocol must raise both sides' watermarks (it
    stages sentinels on both landing dirs already). Same closure
    hazard as the left join, on both sides at once: an availableNow
    replay without the drain undercounts BOTH null-click purchases
    and null-purchase clicks (negative control in
    tests/test_streaming_outer_join.py)."""
    p, c = _staged_sides(spark, sf_dir)
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") <= F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
    )
    joined = p.join(c, cond, "fullOuter").select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("c.event_id").alias("click_id"),
        F.col("c.ts").alias("click_ts"),
        F.coalesce(F.col("p.user_id"), F.col("c.user_id")).alias("user_id"),
    )

    name = "stream_fouter_ivjoin_sink"
    _run_to_table(spark, joined, name)
    return spark.table(name).filter(F.col("user_id") >= 0)
