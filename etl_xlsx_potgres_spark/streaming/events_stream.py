"""Structured Streaming over the events table.

The reference's closest analogue is its drop-a-file-in-uploads intake
(``/root/reference/importador.py:7-28``) — which is exactly Spark's
file-source streaming model: a landing directory read with
``readStream``, transformed declaratively, written incrementally.

These helpers run real streaming queries (file source -> watermarked
windowed aggregation -> memory sink) driven to completion with
``processAllAvailable()``, so a bounded parquet directory doubles as
a replayable stream for tests and for the oracle-checked
``streaming_tumbling_agg`` query. In production the same code takes a
Kafka source and a Delta/parquet sink with checkpointing; watermarks
bound state so a 100 TB/day stream holds only the open windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RAW_EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (footer-probed ns->us
    conversion as in sources/tables.py — the shim applies only when the
    parquet footer actually declares TIMESTAMP(NANOS))."""
    from ..sources.tables import SCHEMAS, _has_nanos_ts

    # The file source wants a directory (the "landing dir" model of
    # importador.py's uploads/); glob-filter down to the events table.
    if _has_nanos_ts(f"{sf_dir}/events.parquet", ["ts"]):
        raw = (
            spark.readStream.schema(_RAW_EVENTS)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )


def run_streaming_query(
    agg: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming aggregation to completion into a memory sink and
    return the result table."""
    spark = agg.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(name)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked 1-hour tumbling window aggregation (late data beyond
    the watermark is dropped once the window closes)."""
    from ..functions.numeric import msum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), msum("value", "total_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "total_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native streaming session windows (state TTL bounded by the
    watermark + gap)."""
    from ..functions.numeric import msum

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), msum("value", "session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_stream(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication: drops repeats of ``keys`` across
    micro-batches. State holds one entry per key seen within the
    watermark horizon — ``dropDuplicatesWithinWatermark`` lets Spark
    expire state for keys older than the watermark, which is what
    keeps a forever-running dedup's state bounded (a plain
    dropDuplicates on a stream grows state without limit)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to same-user
    clicks at most ``max_delay`` before it.

    Both sides carry a watermark AND the join condition bounds event
    time on both ends — that pair is what lets Spark garbage-collect
    buffered rows (a stream-stream join without a time-range bound
    must hold every past row forever, which no 100 TB/day stream
    survives). State per side is O(watermark-window of rows), not
    O(stream history).
    """
    p = purchases.withWatermark("ts", watermark).alias("p")
    c = clicks.withWatermark("ts", watermark).alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") <= F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr(f"INTERVAL {max_delay}"))
    )
    return p.join(c, cond).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("c.event_id").alias("click_id"),
        F.col("c.ts").alias("click_ts"),
    )
