"""Stream-static enrichment join — the canonical Structured
Streaming deployment shape missing from the streaming pack: a fact
STREAM joined to a slowly-changing static DIMENSION (user -> account
segment), then watermark-aggregated. This is the streaming mirror of
the reference's FK-lookup stage (``etl_process.py`` resolves
dimension keys per batch; a 100 TB pipeline resolves them per
microbatch).

Semantics + scale notes:
- A stream-static inner join is STATELESS in Structured Streaming —
  no join state accumulates; each microbatch joins against the
  current dimension snapshot. That is exactly the behavior a
  dimension enrichment wants (and why this is not an interval join —
  that variant, with state, is ``streaming_interval_join``).
- The dimension side is re-planned per microbatch and carries no
  hint: customer scales with the data, so the planner broadcasts it
  while its scan is under the broadcast threshold and shuffles on the
  key above it. The STREAM side never shuffles before the join either
  way.
- The post-join aggregation is watermarked; its state is bounded by
  (watermark horizon x |segments|), independent of stream length.

Oracle: on a bounded input, stream-static join + windowed agg must
agree exactly with the batch join + GROUP BY — checked with the
exact-decimal sum policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import msum, sql_msum
from ..registry import register
from ..sources import load_table
from ..streaming.events_stream import read_events_stream, run_streaming_query


@register(
    "streaming_static_enrichment",
    oracle=f"""
    SELECT date_trunc('hour', e.ts) AS bucket,
           c.c_mktsegment AS segment,
           COUNT(*) AS n,
           {sql_msum("e.value", "total_value")}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = events.join(dim, "user_id")
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            # no distinct aggregates: unsupported on streaming frames
            F.count(F.lit(1)).alias("n"),
            msum("value", "total_value"),
        )
        .select(F.col("w.start").alias("bucket"), "segment", "n",
                "total_value")
    )
    return run_streaming_query(
        agg, "stream_static_enrichment_sink", output_mode="complete"
    )
