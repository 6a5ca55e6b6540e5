"""Continuous aggregate via ``foreachBatch`` under driver
attestation — the hypertable-rollup maintenance path
(``streaming/foreach_batch.continuous_aggregate_writer``) run as a
real stream to completion, then the STORE it maintained is compared
against the batch rollup oracle.

What this attests beyond ``streaming_tumbling_agg`` (same logical
rollup through the in-engine state store): the incremental MERGE
path — per-batch partials, left-semi-scoped read-back of only the
touched buckets, dynamic partition overwrite — produces exactly the
batch answer. A merge bug (lost partial, double-merged bucket,
unscoped overwrite dropping history) flips counts or fixed-point
sums and fails the hash.

Reference lifecycle note: the reference appends per-file batches to
Postgres (``importador.py:29-56``, ``etl_process.py:75``); the
continuous aggregate is that batch-append model made incremental.

Scale: refresh cost per micro-batch tracks the batch's time span,
never the store's history (semi-join scoping); the store is
bucket-partitioned parquet, so downstream reads prune by time. The
store/checkpoint live at a fixed per-SF path (wiped per run: the
writer is deliberately NOT replay-idempotent without batch_id
stamping, and the query must be deterministic per invocation).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..streaming.events_stream import read_events_stream
from ..streaming.foreach_batch import continuous_aggregate_writer

_STORE_ROOT = "/tmp/spark_graft_contagg"


@register(
    "streaming_continuous_aggregate",
    oracle="""
    SELECT date_trunc('day', ts) AS bucket, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value*10000) AS DECIMAL(38,0)))
                AS DOUBLE)/10000 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    store = os.path.join(_STORE_ROOT, f"store_{sf}")
    shutil.rmtree(store, ignore_errors=True)
    checkpoint = tempfile.mkdtemp(prefix="spark_graft_contagg_ckpt_")

    events = read_events_stream(spark, sf_dir)
    try:
        q = (
            events.writeStream.foreachBatch(
                continuous_aggregate_writer(store, bucket="1 day")
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)

    stored = spark.read.parquet(store)
    return stored.select(
        F.col("bucket").cast("timestamp").alias("bucket"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        (F.col("fsum").cast("double") / 10000).alias("total_value"),
    )
