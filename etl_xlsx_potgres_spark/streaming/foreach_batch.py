"""Exactly-once streaming sink via ``foreachBatch``.

Structured Streaming guarantees at-least-once delivery of each
micro-batch to ``foreachBatch``; exactly-once therefore requires the
writer to be idempotent per ``batch_id``. The pattern here writes each
batch to a ``batch_id=<n>``-partitioned parquet directory with dynamic
partition overwrite: a replayed batch overwrites its own partition
instead of duplicating rows. The same recipe carries to JDBC
(DELETE WHERE batch_id = n; INSERT) or Delta (MERGE on batch_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def idempotent_parquet_writer(path: str):
    """Returns a foreachBatch function with per-batch-id overwrite
    semantics — replaying a batch after a failure cannot duplicate."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return write


def continuous_aggregate_writer(path: str, bucket: str = "1 day"):
    """Hypertable-style continuous aggregate: maintain a time-bucketed
    rollup store incrementally as micro-batches arrive.

    Each batch is pre-aggregated to partial sums per (bucket,
    event_type), then merged into the parquet store with dynamic
    partition overwrite of ONLY the buckets the batch touched: read
    back those partitions, combine partials (counts and fixed-point
    sums are associative), rewrite them. Buckets outside the batch are
    never read or written — the refresh cost tracks the batch's time
    span, not the table's history, which is what makes a continuous
    aggregate viable on an unbounded hypertable.

    The merge is idempotent per batch only if batches are not
    replayed with partial effect; for exactly-once under replay,
    stamp rows with batch_id as in ``idempotent_parquet_writer`` and
    max-dedup on read-back (kept simple here; the two recipes
    compose).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = (
            batch_df.groupBy(
                F.window("ts", bucket).getField("start").alias("bucket"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 10000).cast("decimal(38,0)")).alias(
                    "fsum"
                ),
            )
        )
        # only a missing store means "first batch"; any other failure
        # (transient IO, corrupt file) must propagate so the streaming
        # engine retries the batch — swallowing it would overwrite the
        # touched buckets with batch-only partials and lose history
        from pyspark.errors import AnalysisException

        try:
            existing = spark.read.parquet(path)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
                raise
            merged = partial
        else:
            # scope the read-back to the buckets this batch touched,
            # executor-side: a semi join against the batch's (tiny,
            # auto-broadcast) bucket set. Collecting the bucket list to
            # the driver would serialize every micro-batch through it.
            touched = partial.select("bucket").distinct()
            relevant = existing.join(touched, "bucket", "left_semi")
            merged = (
                relevant.unionByName(partial)
                .groupBy("bucket", "event_type")
                .agg(F.sum("n").alias("n"), F.sum("fsum").alias("fsum"))
            )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(path)
        )

    return write
