"""Streaming dedup against the band store (VERDICT r15 task 6) —
the incremental MinHash store composed with Structured Streaming:
new documents arrive as files in a landing directory (the
reference's ``uploads/`` polling model, ``importador.py:29-56``),
each micro-batch computes its LSH band keys and probes the bucketed
history store, and per-document keep/drop verdicts append to a
verdict store.  This is the shape a production ingest actually runs:
dedup-at-the-door, history never re-shuffled (the store scan is
Exchange-free inside every micro-batch — asserted via captured
per-batch plans in ``tests/test_streaming_dedup.py``), each batch
shuffles only itself.

Correctness composition: a new document's verdict depends only on
(document, history), so batch-wise processing composes exactly —
the stream over ANY partitioning of the new batch into micro-batches
must equal the one-shot batch answer.  The oracle is therefore the
SAME SQL as ``dedup_incremental_newbatch``; the landing dir splits
the new batch into {N_FILES} files and ``maxFilesPerTrigger=1``
forces genuinely separate micro-batches (mtime-ordered), so the
equality is attested across a real multi-batch run, not a degenerate
single batch.

Lifecycle: landing/checkpoint/verdict dirs live under the
per-session ``store_root`` (atexit-cleaned, stale-sibling-swept);
each invocation wipes and rebuilds them — the registered query must
be deterministic per invocation, and the returned DataFrame reads
the verdict store lazily (the driver collects before any
re-invocation).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lsh import (
    probe_band_store,
    provision_band_store,
    sql_band_store_probe,
)
from ..operators.stores import store_root
from ..registry import register
from ..sources import load_table
from ..sources.tables import SCHEMAS

N_FILES = 3  # landing files -> micro-batches (maxFilesPerTrigger=1)

# captured executed-plan strings from inside foreachBatch, for the
# Exchange-free history assertion (test-only; reset per invocation)
LAST_BATCH_PLANS: list[str] = []


def _probe_writer(store: str, out_dir: str):
    """foreachBatch body: band the micro-batch, probe the bucketed
    history store, append per-doc verdicts."""

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = probe_band_store(batch_df.sparkSession.table(store), batch_df)
        verdicts.write.mode("append").parquet(out_dir)
        LAST_BATCH_PLANS.append(
            verdicts._jdf.queryExecution().executedPlan().toString()
        )

    return probe


@register(
    "streaming_dedup_incremental",
    oracle=sql_band_store_probe("doc_id % 10 <> 0", "doc_id % 10 = 0"),
)
def streaming_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    store = provision_band_store(spark, sf_dir, d.filter(F.col("doc_id") % 10 != 0))
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(
        store_root(spark), f"streaming_dedup_{sf.replace('.', '_')}"
    )
    landing = os.path.join(root, "landing")
    out_dir = os.path.join(root, "verdicts")
    ckpt = os.path.join(root, "ckpt")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(landing, exist_ok=True)
    LAST_BATCH_PLANS.clear()

    newd = d.filter(F.col("doc_id") % 10 == 0)
    # N_FILES single-file slices -> N_FILES mtime-ordered micro-batches
    for k in range(N_FILES):
        (
            newd.filter(F.expr(f"(doc_id DIV 10) % {N_FILES}") == k)
            .coalesce(1)
            .write.mode("append")
            .parquet(landing)
        )

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = (
        stream.writeStream.foreachBatch(_probe_writer(store, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "doc_id",
        F.col("n_hist_candidates").cast("long").alias("n_hist_candidates"),
        "keep",
    )
