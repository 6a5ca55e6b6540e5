"""Incremental (cross-run) dedup — the production shape the batch
dedup queries don't cover: each new ingest batch must be checked
against the ENTIRE corpus already accepted, without re-shuffling
history.

Design (the bucketed-signature-store pattern):

1. History's MinHash LSH band keys (``operators/lsh.py``: 4 bands x
   2 rows over the 8-hash signature, fused into one single-column key
   ``band = md5(band_id || ':' || band_key)``, ``fused_bands``) are
   written ONCE as a parquet table ``bucketBy(N, band)`` +
   ``sortBy(band)`` — the shuffle on history is paid at write time
   and amortized over every future batch (the
   ``plans/bucketed_join.py`` layout-as-operator move applied to
   dedup state; the store lifecycle is ``operators/stores.py``).
2. A new batch computes its own band keys (map-only after one
   signature shuffle) and probes the store: Spark shuffles ONLY the
   batch side into the store's bucketing; the history scan has no
   Exchange (asserted in ``tests/test_dedup_incremental.py``). At
   100 TB of history and a 0.1% daily batch this is the difference
   between re-shuffling 100 TB per run and shuffling ~100 GB.
3. Emit per new-batch document the number of distinct historical
   near-dup candidates and the keep/drop verdict; accepted docs'
   signatures would then be APPENDED to the store (parquet bucketed
   tables append per-bucket files without rewriting history).

Fixture split: history = ``doc_id % 10 != 0``, new batch =
``doc_id % 10 = 0`` — a deterministic 90/10 split both engines
reproduce. Documents too short to sign (< 3 tokens, NULL signature)
cannot collide and are kept, matching the oracle's left join.

The DuckDB oracle recomputes the same bands on both sides and
counts distinct history matches per new doc — any bucket-routing
bug (a band key hashed to the wrong bucket drops its collisions)
flips the counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lsh import (
    probe_band_store,
    provision_band_store,
    sql_band_store_probe,
)
from ..registry import register
from ..sources import load_table


def _provision_store(spark: SparkSession, sf_dir: str) -> str:
    """The history band store (built once per session; later consumers
    reuse it via the provision cache, the serve-side posture)."""
    d = load_table(spark, sf_dir, "documents")
    return provision_band_store(spark, sf_dir, d.filter(F.col("doc_id") % 10 != 0))


@register(
    "dedup_incremental_newbatch",
    oracle=sql_band_store_probe("doc_id % 10 <> 0", "doc_id % 10 = 0"),
)
def dedup_incremental_newbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _provision_store(spark, sf_dir)
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return probe_band_store(spark.table(store), newd)
