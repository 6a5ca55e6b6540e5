"""Product quantization (PQ) encode — the industry-standard
embedding compression behind IVF-PQ indexes (Jegou et al. 2011):
split each vector into M subvectors, quantize each against its own
K-codeword codebook, store M small codes instead of D floats. Here
M=4 subspaces x 16 dims with K=8 deterministic seed codewords per
subspace (the first K vectors' slices — the ``emb_kmeans_step``
seeding convention), so a 64-float vector compresses to 4 codes
(32:1 at float32). The query emits each vector's code word per
subspace plus its exact quantization error in micro units — the
reconstruction-accuracy accounting a PQ deployment monitors.

Reference lifecycle note: the reference has no vector surface
(``etl_process.py:1-235``); PQ completes the driver-mandated
similarity stack next to ``emb_scalar_quantize`` (scalar int8) and
the IVF/LSH ANN queries.

Plan shape: the (M*K = 32)-row codebook is a constant-size broadcast
(same contract as the IVF centroids); the subvector explode is x4 on
the id+slice projection only; the encode argmin is
``operators.ann.pq_encode`` and the code pivot is one further narrow
aggregate. Fold and micro-unit contract: ``operators/vectors.py``.

Oracle: DuckDB rebuilds the identical codebook from the same seeds
and replays the same argmin with the same (d2, k) tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann import (
    SQL_SEED_CODEBOOK,
    pq_encode,
    seed_codebook,
    sql_pq_codes,
    sql_vecs_subs,
    subvectors,
)
from ..operators.vectors import micro, valid_vecs
from ..registry import register
from ..sources import load_table


@register(
    "emb_pq_encode",
    oracle=f"""
    WITH {sql_vecs_subs()},
    {SQL_SEED_CODEBOOK},
    assign AS ({sql_pq_codes()})
    SELECT vec_id,
           MAX(CASE WHEN m = 0 THEN k END) AS code_0,
           MAX(CASE WHEN m = 1 THEN k END) AS code_1,
           MAX(CASE WHEN m = 2 THEN k END) AS code_2,
           MAX(CASE WHEN m = 3 THEN k END) AS code_3,
           CAST(SUM(CAST(floor(d2 * 1000000) AS BIGINT)) AS BIGINT)
             AS err_micro
    FROM assign
    GROUP BY vec_id
    """,
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    subs = subvectors(emb)
    codebook = seed_codebook(subs)
    best = pq_encode(subs, codebook)
    return best.groupBy("vec_id").agg(
        F.max(F.when(F.col("m") == 0, F.col("k"))).alias("code_0"),
        F.max(F.when(F.col("m") == 1, F.col("k"))).alias("code_1"),
        F.max(F.when(F.col("m") == 2, F.col("k"))).alias("code_2"),
        F.max(F.when(F.col("m") == 3, F.col("k"))).alias("code_3"),
        F.sum(micro(F.col("d2"))).cast("long").alias("err_micro"),
    )
