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
the id+slice projection only; argmin is a (vec_id, m) window and the
code pivot is one further narrow aggregate. Distances are exact
per-row double folds (deterministic order), floored to integer micro
units before any cross-row sum — the kmeans inertia policy.

Oracle: DuckDB rebuilds the identical codebook from the same seeds
and replays the same argmin with the same (d2, k) tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table
from .similarity import duck_valid, valid_vecs

M = 4        # subspaces
SUB_D = 16   # dims per subspace (M * SUB_D = 64 = EMB_DIM)
PQ_K = 8     # codewords per subspace

_D2_SPARK = f"""
aggregate(
  transform(sequence(1, {SUB_D}), i ->
    power(cast(element_at(sub, i) as double)
          - cast(element_at(csub, i) as double), 2D)),
  0D, (a, t) -> a + t)
"""

_D2_DUCK = f"""
list_sum(list_transform(generate_series(1, {SUB_D}), i ->
  pow(CAST(s.sub[i] AS DOUBLE) - CAST(c.csub[i] AS DOUBLE), 2)))
"""


@register(
    "emb_pq_encode",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE {duck_valid()}
    ),
    subs AS (
      SELECT vec_id, m.m,
             embedding[m.m*{SUB_D}+1 : m.m*{SUB_D}+{SUB_D}] AS sub
      FROM vecs, (SELECT unnest(generate_series(0, {M - 1})) AS m) m
    ),
    codebook AS (
      SELECT m, vec_id AS k, sub AS csub FROM subs WHERE vec_id < {PQ_K}
    ),
    assign AS (
      SELECT s.vec_id, s.m, c.k, {_D2_DUCK} AS d2,
             row_number() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY {_D2_DUCK}, c.k) AS rn
      FROM subs s JOIN codebook c ON c.m = s.m
    )
    SELECT vec_id,
           MAX(CASE WHEN m = 0 THEN k END) AS code_0,
           MAX(CASE WHEN m = 1 THEN k END) AS code_1,
           MAX(CASE WHEN m = 2 THEN k END) AS code_2,
           MAX(CASE WHEN m = 3 THEN k END) AS code_3,
           CAST(SUM(CAST(floor(d2 * 1000000) AS BIGINT)) AS BIGINT)
             AS err_micro
    FROM assign WHERE rn = 1
    GROUP BY vec_id
    """,
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.expr(f"slice(embedding, {m * SUB_D + 1}, {SUB_D})").alias(
                    "sub"
                ),
            )
            for m in range(M)
        ]
    )
    subs = emb.select("vec_id", F.explode(sub_structs).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )
    codebook = subs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("k"), F.col("sub").alias("csub")
    )
    pairs = subs.join(constant_size(codebook), "m").select(
        "vec_id", "m", "k", F.expr(_D2_SPARK).alias("d2")
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d2", "k")
    best = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return best.groupBy("vec_id").agg(
        F.max(F.when(F.col("m") == 0, F.col("k"))).alias("code_0"),
        F.max(F.when(F.col("m") == 1, F.col("k"))).alias("code_1"),
        F.max(F.when(F.col("m") == 2, F.col("k"))).alias("code_2"),
        F.max(F.when(F.col("m") == 3, F.col("k"))).alias("code_3"),
        F.sum(F.floor(F.col("d2") * 1000000).cast("long"))
        .cast("long")
        .alias("err_micro"),
    )
