"""Vector aggregation: per-label centroids over the embedding column
— the reduce step behind k-means/IVF codebook training, class
prototypes, and drift monitoring on an embedding store.

Scale shape: ``posexplode`` to long form (label, dim, value) and ONE
partial-aggregating shuffle on (label, dim) — never a per-label
``collect_list`` of vectors (that materializes whole groups on single
tasks). The long form is also what keeps the sum exact: each
dimension's mean is a fixed-point decimal sum / count (the engine's
money-sum policy applied to f32 payloads, scale 7 since components
are O(1)), so the resulting doubles are bit-identical to the DuckDB
``UNNEST WITH ORDINALITY`` oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import fixed, sql_fixed
from ..registry import register
from ..sources import load_table

_SCALE = 7


@register(
    "emb_label_centroids",
    # (UNNEST WITH ORDINALITY is unavailable in this DuckDB build —
    # a 1-based subscript over generate_series is the portable form)
    oracle=f"""
    SELECT label, CAST(d - 1 AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM({sql_fixed("CAST(embedding[d] AS DOUBLE)", _SCALE)}) AS DOUBLE)
             / {10**_SCALE} / COUNT(*) AS centroid
    FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS d) dims
    WHERE d <= len(embedding)
    GROUP BY label, dim
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    long = e.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    n = F.count(F.lit(1))
    return long.groupBy("label", "dim").agg(
        n.alias("n_vectors"),
        (F.sum(fixed("val", _SCALE)).cast("double") / (10**_SCALE) / n).alias(
            "centroid"
        ),
    )
