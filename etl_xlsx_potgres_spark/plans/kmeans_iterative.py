"""Multi-iteration distributed k-means (Lloyd) with exact fixed-point
arithmetic — the iterative-convergence companion to the single
assignment step in ``plans/corpus_ops.emb_kmeans_step`` and the second
iterative algorithm alongside PageRank (``plans/graph_iterative``).

Determinism across engines AND across partitionings:
- seeds are the first K vectors by id (no RNG);
- the centroid rebuild is ``operators.ann.micro_mean`` (the PQ
  codebook update, keyed on ``cid``): member coordinates are floored
  into integer micro-units BEFORE the per-cluster mean, so the
  cross-row reduce is an exact bigint sum (order-independent) and the
  new centroid coordinate ``sum_micro / n / 1e6`` is one exact double
  expression;
- distances to centroids are the shared ``operators.vectors.sq_dist``
  fold (contract stated there);
- assignment ties break on the lower cluster id.

Scale shape per iteration: one broadcast of the constant K x dim
centroid frame, one assignment pass whose per-vector argmin shuffles
one partial-aggregated row per vector, a join of the assignment back
to the embeddings, and one (cluster, dim) partial-agg shuffle of
K*dim rows per map task. The loop lives in the
driver but every iteration's data pass is fully distributed — same
pattern as PageRank, with the iteration bound fixed (not
convergence-tested) so the unrolled SQL oracle is exactly
equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..operators.ann import micro_mean, sql_micro_mean_ctes
from ..operators.rank import nearest, sql_nearest
from ..operators.vectors import EMB_DIM, micro, sq_dist, sql_micro, sql_sq_dist
from ..registry import register
from ..sources import load_table

K = 10
ITERS = 3


def _duck_oracle() -> str:
    """Unrolled {ITERS}-iteration oracle: each block assigns against
    the previous centroids and rebuilds exact-mean centroids."""
    # cb0: seed centroids as double arrays
    parts = [
        f"""
    cb0 AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id < {K} AND embedding IS NOT NULL
    )"""
    ]
    for it in range(1, ITERS + 1):
        src = f"""(SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL) e CROSS JOIN cb{it - 1} s"""
        parts.append(f"""
    a{it} AS (
      {sql_nearest(src, ("e.vec_id", "e.embedding"),
                   sql_sq_dist("e.embedding", "s.cv"), "s.cid", "cid")}
    )""")
        if it < ITERS:
            parts.append(
                "\n    "
                + sql_micro_mean_ctes(it, ("cid",), "embedding", EMB_DIM, "cv")
            )
    body = ",".join(parts)
    return f"""
    WITH {body}
    SELECT cid AS cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM({sql_micro("d2")}) AS BIGINT) AS inertia_micro
    FROM a{ITERS}
    GROUP BY cid
    """


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, d2): each vector's
    :func:`~..operators.ann.nearest` centroid of the broadcast K-row
    centroid frame.  Keyed on ``vec_id`` alone: grouping on the
    embedding array as well (to carry it to the centroid update)
    sorts every candidate row on a normalized 64-float key, which
    measured slower than joining the embeddings back."""
    return nearest(
        emb.crossJoin(constant_size(cents)),
        ("vec_id",),
        sq_dist("embedding", "cv"),
        "cid",
        "cid",
    )


@register("emb_kmeans_iterations", oracle=_duck_oracle())
def emb_kmeans_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{ITERS} Lloyd iterations from deterministic seeds; returns the
    final per-cluster membership and exact micro-unit inertia."""
    # NULL vectors out on both sides (argmin NULL-ordering divergence)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    cents = emb.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("cv"),
    )
    assigned = None
    for it in range(1, ITERS + 1):
        assigned = _assign(emb, cents)
        if it < ITERS:
            # truncate lineage at the K-row centroid frame each
            # iteration (the PageRank idiom): without this the final
            # plan nests every previous iteration's crossJoin+argmin
            # and re-executes it per reuse. coalesce(1): K rows
            # checkpoint as one block, not shuffle-width tasks.
            cents = (
                micro_mean(
                    assigned.join(emb, "vec_id"), ("cid",), "embedding", "cv"
                )
                .coalesce(1)
                .localCheckpoint(eager=True)
            )
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(micro(F.col("d2"))).cast("long").alias("inertia_micro"),
        )
    )
