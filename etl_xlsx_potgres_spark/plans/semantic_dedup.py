"""Semantic deduplication (SemDeDup, Abbas et al. 2023,
arXiv:2303.09540): k-means-cluster the embedding space, then find
near-duplicate pairs ONLY within each cluster and keep one canonical
representative per duplicate group. This is the scale trick that makes
embedding-level dedup tractable on web-scale corpora: the O(N²)
all-pairs cosine becomes K × O((N/K)²), and K is chosen so each
cluster's pair block fits one task (the paper uses K≈11k on 233M
docs; the mechanism here is identical with the fixture's K=10).

Spark shape (one plan, no iteration):

1. assignment — TWO-LEVEL deterministic argmin (r14, after the 100x
   probe): vectors first pick the nearest of C = ceil(sqrt(K)) coarse
   centroids, then the nearest fine centroid WITHIN that coarse cell
   (fine centroids are pre-assigned to coarse cells by the same
   argmin). The r13 flat scheme evaluated N×K distances AND — worse —
   shuffled the N×K crossJoin through a per-vector window; with K∝N
   (the SemDeDup knob) that is quadratic, measured at 146x wall for
   100x data. Two-level cuts distance evals to N×(C + K/C) ≈ 2N*sqrt(K)
   and each argmin is a map-side-partial `min(struct(d2, id))` — the
   only shuffle carries ONE row per vector, and the second argmin
   reuses the first's (vec_id, embedding) partitioning with no new
   Exchange. Probe at 100x data / K=1000: 261.7 s -> see PLANS.md
   for the re-measured number. This matches the paper's own use of
   approximate assignment at scale; membership can differ from flat
   argmin (a vector near a coarse-cell boundary may land in a
   neighboring fine cluster), and the oracle mirrors the SAME
   two-level rule, so the check stays bit-exact.
2. within-cluster pairs — self-equi-join on ``cluster_id`` (shuffle
   keyed on cluster_id; balanced by the K choice, never all-pairs),
   cosine over the shared ``operators.vectors`` folds (fold contract
   there; ``dedup_fuzzy.dedup_embedding_neardup`` has the codegen
   history);
3. keep-rule — deterministic keep-lowest-vec_id: a vector is removed
   iff a smaller-id vector in its cluster is within the similarity
   threshold (the paper keeps a random/centroid-nearest member per
   group; a pinned total order makes the same reduction
   oracle-checkable);
4. per-cluster reconciliation — members / duplicate pairs / removed /
   kept, sizes left-joined with pair stats so empty clusters keep
   zeros.

TAU = 0.3 is fixture-calibrated (synthetic embeddings are near-
orthogonal: removal is non-trivial but not degenerate); a production
corpus uses the paper's 0.9+ on real semantic neighbors.

100 TB note on the persist: the assignment frame is corpus-sized and
is needed by three consumers (two join sides + sizes), so ONE
materialization is inherent to the algorithm, not an optimization
choice — without it the argmin recomputes per consumer (measured 3x
on the cold plan). ``scoped_persist`` uses MEMORY_AND_DISK (spills,
never OOMs); at full scale the same role is played by writing the
assignment to a staging table, which also makes the per-cluster pair
stage restartable.

Reference lifecycle note: the reference dedups on exact key equality
only (``etl_process.py:213``); this is the semantic-space
generalization the LLM-pipeline mandate adds.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from ..operators.ann import KMEANS_K
from ..operators.rank import nearest, sql_nearest
from ..operators.vectors import (
    dot,
    duck_valid,
    norm_flat,
    sq_dist,
    sql_cosine,
    sql_sq_dist,
    valid_vecs,
)
from ..registry import register
from ..sources import load_table

TAU = 0.3
_C = math.isqrt(KMEANS_K - 1) + 1  # ceil(sqrt(K)); fixture: 4


@register(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE {duck_valid()}
    ),
    seeds AS (
      SELECT vec_id AS seed_id, embedding AS sv FROM vecs
      WHERE vec_id < {KMEANS_K}
    ),
    coarse AS (
      SELECT vec_id AS c_id, embedding AS cv FROM vecs
      WHERE vec_id < {_C}
    ),
    s2c AS (
      {sql_nearest("seeds s CROSS JOIN coarse c", ("s.seed_id", "s.sv"),
                   sql_sq_dist("s.sv", "c.cv"), "c.c_id", "c_id")}
    ),
    v2c AS (
      {sql_nearest("vecs e CROSS JOIN coarse c", ("e.vec_id", "e.embedding"),
                   sql_sq_dist("e.embedding", "c.cv"), "c.c_id", "c_id")}
    ),
    best AS (
      {sql_nearest("v2c v JOIN s2c s ON s.c_id = v.c_id",
                   ("v.vec_id", "v.embedding"),
                   sql_sq_dist("v.embedding", "s.sv"), "s.seed_id",
                   "cluster_id")}
    ),
    pairs AS (
      SELECT a.cluster_id, b.vec_id AS v2
      FROM best a JOIN best b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE {sql_cosine("a.embedding", "b.embedding")} >= {TAU}
    ),
    rem AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
             CAST(COUNT(DISTINCT v2) AS BIGINT) AS n_removed
      FROM pairs GROUP BY cluster_id
    ),
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM best GROUP BY cluster_id
    )
    SELECT s.cluster_id, s.n_members,
           CAST(COALESCE(r.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(s.n_members - COALESCE(r.n_removed, 0) AS BIGINT) AS n_kept
    FROM sizes s LEFT JOIN rem r ON s.cluster_id = r.cluster_id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_coarse = math.isqrt(KMEANS_K - 1) + 1  # from module global: the
    # scale probes patch KMEANS_K, and C must track it (C ∝ sqrt(K))
    # ``emb`` feeds THREE consumers (seeds, coarse, and the v2c
    # crossJoin); persist the validated frame once so the
    # broadcast-bound seeds/coarse branches read it back instead of
    # rescanning and re-validating the table. 16 bytes x dim per row —
    # bounded; at 100 TB this is the assignment-staging checkpoint the
    # module docstring already mandates.
    emb = scoped_persist(valid_vecs(load_table(spark, sf_dir, "embeddings")))
    seeds = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("sv")
    )
    coarse = emb.filter(F.col("vec_id") < n_coarse).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")
    )

    # fine centroid -> coarse cell (K x C rows, constant-size)
    s2c = nearest(
        seeds.crossJoin(constant_size(coarse)),
        ("seed_id", "sv"),
        sq_dist("sv", "cv"),
        "c_id",
        "c_id",
    )
    # vector -> coarse cell: N x C distance evals, ONE N-row shuffle
    v2c = nearest(
        emb.crossJoin(constant_size(coarse)),
        ("vec_id", "embedding"),
        sq_dist("embedding", "cv"),
        "c_id",
        "c_id",
    )
    # vector -> fine centroid within its cell: ~N x K/C evals; the
    # groupBy reuses v2c's (vec_id, embedding) partitioning — no new
    # Exchange (pinned in tests/test_shuffle_budget.py)
    assign = nearest(
        v2c.join(constant_size(s2c), "c_id"),
        ("vec_id", "embedding"),
        sq_dist("embedding", "sv"),
        "seed_id",
        "cluster_id",
    )

    # materialize the assignment ONCE: the self-join's attribute
    # dedup makes the a/b subtrees non-identical, so without a
    # persist the assignment recomputes three times (both join
    # sides + the sizes aggregate — measured on the cold plan);
    # released by the harness via caching.release_persisted()
    best = scoped_persist(
        assign.select(
            "vec_id",
            "embedding",
            norm_flat("embedding").alias("nrm"),
            "cluster_id",
        ).repartition("cluster_id")
    )
    a = best.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        "cluster_id",
    )
    b = best.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        "cluster_id",
    )
    dup_pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("v1") < F.col("v2"))
        .filter((dot("ea", "eb") / (F.col("na") * F.col("nb"))) >= TAU)
        .select("cluster_id", "v2")
    )
    rem = dup_pairs.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("v2").alias("n_removed"),
    )
    sizes = best.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        sizes.join(rem, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            (
                F.col("n_members") - F.coalesce("n_removed", F.lit(0))
            ).cast("long").alias("n_kept"),
        )
    )
