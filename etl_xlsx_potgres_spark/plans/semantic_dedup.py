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
   cosine via the left-assoc zip_with/aggregate HOF fold that is
   bit-identical to DuckDB's ``list_sum`` (see
   ``dedup_fuzzy.dedup_embedding_neardup`` for the codegen history);
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

from ..registry import register
from ..sources import load_table
from .corpus_ops import EMB_DIM, KMEANS_K

TAU = 0.3
_C = math.isqrt(KMEANS_K - 1) + 1  # ceil(sqrt(K)); fixture: 4

# the family's shared zero-norm/NULL guard (plans/similarity.py r19):
# a zero-norm member would make every within-cluster cosine NaN and
# the keep-rule engine-divergent
from .similarity import duck_valid as _duck_valid_fn
from .similarity import valid_vecs as _valid_vecs

_DUCK_VALID = _duck_valid_fn()


def _d2_spark(vec: str, seed: str) -> str:
    """Squared L2, the ``corpus_ops._D2_SPARK`` arithmetic with
    parameterized operands (two-level assignment needs it against
    three different column pairs)."""
    return f"""
    aggregate(
      transform(sequence(1, {EMB_DIM}), i ->
        power(cast(element_at({vec}, i) as double)
              - cast(element_at({seed}, i) as double), 2D)),
      0D, (a, t) -> a + t)
    """


def _d2_duck(vec: str, seed: str) -> str:
    return f"""
    list_sum(list_transform(generate_series(1, {EMB_DIM}), i ->
      pow(CAST({vec}[i] AS DOUBLE) - CAST({seed}[i] AS DOUBLE), 2)))
    """


_COS_DUCK = """
list_sum(list_transform(list_zip(a.embedding, b.embedding),
         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(a.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(b.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


@register(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE {_DUCK_VALID}
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
      SELECT seed_id, sv, c_id FROM (
        SELECT s.seed_id, s.sv, c.c_id,
               row_number() OVER (PARTITION BY s.seed_id
                 ORDER BY {_d2_duck("s.sv", "c.cv")}, c.c_id) AS rn
        FROM seeds s CROSS JOIN coarse c
      ) WHERE rn = 1
    ),
    v2c AS (
      SELECT vec_id, embedding, c_id FROM (
        SELECT e.vec_id, e.embedding, c.c_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_d2_duck("e.embedding", "c.cv")}, c.c_id) AS rn
        FROM vecs e CROSS JOIN coarse c
      ) WHERE rn = 1
    ),
    best AS (
      SELECT vec_id, embedding, seed_id AS cluster_id FROM (
        SELECT v.vec_id, v.embedding, s.seed_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_d2_duck("v.embedding", "s.sv")}, s.seed_id) AS rn
        FROM v2c v JOIN s2c s ON s.c_id = v.c_id
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.cluster_id, b.vec_id AS v2
      FROM best a JOIN best b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE {_COS_DUCK} >= {TAU}
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
    from .similarity import norm_flat

    from ..caching import scoped_persist as _sp

    n_coarse = math.isqrt(KMEANS_K - 1) + 1  # from module global: the
    # scale probes patch KMEANS_K, and C must track it (C ∝ sqrt(K))
    # ``emb`` feeds THREE consumers (seeds, coarse, and the v2c
    # crossJoin); persist the validated frame once so the
    # broadcast-bound seeds/coarse branches read it back instead of
    # rescanning and re-validating the table. 16 bytes x dim per row —
    # bounded; at 100 TB this is the assignment-staging checkpoint the
    # module docstring already mandates.
    emb = _sp(_valid_vecs(load_table(spark, sf_dir, "embeddings")))
    seeds = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("sv")
    )
    coarse = emb.filter(F.col("vec_id") < n_coarse).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")
    )

    def argmin(df: DataFrame, keys: list[str], d2: str, id_col: str,
               out: str) -> DataFrame:
        """Deterministic nearest-centroid via map-side-partial
        min(struct(d2, id)) — lexicographic struct min is exactly
        ORDER BY d2, id (the window formulation would shuffle the
        whole candidate crossJoin; this shuffles one row per key)."""
        m = F.min(
            F.struct(F.expr(d2).alias("d"), F.col(id_col).alias("i"))
        ).alias("m")
        return df.groupBy(*keys).agg(m).select(
            *keys, F.col("m.i").alias(out)
        )

    # fine centroid -> coarse cell (K x C rows, constant-size)
    s2c = argmin(
        seeds.crossJoin(F.broadcast(coarse)),
        ["seed_id", "sv"],
        _d2_spark("sv", "cv"),
        "c_id",
        "c_id",
    )
    # vector -> coarse cell: N x C distance evals, ONE N-row shuffle
    v2c = argmin(
        emb.crossJoin(F.broadcast(coarse)),
        ["vec_id", "embedding"],
        _d2_spark("embedding", "cv"),
        "c_id",
        "c_id",
    )
    # vector -> fine centroid within its cell: ~N x K/C evals; the
    # groupBy reuses v2c's (vec_id, embedding) partitioning — no new
    # Exchange (pinned in tests/test_shuffle_budget.py)
    assign = argmin(
        v2c.join(F.broadcast(s2c), "c_id"),
        ["vec_id", "embedding"],
        _d2_spark("embedding", "sv"),
        "seed_id",
        "cluster_id",
    )

    # materialize the assignment ONCE: the self-join's attribute
    # dedup makes the a/b subtrees non-identical, so without a
    # persist the assignment recomputes three times (both join
    # sides + the sizes aggregate — measured on the cold plan);
    # released by the harness via caching.release_persisted()
    from ..caching import scoped_persist

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
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    dup_pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("v1") < F.col("v2"))
        .filter((dot / (F.col("na") * F.col("nb"))) >= TAU)
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
