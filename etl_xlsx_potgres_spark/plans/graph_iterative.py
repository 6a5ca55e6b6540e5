"""Iterative algorithm template: PageRank over the customer-supplier
bipartite trade graph (edges = distinct (custkey, suppkey) pairs that
traded, both directions).

Shows the engine's iterative-loop discipline:
- each iteration is a join + aggregate (one shuffle);
- ``localCheckpoint`` truncates lineage every iteration — without it
  the plan doubles per iteration and the 10th iteration replans 2^10
  joins;
- dangling mass and the damping term keep the distribution a proper
  probability vector.

The registered query runs the FIXED-POINT variant: ranks are scaled
integers (1e12 = total mass), per-edge contributions use integer
division, and the damping step is ``(contrib * 85) div 100`` — every
operation is exact on both engines, so the whole 8-iteration program
is oracle-checked against an unrolled-CTE DuckDB twin. (Float
PageRank's per-iteration ``SUM(double)`` is partition-order
dependent — not reproducible across engines OR across retries of a
100 TB job; fixed-point is the production posture, same as the money
sums in registry.py.) The float variant stays for the invariant tests
(mass conservation, repartition determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import broadcast_if_fits
from ..registry import register
from ..sources import load_table

DAMPING = 0.85
N_ITER = 8


def _vector_width(n_rows: int) -> int:
    """Partition width for the |V|-row vectors: 8 covers every sandbox
    SF; grows ~1 partition per million vertices so a billion-vertex
    graph checkpoints across the cluster, not through 8 tasks."""
    return max(8, n_rows // 1_000_000)


def pagerank(edges: DataFrame, n_iter: int = N_ITER, damping: float = DAMPING) -> DataFrame:
    """edges(src, dst) -> (vertex, rank). Undirected treatment: caller
    supplies both directions."""
    vertices = scoped_persist(
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst")))
        .distinct()
        .coalesce(8)
    )
    n = vertices.count()
    w = _vector_width(n)
    # conservative estimate of the |V|-row (vertex BIGINT, rank DOUBLE)
    # vectors in BroadcastHashJoin's hashed relation; Catalyst has no
    # size estimate for the checkpointed rank vector
    vec_bytes = n * 48
    # size the cached edge partitioning to the data, not to the shuffle
    # width of whatever produced it (a union of two 200-partition
    # shuffles yields 400 near-empty partitions whose per-iteration
    # task-scheduling overhead dwarfs the compute)
    edges = scoped_persist(edges.repartition(w))
    out_deg = scoped_persist(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).coalesce(w))
    ranks = vertices.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        # while the rank/degree vectors fit under the broadcast
        # threshold, hint them into the edge scan so each iteration
        # shuffles only the per-dst partial sums, never the edge list
        contribs = (
            edges.join(broadcast_if_fits(ranks, vec_bytes), edges.src == ranks.vertex)
            .join(broadcast_if_fits(out_deg, vec_bytes), "src")
            .select(F.col("dst").alias("vertex"), (F.col("rank") / F.col("deg")).alias("c"))
            # pre-partition at the width the rank vector needs; the
            # groupBy reuses it instead of the session-wide shuffle width
            .repartition(w, "vertex")
            .groupBy("vertex")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            vertices.join(contribs, "vertex", "left")
            .select(
                "vertex",
                ((1 - damping) / n + damping * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
            )
            # coalesce: checkpointing the rank vector at the session's
            # full shuffle width (e.g. 200 partitions at sandbox SF)
            # costs far more than the compute
            .coalesce(w)
            # truncate lineage: keeps iteration k's plan O(1), not O(2^k)
            .localCheckpoint(eager=True)
        )
    return ranks


SCALE = 10**12
DAMP_NUM, DAMP_DEN = 85, 100


def pagerank_fixed(edges: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """edges(src, dst) -> (vertex, rank_fp BIGINT): PageRank on a
    1e12 fixed-point mass — every step integer-exact, hence
    bit-reproducible across engines, partitionings, and retries."""
    vertices = scoped_persist(
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst")))
        .distinct()
        .coalesce(8)
    )
    n = vertices.count()
    w = _vector_width(n)
    vec_bytes = n * 48
    base = (SCALE * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * n)
    edges = scoped_persist(edges.repartition(w))
    out_deg = scoped_persist(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).coalesce(w))
    ranks = vertices.withColumn("rank_fp", F.lit(SCALE // n).cast("long"))
    for _ in range(n_iter):
        contribs = (
            edges.join(broadcast_if_fits(ranks, vec_bytes), edges.src == ranks.vertex)
            .join(broadcast_if_fits(out_deg, vec_bytes), "src")
            .select(
                F.col("dst").alias("vertex"),
                F.expr("rank_fp div deg").alias("c"),
            )
            .repartition(w, "vertex")
            .groupBy("vertex")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            vertices.join(contribs, "vertex", "left")
            .select(
                "vertex",
                F.expr(
                    f"CAST({base} + (coalesce(contrib, 0L) * {DAMP_NUM})"
                    f" div {DAMP_DEN} AS BIGINT)"
                ).alias("rank_fp"),
            )
            .coalesce(w)
            .localCheckpoint(eager=True)
        )
    return ranks


def _pagerank_oracle(n_iter: int = N_ITER) -> str:
    base_sql = (
        f"((1000000000000 * {DAMP_DEN - DAMP_NUM})"
        f" // ({DAMP_DEN} * (SELECT n FROM nn)))"
    )
    ctes = [
        """
    pairs AS (
      SELECT DISTINCT o_custkey AS c, -l_suppkey - 1 AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    verts AS (SELECT DISTINCT src AS vertex FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM verts),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT vertex,
                  CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS rank_fp
           FROM verts)"""
    ]
    for k in range(n_iter):
        ctes.append(f"""
    r{k + 1} AS (
      SELECT v.vertex,
             CAST({base_sql}
                  + (COALESCE(s.contrib, 0) * {DAMP_NUM}) // {DAMP_DEN}
                  AS BIGINT) AS rank_fp
      FROM verts v LEFT JOIN (
        SELECT e.dst AS vertex,
               CAST(SUM(r.rank_fp // d.deg) AS BIGINT) AS contrib
        FROM edges e
        JOIN r{k} r ON r.vertex = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst) s USING (vertex))""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
    SELECT vertex, rank_fp FROM r{n_iter}
    ORDER BY rank_fp DESC, vertex LIMIT 20
    """
    )


@register("graph_pagerank_trade", oracle=_pagerank_oracle())
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # customer -c- supplier edges via orders->lineitem; suppliers get
    # negative ids to keep the two vertex domains disjoint
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), (-F.col("l_suppkey") - 1).alias("s"))
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank_fixed(edges)
    return ranks.orderBy(F.desc("rank_fp"), "vertex").limit(20)
