"""Connected components over the near-duplicate pair graph + canonical
document selection — the stage an LLM dedup pipeline runs AFTER pair
generation (MinHash/LSH emits pairs; keeping one document per
near-dup *cluster* requires the transitive closure of those pairs,
or chains A~B~C keep two of three docs).

Spark-first shape: iterative min-label propagation. Each iteration is
one join + one aggregate (labels shuffled on the edge key, never the
edge list rebuilt), ``localCheckpoint`` truncates lineage per
iteration, and the loop stops on a converged-count action — the same
iterative-loop discipline as ``graph_iterative.pagerank`` (whose
reference lifecycle note applies here too: the reference engine has
no graph stage; this is north-star surface for the 100 TB dedup
path). Labels are integer doc_ids and the min() lattice is exact, so
the fixpoint is engine-deterministic — the DuckDB oracle computes the
same closure with a recursive CTE and must agree bit-for-bit.

At 100 TB: per-iteration cost is one shuffle of (vertex, label)
pairs; iteration count is the cluster diameter (near-dup clusters are
shallow — a handful of rounds), and the vertex set here is only the
documents that appear in at least one candidate pair, typically a
small fraction of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..operators.lsh import SQL_PAIRS, lsh_candidate_pairs, minhash_signatures
from ..registry import register
from ..sources import load_table

MAX_ITER = 20


def connected_components(edges: DataFrame, vertex_col: str = "v") -> DataFrame:
    """edges(src, dst) -> (v, component) where component is the
    minimum vertex id reachable from v. Undirected: both directions
    are derived here, callers pass each pair once. Min-label
    propagation with per-iteration lineage truncation; converges in
    O(diameter) rounds (bounded by MAX_ITER as a runaway guard)."""
    both = edges.select(F.col("src"), F.col("dst")).union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Pre-partition the STATIC edge list on the join key and cache it:
    # an InMemoryRelation preserves its hash partitioning, so every
    # iteration's join shuffles ONLY the label side (localCheckpoint
    # would lose the partitioning info — it rebuilds a LogicalRDD with
    # unknown distribution — verified via explain: with the cache the
    # edge side of the SortMergeJoin has no Exchange). Width follows
    # the session shuffle setting (cluster-sized), not a constant.
    w = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    both = scoped_persist(both.distinct().repartition(w, "src"))
    both.count()  # materialize the cache before the loop
    labels = (
        both.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("component", F.col("v"))
        .localCheckpoint(eager=True)
    )
    n_changed = 0
    for _ in range(MAX_ITER):
        # neighbor labels: edge (src -> dst) carries src's label to dst
        incoming = (
            both.join(labels, both.src == labels.v)
            .select(F.col("dst").alias("v"), F.col("component").alias("nbr"))
            .groupBy("v")
            .agg(F.min("nbr").alias("nbr_min"))
        )
        updated = (
            labels.join(incoming, "v", "left")
            .select(
                "v",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("nbr_min", F.col("component")) < F.col("component")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = updated.filter(F.col("changed")).count()
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    if n_changed != 0:
        # fail loudly: silently-partial clusters would keep duplicate
        # documents (wrong dedup decisions) with no signal
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITER} "
            f"iterations ({n_changed} labels still changing); the graph "
            "diameter exceeds the bound — raise MAX_ITER for this input"
        )
    return labels.withColumnRenamed("v", vertex_col)


# The full dedup decision, differentially checked: LSH candidate pairs
# -> transitive closure -> per-cluster canonical pick (longest text,
# doc_id tiebreak). The candidate pairs are the shared band geometry
# (operators/lsh.py, the Spark twin is lsh_candidate_pairs). The oracle
# computes the closure with a recursive CTE (min reachable id via label
# walk) — an entirely independent formulation of the same fixpoint;
# ``edges`` is MATERIALIZED so the walk does not re-run the band
# subtree on every step.
@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE
    {SQL_PAIRS},
    edges AS MATERIALIZED (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION SELECT d2, d1 FROM pairs
    ),
    walk(v, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.v
    ),
    comp AS (
      SELECT v AS doc_id, MIN(label) AS component FROM walk GROUP BY v
    ),
    sized AS (
      SELECT c.doc_id, c.component,
             length(d.text) AS text_len,
             COUNT(*) OVER (PARTITION BY c.component) AS n_docs,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY length(d.text) DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT doc_id, component, CAST(n_docs AS BIGINT) AS n_docs,
           rk = 1 AS is_canonical
    FROM sized
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sig = scoped_persist(minhash_signatures(d).filter(F.col("mh0").isNotNull()))
    pairs = (
        lsh_candidate_pairs(sig)
        .select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .distinct()
    )
    comp = connected_components(pairs, vertex_col="doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("component")
    wr = Window.partitionBy("component").orderBy(
        F.desc("text_len"), F.asc("doc_id")
    )
    return (
        comp.join(d.select("doc_id", F.length("text").alias("text_len")), "doc_id")
        .withColumn("n_docs", F.count(F.lit(1)).over(w))
        .withColumn("rk", F.row_number().over(wr))
        .select(
            "doc_id",
            "component",
            "n_docs",
            (F.col("rk") == 1).alias("is_canonical"),
        )
    )
