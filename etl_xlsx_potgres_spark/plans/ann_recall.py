"""ANN recall@k evaluation IN the engine — the acceptance metric every
approximate-nearest-neighbor deployment is judged by (recall@k against
exact brute-force ground truth; the standard ann-benchmarks protocol).
``tools/pq_recall_probe.py`` measured this offline for the PQ family;
this promotes the metric to a first-class, oracle-checked query over
the IVF searcher: both the exact top-k (``ann_cosine_topk``'s kernel)
and the IVF probe-then-rerank top-k (``ann_ivf_topk``'s kernel, both
in ``operators/ann.py``) run in one job, and each query's recall is the exact overlap of the two
k-sets.

Why in-engine: at production scale the ground-truth pass is the
expensive part (O(Q x N) scored pairs) — running it as a distributed
query over a HELD-OUT query sample (here: the ``N_QUERIES`` fixture
convention) is exactly how a 100 TB vector store validates its index
nightly.  The candidate generation reuses the registered queries'
kernels verbatim — same cells, same probes, same tiebreaks — so a regression
in the IVF path shows up as a recall drop here, not just as a silent
result change.

Determinism: both k-sets are rank-truncated with the (cosine DESC,
vec_id) total-order tiebreak the ANN family already pins; the overlap
count is exact bigint and recall is one exact division — bit-identical
on both engines at any partitioning.

Plan shape: the two searches share the embeddings scan; the overlap is
an equi-join on (qid, vec_id) between two k*Q-row frames (tiny at any
SF — k and Q are constants), then a Q-row rollup.  Costs are dominated
by the underlying searches; the eval adds no corpus-scale shuffle.

Reference lifecycle note: the reference (etl_process.py:1-235) has no
vector surface; this is north-star index-validation machinery for the
similarity family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann import TOP_K, cosine_topk, ivf_topk, sql_cosine_topk, sql_ivf_topk
from ..operators.vectors import valid_vecs
from ..registry import register
from ..sources import load_table


@register(
    "ann_recall_eval",
    oracle=f"""
    WITH exact_k AS ({sql_cosine_topk()}),
    ivf_k AS ({sql_ivf_topk()}),
    qids AS (SELECT DISTINCT qid FROM exact_k),
    hits AS (
      SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM exact_k e JOIN ivf_k i
        ON e.qid = i.qid AND e.vec_id = i.vec_id
      GROUP BY e.qid
    )
    SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM qids q LEFT JOIN hits h ON q.qid = h.qid
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    exact_k = cosine_topk(emb).select("qid", "vec_id")
    ivf_k = ivf_topk(emb).select("qid", "vec_id")
    hits = (
        exact_k.join(ivf_k, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = exact_k.select("qid").distinct()
    return qids.join(hits, "qid", "left").select(
        "qid",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)).cast("double") / TOP_K).alias(
            "recall_at_k"
        ),
    )
