"""IVF-PQ search — the composition the two existing rungs were built
for (Jegou et al. 2011 §IV): a coarse inverted file prunes the corpus
to the probed cells' lists, and only THOSE vectors' PQ codes are
ADC-scanned against the query's lookup table, followed by the same
exact re-rank.  ``ann_ivf_topk`` (coarse lists) and ``ann_pq_trained``
(Lloyd-trained codebooks + ADC) each exist standalone; this query
wires them into the production 100-TB path: at a billion vectors the
ADC scan itself is too large, and list pruning divides it by
``N_CELLS / N_PROBE`` before a single table lookup happens.

Plan shape (every stage bounded):
- coarse cells: ``N_CELLS`` md5-picked centroids — constant-size
  broadcast (``operators.ann.coarse_cells``, the ``ann_ivf_topk``
  seeding convention);
- candidates (``operators.ann.coarse_candidates``): one broadcast join
  corpus x cells with a map-side ``min(struct(d2_micro, cid))``
  argmin, and the NQ x N_PROBE probe set broadcast back — the ONLY
  corpus-scale rows that continue; their count ships per query as
  ``n_candidates`` (hash-checked DATA proving the scan was pruned);
- ADC: ``operators.ann.adc_rerank(candidates=...)`` joins codes to
  candidates BEFORE the LUT lookup — the list filter sits below the
  LUT join in the physical plan (asserted in
  ``tests/test_ivfpq_search.py``) — then re-ranks the shortlist with
  exact distances and attaches the global-exact-top-k hit counts.

Fold, micro-unit and tie-break contract: ``operators/ann.py``.  Recall
accounting: hit counts ship as data, not a verdict — list pruning can
only LOWER recall vs the unpruned ADC path (a true neighbor in an
unprobed cell is invisible), which is the measured trade a deployment
tunes with ``N_PROBE``.

Reference lifecycle note: the reference has no vector surface
(``etl_process.py:1-235``); this completes the similarity stack's
production composition (encode -> train -> coarse lists -> pruned
ADC search).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from ..operators.ann import (
    N_PROBE,
    adc_rerank,
    coarse_candidates,
    coarse_cells,
    sql_adc,
    sql_coarse_candidates,
    sql_pq_ctes,
    sql_rerank_ctes,
    sql_trained_codebook_ctes,
    sql_vecs_subs,
    subvectors,
    train_codebook,
)
from ..operators.vectors import valid_vecs
from ..registry import register
from ..sources import load_table

_ORACLE = f"""WITH {sql_vecs_subs()},
{sql_trained_codebook_ctes()},
{sql_coarse_candidates(N_PROBE)},
{sql_pq_ctes()},
adc AS (
  {sql_adc("cand")}
),
{sql_rerank_ctes()},
counts AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand GROUP BY 1
)
SELECT r.qid, r.vec_id, r.adc_micro, r.d2_micro, h.n_hits_exact,
       c.n_candidates
FROM rerank r
JOIN hits h ON h.qid = r.qid
JOIN counts c ON c.qid = r.qid"""


@register("ann_ivfpq_search", oracle=_ORACLE)
def ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted: emb feeds the subvector split, the cell seeds, the
    # corpus assignment and the probe side — unpersisted, each branch
    # rescans and re-validates the table.
    emb = scoped_persist(valid_vecs(load_table(spark, sf_dir, "embeddings")))
    subs = subvectors(emb)
    # two consumers (the pruned ADC scan + the n_candidates rollup)
    # would otherwise run the cells crossJoin + argmin twice
    cand = scoped_persist(
        coarse_candidates(emb, coarse_cells(emb), N_PROBE).select("qid", "vec_id")
    )
    counts = cand.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    searched = adc_rerank(emb, subs, train_codebook(subs), candidates=cand)
    return searched.join(constant_size(counts), "qid").select(
        "qid", "vec_id", "adc_micro", "d2_micro", "n_hits_exact",
        "n_candidates",
    )
