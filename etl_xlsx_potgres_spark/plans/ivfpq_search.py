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
- coarse cells: ``N_CELLS`` hash-picked centroids — constant-size
  broadcast (the ``ann_ivf_topk`` seeding convention);
- list assignment: one broadcast join corpus x cells, argmin as
  ``min(struct(d2_micro, cid))`` — map-side partial aggregation, no
  window shuffle (the r14 argmin idiom);
- probes: NQ x N_CELLS rows -> NQ x N_PROBE — constant, broadcast;
- candidates: assign join broadcast(probes) on cid — the ONLY
  corpus-scale rows that continue; their count ships per query as
  ``n_candidates`` (hash-checked DATA proving the scan was pruned);
- ADC: ``pq_search._adc_rerank(candidates=...)`` joins codes to
  candidates BEFORE the LUT lookup — the list filter sits below the
  LUT join in the physical plan (asserted in
  ``tests/test_ivfpq_search.py``) — then re-ranks the shortlist with
  exact distances and attaches the global-exact-top-k hit counts.

All rank decisions are integer micro-units with (distance, id)
tie-breaks; the coarse assignment floors the full-vector L2 to
micro BEFORE comparison, so the pair is bit-identical on both
engines at any partitioning.  Recall accounting: hit counts ship as
data, not a verdict — list pruning can only LOWER recall vs the
unpruned ADC path (a true neighbor in an unprobed cell is invisible),
which is the measured trade a deployment tunes with ``N_PROBE``.

Reference lifecycle note: the reference has no vector surface
(``etl_process.py:1-235``); this completes the similarity stack's
production composition (encode -> train -> coarse lists -> pruned
ADC search).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..registry import register
from ..sources import load_table
from .product_quantization import _D2_DUCK, PQ_K
from .pq_search import (
    NQ,
    SHORTLIST,
    TOP_K,
    _EXACT_DUCK,
    _VECS_SUBS,
    _adc_rerank,
    _subvectors,
)
from .pq_trained import _train, _trained_codebook_ctes
from .similarity import valid_vecs

N_CELLS = 16
N_PROBE = 4
EMB_DIM = 64


def _coarse_d2_duck(a: str, b: str) -> str:
    """Full-vector L2 in integer micro-units (floored BEFORE any
    comparison — the kmeans inertia policy)."""
    return (
        f"CAST(floor(list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        f" i -> pow(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE), 2)))"
        f" * 1000000) AS BIGINT)"
    )


def _coarse_d2_spark(a: str, b: str) -> str:
    return (
        f"CAST(floor(aggregate(transform(sequence(1, {EMB_DIM}), i ->"
        f" power(cast(element_at({a}, i) as double)"
        f" - cast(element_at({b}, i) as double), 2D)),"
        f" 0D, (acc, t) -> acc + t) * 1000000) AS BIGINT)"
    )


_IVF_TAIL = f"""\
cells AS (
  SELECT vec_id AS cid, embedding AS cv FROM vecs
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CELLS}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_coarse_d2_duck("v.embedding", "c.cv")}, c.cid) AS arn
    FROM vecs v CROSS JOIN cells c) WHERE arn = 1
),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.vec_id AS qid, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_coarse_d2_duck("q.embedding", "c.cv")}, c.cid) AS prn
    FROM vecs q CROSS JOIN cells c WHERE q.vec_id < {NQ}) WHERE prn <= {N_PROBE}
),
cand AS (
  SELECT p.qid, a.vec_id FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.qid
),
codes AS (
  SELECT vec_id, m, k FROM (
    SELECT s.vec_id, s.m, c.k,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_D2_DUCK}, c.k) AS rn
    FROM subs s JOIN codebook c ON c.m = s.m) WHERE rn = 1
),
lut AS (
  SELECT s.vec_id AS qid, s.m, c.k,
         CAST(floor({_D2_DUCK} * 1000000) AS BIGINT) AS lut_micro
  FROM subs s JOIN codebook c ON c.m = s.m
  WHERE s.vec_id < {NQ}
),
adc AS (
  SELECT cd.qid, cd.vec_id, CAST(SUM(l.lut_micro) AS BIGINT) AS adc_micro
  FROM (SELECT c2.qid, d.vec_id, d.m, d.k
        FROM codes d JOIN cand c2 ON c2.vec_id = d.vec_id) cd
  JOIN lut l ON l.qid = cd.qid AND l.m = cd.m AND l.k = cd.k
  GROUP BY 1, 2
),
shortlist AS (
  SELECT qid, vec_id, adc_micro FROM (
    SELECT qid, vec_id, adc_micro,
           row_number() OVER (PARTITION BY qid
                              ORDER BY adc_micro, vec_id) AS rn
    FROM adc) WHERE rn <= {SHORTLIST}
),
exact AS (
  SELECT q.vec_id AS qid, v.vec_id,
         CAST(floor({_EXACT_DUCK} * 1000000) AS BIGINT) AS d2_micro
  FROM vecs q JOIN vecs v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {NQ}
),
rerank AS (
  SELECT qid, vec_id, adc_micro, d2_micro FROM (
    SELECT s.qid, s.vec_id, s.adc_micro, e.d2_micro,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY e.d2_micro, s.vec_id) AS rn
    FROM shortlist s
    JOIN exact e ON e.qid = s.qid AND e.vec_id = s.vec_id)
  WHERE rn <= {TOP_K}
),
exact_top AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY d2_micro, vec_id) AS rn
    FROM exact) WHERE rn <= {TOP_K}
),
hits AS (
  SELECT r.qid,
         CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits_exact
  FROM rerank r
  LEFT JOIN exact_top e ON e.qid = r.qid AND e.vec_id = r.vec_id
  GROUP BY 1
),
counts AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand GROUP BY 1
)
SELECT r.qid, r.vec_id, r.adc_micro, r.d2_micro, h.n_hits_exact,
       c.n_candidates
FROM rerank r
JOIN hits h ON h.qid = r.qid
JOIN counts c ON c.qid = r.qid"""

_ORACLE = f"WITH {_VECS_SUBS}, {_trained_codebook_ctes()}, {_IVF_TAIL}"


def _cells(emb: DataFrame) -> DataFrame:
    return (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )


def _candidates(emb: DataFrame, cells: DataFrame) -> DataFrame:
    """(qid, vec_id) pairs surviving list pruning: every corpus
    vector in one of the query's N_PROBE nearest cells."""
    d2 = F.expr(_coarse_d2_spark("embedding", "cv"))
    # corpus-side assignment: broadcast cells, min(struct) argmin —
    # map-side partials, one shuffle on vec_id
    assign = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cells))
        .select("vec_id", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("mc"))
        .select("vec_id", F.col("mc.cid").alias("cid"))
    )
    pw = Window.partitionBy("qid").orderBy("d2", "cid")
    probes = (
        emb.filter(F.col("vec_id") < NQ)
        .select(F.col("vec_id").alias("qid"), "embedding")
        .crossJoin(F.broadcast(cells))
        .select("qid", "cid", d2.alias("d2"))
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= N_PROBE)
        .select("qid", "cid")
    )
    return (
        assign.join(F.broadcast(probes), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )


@register("ann_ivfpq_search", oracle=_ORACLE)
def ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import scoped_persist

    # persisted: emb feeds the subvector split, the cell seeds, the
    # corpus assignment and the probe side — unpersisted, each branch
    # rescans and re-validates the table.
    emb = scoped_persist(valid_vecs(load_table(spark, sf_dir, "embeddings")))
    subs = _subvectors(emb)
    # two consumers (the pruned ADC scan + the n_candidates rollup)
    # would otherwise run the cells crossJoin + argmin twice
    cand = scoped_persist(_candidates(emb, _cells(emb)))
    counts = cand.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    searched = _adc_rerank(
        spark, sf_dir, emb, subs, _train(subs), candidates=cand
    )
    return searched.join(F.broadcast(counts), "qid").select(
        "qid", "vec_id", "adc_micro", "d2_micro", "n_hits_exact",
        "n_candidates",
    )
