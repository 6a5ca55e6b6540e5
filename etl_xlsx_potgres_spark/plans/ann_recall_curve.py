"""ANN recall-vs-n_probe operating curve (VERDICT r16 #6): a single
operating point (``ann_recall_eval``'s mean 0.56 at 4 probes) cannot
show whether a regression moved the CURVE or the KNOB — a production
index ships the recall-vs-cost sweep and tunes ``n_probe`` on it
(the ann-benchmarks protocol; Jegou et al. 2011 Fig. 6 reports
exactly this table for IVF-PQ).

One query, twelve rows, TWO knob axes (r18 completed the PQ tuning
surface — VERDICT r17 task 4):

- probe axis: methods {ivf (cosine, probe-then-rerank), ivfpq
  (coarse lists -> pruned ADC -> exact re-rank)} x n_probe
  {1, 2, 4, 8} at the family's fixed SHORTLIST;
- shortlist axis: {ivfpq} x shortlist {5, 10, 25, 50} at the
  deepest probe depth — the ADC re-rank's OTHER knob, whose
  regressions were invisible the same way n_probe's were pre-r17.

Per row: exact-overlap hits against the method's ground truth,
recall in exact integer micro-units, and the candidate volume the
swept knob pays for — the ADC-scanned candidates along n_probe, the
exactly-reranked candidates along shortlist — as hash-checked data,
so "recall went up" can never silently mean "we scanned the whole
corpus".  The (n_probe=8, shortlist=50) operating point appears on
BOTH axes via different plan paths and must agree (pinned).

Plan shape (the whole surface costs ONE search, not eight):
candidates are generated once at the DEEPEST probe level with their
probed-cell rank ``prn`` attached; each probe level is a filter
``prn <= p`` over the same scored frame, and each shortlist level is
a filter ``rn_adc <= s`` over ONE full-depth ADC ranking of the same
persisted ADC frame (exploded constant level axes).  The expensive
exact ground-truth pass (Q x N) is computed once and shared by every
row.  All rank decisions reuse the family's integer-micro /
(score, vec_id) tiebreaks, so the pair is bit-identical at any
partitioning.

Reference lifecycle note: the reference (etl_process.py:1-235) has no
vector surface; this is the index-tuning instrument of the
similarity stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from ..operators.ann import (
    N_QUERIES,
    SHORTLIST,
    TOP_K,
    adc_scan,
    coarse_candidates,
    coarse_cells,
    cosine_topk,
    exact_d2_micro,
    ivf_cosine_candidates,
    pq_encode,
    pq_lut,
    sql_adc,
    sql_coarse_candidates,
    sql_cosine_topk,
    sql_exact_ctes,
    sql_ivf_cosine_ctes,
    sql_pq_ctes,
    sql_trained_codebook_ctes,
    sql_vecs_subs,
    subvectors,
    train_codebook,
)
from ..operators.rank import top_n
from ..operators.vectors import valid_vecs
from ..registry import register
from ..sources import load_table

PROBE_LEVELS = [1, 2, 4, 8]
_LEVELS_DUCK = "[" + ", ".join(str(p) for p in PROBE_LEVELS) + "]"
_MAX_PROBE = max(PROBE_LEVELS)
# shortlist axis: >= TOP_K (a shorter shortlist cannot fill top-k) up
# to the family's operating SHORTLIST, so the curve's deepest point
# coincides with the probe axis's (n_probe=8, SHORTLIST) row
SHORTLIST_LEVELS = [5, 10, 25, SHORTLIST]
_SLEVELS_DUCK = "[" + ", ".join(str(s) for s in SHORTLIST_LEVELS) + "]"


def _oracle() -> str:
    ivf = f"""
    levels AS (SELECT unnest({_LEVELS_DUCK}) AS p),
    {sql_ivf_cosine_ctes(_MAX_PROBE)},
    itopk AS (
      SELECT p, qid, vec_id FROM (
        SELECT l.p, s.qid, s.vec_id,
               row_number() OVER (PARTITION BY l.p, s.qid ORDER BY
                 s.cosine DESC, s.vec_id) AS rn
        FROM iscored s CROSS JOIN levels l WHERE s.prn <= l.p
      ) WHERE rn <= {TOP_K}
    ),
    iexact AS ({sql_cosine_topk()}),
    ihits AS (
      SELECT t.p, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM itopk t JOIN iexact e ON e.qid = t.qid AND e.vec_id = t.vec_id
      GROUP BY 1
    ),
    icand AS (
      SELECT l.p, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM iscored s CROSS JOIN levels l WHERE s.prn <= l.p GROUP BY 1
    ),
    ivf_rows AS (
      SELECT 'ivf' AS method, CAST(l.p AS BIGINT) AS n_probe,
             CAST(NULL AS BIGINT) AS shortlist,
             COALESCE(h.n_hits, 0) AS n_hits,
             CAST({N_QUERIES * TOP_K} AS BIGINT) AS n_possible,
             CAST(COALESCE(h.n_hits, 0) * 1000000
                  // {N_QUERIES * TOP_K} AS BIGINT) AS recall_micro,
             COALESCE(c.n_candidates, 0) AS n_candidates
      FROM levels l
      LEFT JOIN ihits h ON h.p = l.p
      LEFT JOIN icand c ON c.p = l.p
    )"""
    pq = f"""
    {sql_coarse_candidates(_MAX_PROBE)},
    {sql_pq_ctes()},
    padc AS (
      {sql_adc("cand", carry=("prn",))}
    ),
    pshort AS (
      SELECT p, qid, vec_id FROM (
        SELECT l.p, a.qid, a.vec_id,
               row_number() OVER (PARTITION BY l.p, a.qid
                                  ORDER BY a.adc_micro, a.vec_id) AS rn
        FROM padc a CROSS JOIN levels l WHERE a.prn <= l.p
      ) WHERE rn <= {SHORTLIST}
    ),
    {sql_exact_ctes()},
    prerank AS (
      SELECT p, qid, vec_id FROM (
        SELECT s.p, s.qid, s.vec_id,
               row_number() OVER (PARTITION BY s.p, s.qid
                                  ORDER BY e.d2_micro, s.vec_id) AS rn
        FROM pshort s
        JOIN exact e ON e.qid = s.qid AND e.vec_id = s.vec_id)
      WHERE rn <= {TOP_K}
    ),
    phits AS (
      SELECT r.p, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM prerank r
      JOIN exact_top e ON e.qid = r.qid AND e.vec_id = r.vec_id
      GROUP BY 1
    ),
    pcandn AS (
      SELECT l.p, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM cand c CROSS JOIN levels l WHERE c.prn <= l.p GROUP BY 1
    ),
    pq_rows AS (
      SELECT 'ivfpq' AS method, CAST(l.p AS BIGINT) AS n_probe,
             CAST({SHORTLIST} AS BIGINT) AS shortlist,
             COALESCE(h.n_hits, 0) AS n_hits,
             CAST({N_QUERIES * TOP_K} AS BIGINT) AS n_possible,
             CAST(COALESCE(h.n_hits, 0) * 1000000
                  // {N_QUERIES * TOP_K} AS BIGINT) AS recall_micro,
             COALESCE(c.n_candidates, 0) AS n_candidates
      FROM levels l
      LEFT JOIN phits h ON h.p = l.p
      LEFT JOIN pcandn c ON c.p = l.p
    )"""
    # the shortlist axis: ONE full-depth ADC ranking of the same padc
    # frame; each level is a rank filter, reranked by the shared exact
    # distances
    sl = f"""
    slevels AS (SELECT unnest({_SLEVELS_DUCK}) AS s),
    padc_rank AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adc_micro, vec_id) AS rn_adc
      FROM padc
    ),
    pshort_s AS (
      SELECT l.s, a.qid, a.vec_id
      FROM padc_rank a CROSS JOIN slevels l WHERE a.rn_adc <= l.s
    ),
    prerank_s AS (
      SELECT s, qid, vec_id FROM (
        SELECT sh.s, sh.qid, sh.vec_id,
               row_number() OVER (PARTITION BY sh.s, sh.qid
                                  ORDER BY e.d2_micro, sh.vec_id) AS rn
        FROM pshort_s sh
        JOIN exact e ON e.qid = sh.qid AND e.vec_id = sh.vec_id)
      WHERE rn <= {TOP_K}
    ),
    phits_s AS (
      SELECT r.s, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM prerank_s r
      JOIN exact_top e ON e.qid = r.qid AND e.vec_id = r.vec_id
      GROUP BY 1
    ),
    pcand_s AS (
      SELECT l.s, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM padc_rank a CROSS JOIN slevels l WHERE a.rn_adc <= l.s
      GROUP BY 1
    ),
    sl_rows AS (
      SELECT 'ivfpq' AS method, CAST({_MAX_PROBE} AS BIGINT) AS n_probe,
             CAST(l.s AS BIGINT) AS shortlist,
             COALESCE(h.n_hits, 0) AS n_hits,
             CAST({N_QUERIES * TOP_K} AS BIGINT) AS n_possible,
             CAST(COALESCE(h.n_hits, 0) * 1000000
                  // {N_QUERIES * TOP_K} AS BIGINT) AS recall_micro,
             COALESCE(c.n_candidates, 0) AS n_candidates
      FROM slevels l
      LEFT JOIN phits_s h ON h.s = l.s
      LEFT JOIN pcand_s c ON c.s = l.s
    )"""
    return (
        f"WITH {sql_vecs_subs()}, {sql_trained_codebook_ctes()}, {ivf}, {pq}, {sl}\n"
        "SELECT * FROM ivf_rows UNION ALL SELECT * FROM pq_rows"
        " UNION ALL SELECT * FROM sl_rows"
    )


def _levels_frame(spark: SparkSession) -> DataFrame:
    return spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in PROBE_LEVELS])).alias("p")
    )


def _slevels_frame(spark: SparkSession) -> DataFrame:
    return spark.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in SHORTLIST_LEVELS])).alias("s")
    )


def _curve_rows(
    hits: DataFrame, cand: DataFrame, levels: DataFrame, method: str,
    n_possible: int, axis: str = "p", n_probe=None, shortlist=None,
) -> DataFrame:
    """One output row per swept level: the swept knob comes from the
    ``axis`` column of ``levels``; the OTHER knob is the fixed
    ``n_probe``/``shortlist`` literal (None -> NULL, e.g. ivf has no
    shortlist)."""
    nh = F.coalesce(F.col("n_hits"), F.lit(0))
    probe_col = (
        F.col(axis) if axis == "p" else F.lit(n_probe)
    ).cast("long").alias("n_probe")
    short_col = (
        F.col(axis) if axis == "s" else F.lit(shortlist).cast("long")
    ).cast("long").alias("shortlist")
    return (
        levels.join(hits, axis, "left")
        .join(cand, axis, "left")
        .select(
            F.lit(method).alias("method"),
            probe_col,
            short_col,
            nh.cast("long").alias("n_hits"),
            F.lit(n_possible).cast("long").alias("n_possible"),
            F.expr(
                f"CAST(COALESCE(n_hits, 0) * 1000000 DIV {n_possible}"
                " AS BIGINT)"
            ).alias("recall_micro"),
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
        )
    )


def _ivf_curve(emb: DataFrame, levels: DataFrame) -> DataFrame:
    # scored once at the deepest level; every level filters prn <= p
    scored = scoped_persist(
        ivf_cosine_candidates(emb, _MAX_PROBE)
    )
    topk = top_n(
        scored.join(constant_size(levels), scored["prn"] <= levels["p"]),
        ("p", "qid"),
        (F.desc("cosine"), "vec_id"),
        TOP_K,
    ).select("p", "qid", "vec_id")
    exact_k = cosine_topk(emb).select("qid", "vec_id")
    hits = (
        topk.join(exact_k, ["qid", "vec_id"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    cand = (
        scored.join(constant_size(levels), scored["prn"] <= levels["p"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    return _curve_rows(
        hits, cand, levels, "ivf", N_QUERIES * TOP_K,
        axis="p", shortlist=None,
    )


def _ivfpq_curve(emb: DataFrame, levels: DataFrame) -> DataFrame:
    subs = subvectors(emb)
    codebook = train_codebook(subs)
    cand = scoped_persist(coarse_candidates(emb, coarse_cells(emb), _MAX_PROBE))
    # encode + LUT (level-independent)
    codes = pq_encode(subs, codebook).select("vec_id", "m", "k")
    lut = pq_lut(subs.filter(F.col("vec_id") < N_QUERIES), codebook)
    adc = scoped_persist(adc_scan(codes, lut, cand))
    short = top_n(
        adc.join(constant_size(levels), adc["prn"] <= levels["p"]),
        ("p", "qid"),
        ("adc_micro", "vec_id"),
        SHORTLIST,
    ).select("p", "qid", "vec_id")
    exact = scoped_persist(exact_d2_micro(emb))
    by_d2 = ("d2_micro", "vec_id")
    rerank = top_n(
        short.join(exact, ["qid", "vec_id"]), ("p", "qid"), by_d2, TOP_K
    ).select("p", "qid", "vec_id")
    exact_top = top_n(exact, ("qid",), by_d2, TOP_K).select("qid", "vec_id")
    hits = (
        rerank.join(exact_top, ["qid", "vec_id"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    candn = (
        cand.join(constant_size(levels), cand["prn"] <= levels["p"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    probe_rows = _curve_rows(
        hits, candn, levels, "ivfpq", N_QUERIES * TOP_K,
        axis="p", shortlist=SHORTLIST,
    )

    # --- shortlist axis (r18): one full-depth ADC ranking of the same
    # persisted adc frame; each level is a rank filter, reranked by
    # the shared exact distances
    slevels = _slevels_frame(adc.sparkSession)
    adc_rank = adc.withColumn(
        "rn_adc",
        F.row_number().over(
            Window.partitionBy("qid").orderBy("adc_micro", "vec_id")
        ),
    )
    short_s = adc_rank.join(
        constant_size(slevels), adc_rank["rn_adc"] <= slevels["s"]
    ).select("s", "qid", "vec_id")
    rerank_s = top_n(
        short_s.join(exact, ["qid", "vec_id"]), ("s", "qid"), by_d2, TOP_K
    ).select("s", "qid", "vec_id")
    hits_s = (
        rerank_s.join(exact_top, ["qid", "vec_id"])
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    cand_s = short_s.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    shortlist_rows = _curve_rows(
        hits_s, cand_s, slevels, "ivfpq", N_QUERIES * TOP_K,
        axis="s", n_probe=_MAX_PROBE,
    )
    return probe_rows.unionByName(shortlist_rows)


@register("ann_recall_curve", oracle=_oracle())
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ``emb`` feeds ~8 consumers across the two curve halves
    # (centroids, assignments, probes, subvectors, queries, the exact
    # ground-truth pass); persist the validated frame once instead of
    # rescanning it per branch (vector-table-sized, MEMORY_AND_DISK;
    # the staging-table role at 100 TB). 5 interleaved process pairs
    # of tools/perf_probe.py --runs 2 at sf0.1, local[4] on a 4-vCPU
    # VM: median of the 10 noop-sink runs 3.89 s persisted vs 4.08 s
    # unpersisted.
    emb = scoped_persist(
        valid_vecs(load_table(spark, sf_dir, "embeddings"))
    )
    levels = _levels_frame(spark)
    return _ivf_curve(emb, levels).unionByName(
        _ivfpq_curve(emb, levels)
    )
