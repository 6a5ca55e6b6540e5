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
from ..registry import ORACLES, register
from ..sources import load_table
from . import similarity  # noqa: F401  (registers ann_cosine_topk first)
from .ivfpq_search import (
    N_CELLS,
    _cells,
    _coarse_d2_duck,
    _coarse_d2_spark,
)
from .pq_search import (
    NQ,
    SHORTLIST,
    TOP_K,
    _EXACT_DUCK,
    _EXACT_SPARK,
    _VECS_SUBS,
    _subvectors,
)
from .pq_trained import _train, _trained_codebook_ctes
from .product_quantization import _D2_DUCK, _D2_SPARK
from .similarity import N_QUERIES, _duck_cos

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
    icents AS (
      SELECT vec_id AS cid, embedding AS cv FROM vecs
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CELLS}
    ),
    iassign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT v.vec_id, v.embedding, c.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {_duck_cos("v.embedding", "c.cv")} DESC, c.cid) AS arn
        FROM vecs v CROSS JOIN icents c
      ) WHERE arn = 1
    ),
    iprobes AS (
      SELECT qid, cid, prn FROM (
        SELECT q.vec_id AS qid, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_duck_cos("q.embedding", "c.cv")} DESC, c.cid) AS prn
        FROM vecs q CROSS JOIN icents c
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE prn <= {_MAX_PROBE}
    ),
    iscored AS (
      SELECT p.qid, a.vec_id, p.prn,
             {_duck_cos("q.embedding", "a.embedding")} AS cosine
      FROM iprobes p
      JOIN iassign a ON a.cid = p.cid AND a.vec_id <> p.qid
      JOIN vecs q ON q.vec_id = p.qid
    ),
    itopk AS (
      SELECT p, qid, vec_id FROM (
        SELECT l.p, s.qid, s.vec_id,
               row_number() OVER (PARTITION BY l.p, s.qid ORDER BY
                 s.cosine DESC, s.vec_id) AS rn
        FROM iscored s CROSS JOIN levels l WHERE s.prn <= l.p
      ) WHERE rn <= {similarity.TOP_K}
    ),
    iexact AS ({ORACLES["ann_cosine_topk"]}),
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
             CAST({N_QUERIES * similarity.TOP_K} AS BIGINT) AS n_possible,
             CAST(COALESCE(h.n_hits, 0) * 1000000
                  // {N_QUERIES * similarity.TOP_K} AS BIGINT) AS recall_micro,
             COALESCE(c.n_candidates, 0) AS n_candidates
      FROM levels l
      LEFT JOIN ihits h ON h.p = l.p
      LEFT JOIN icand c ON c.p = l.p
    )"""
    pq = f"""
    pcells AS (
      SELECT vec_id AS cid, embedding AS cv FROM vecs
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CELLS}
    ),
    passign AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {_coarse_d2_duck("v.embedding", "c.cv")}, c.cid) AS arn
        FROM vecs v CROSS JOIN pcells c) WHERE arn = 1
    ),
    pprobes AS (
      SELECT qid, cid, prn FROM (
        SELECT q.vec_id AS qid, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_coarse_d2_duck("q.embedding", "c.cv")}, c.cid) AS prn
        FROM vecs q CROSS JOIN pcells c WHERE q.vec_id < {NQ}
      ) WHERE prn <= {_MAX_PROBE}
    ),
    pcand AS (
      SELECT p.qid, a.vec_id, p.prn
      FROM pprobes p JOIN passign a ON a.cid = p.cid
      WHERE a.vec_id <> p.qid
    ),
    pcodes AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_D2_DUCK}, c.k) AS rn
        FROM subs s JOIN codebook c ON c.m = s.m) WHERE rn = 1
    ),
    plut AS (
      SELECT s.vec_id AS qid, s.m, c.k,
             CAST(floor({_D2_DUCK} * 1000000) AS BIGINT) AS lut_micro
      FROM subs s JOIN codebook c ON c.m = s.m
      WHERE s.vec_id < {NQ}
    ),
    padc AS (
      SELECT cd.qid, cd.vec_id, cd.prn,
             CAST(SUM(l.lut_micro) AS BIGINT) AS adc_micro
      FROM (SELECT c2.qid, d.vec_id, c2.prn, d.m, d.k
            FROM pcodes d JOIN pcand c2 ON c2.vec_id = d.vec_id) cd
      JOIN plut l ON l.qid = cd.qid AND l.m = cd.m AND l.k = cd.k
      GROUP BY 1, 2, 3
    ),
    pshort AS (
      SELECT p, qid, vec_id FROM (
        SELECT l.p, a.qid, a.vec_id,
               row_number() OVER (PARTITION BY l.p, a.qid
                                  ORDER BY a.adc_micro, a.vec_id) AS rn
        FROM padc a CROSS JOIN levels l WHERE a.prn <= l.p
      ) WHERE rn <= {SHORTLIST}
    ),
    pexact AS (
      SELECT q.vec_id AS qid, v.vec_id,
             CAST(floor({_EXACT_DUCK} * 1000000) AS BIGINT) AS d2_micro
      FROM vecs q JOIN vecs v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < {NQ}
    ),
    prerank AS (
      SELECT p, qid, vec_id FROM (
        SELECT s.p, s.qid, s.vec_id,
               row_number() OVER (PARTITION BY s.p, s.qid
                                  ORDER BY e.d2_micro, s.vec_id) AS rn
        FROM pshort s
        JOIN pexact e ON e.qid = s.qid AND e.vec_id = s.vec_id)
      WHERE rn <= {TOP_K}
    ),
    pexact_top AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY d2_micro, vec_id) AS rn
        FROM pexact) WHERE rn <= {TOP_K}
    ),
    phits AS (
      SELECT r.p, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM prerank r
      JOIN pexact_top e ON e.qid = r.qid AND e.vec_id = r.vec_id
      GROUP BY 1
    ),
    pcandn AS (
      SELECT l.p, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM pcand c CROSS JOIN levels l WHERE c.prn <= l.p GROUP BY 1
    ),
    pq_rows AS (
      SELECT 'ivfpq' AS method, CAST(l.p AS BIGINT) AS n_probe,
             CAST({SHORTLIST} AS BIGINT) AS shortlist,
             COALESCE(h.n_hits, 0) AS n_hits,
             CAST({NQ * TOP_K} AS BIGINT) AS n_possible,
             CAST(COALESCE(h.n_hits, 0) * 1000000
                  // {NQ * TOP_K} AS BIGINT) AS recall_micro,
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
        JOIN pexact e ON e.qid = sh.qid AND e.vec_id = sh.vec_id)
      WHERE rn <= {TOP_K}
    ),
    phits_s AS (
      SELECT r.s, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM prerank_s r
      JOIN pexact_top e ON e.qid = r.qid AND e.vec_id = r.vec_id
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
             CAST({NQ * TOP_K} AS BIGINT) AS n_possible,
             CAST(COALESCE(h.n_hits, 0) * 1000000
                  // {NQ * TOP_K} AS BIGINT) AS recall_micro,
             COALESCE(c.n_candidates, 0) AS n_candidates
      FROM slevels l
      LEFT JOIN phits_s h ON h.s = l.s
      LEFT JOIN pcand_s c ON c.s = l.s
    )"""
    return (
        f"WITH {_VECS_SUBS}, {_trained_codebook_ctes()}, {ivf}, {pq}, {sl}\n"
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


def _ivf_curve(
    spark: SparkSession, sf_dir: str, emb: DataFrame, levels: DataFrame
) -> DataFrame:
    from .similarity import _dot, _norm, ann_cosine_topk

    cents = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )
    cos_vc = _dot(F.col("embedding"), F.col("cv")) / (
        _norm(F.col("embedding")) * _norm(F.col("cv"))
    )
    aw = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "cid")
    assign = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("ccos", cos_vc)
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") == 1)
        .select("vec_id", "embedding", "cid")
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "ccos", _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
        )
        .withColumn(
            "prn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("ccos"), "cid")
            ),
        )
        .filter(F.col("prn") <= _MAX_PROBE)
        .select("qid", "qv", "cid", "prn")
    )
    cosine = _dot(F.col("qv"), F.col("embedding")) / (
        _norm(F.col("qv")) * _norm(F.col("embedding"))
    )
    # scored once at the deepest level; every level filters prn <= p
    scored = scoped_persist(
        probes.join(assign, "cid")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", "prn", cosine.alias("cosine"))
    )
    lw = Window.partitionBy("p", "qid").orderBy(F.desc("cosine"), "vec_id")
    topk = (
        scored.join(F.broadcast(levels), scored["prn"] <= levels["p"])
        .withColumn("rn", F.row_number().over(lw))
        .filter(F.col("rn") <= similarity.TOP_K)
        .select("p", "qid", "vec_id")
    )
    exact_k = ann_cosine_topk(spark, sf_dir).select("qid", "vec_id")
    hits = (
        topk.join(exact_k, ["qid", "vec_id"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    cand = (
        scored.join(F.broadcast(levels), scored["prn"] <= levels["p"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    return _curve_rows(
        hits, cand, levels, "ivf", N_QUERIES * similarity.TOP_K,
        axis="p", shortlist=None,
    )


def _ivfpq_curve(
    spark: SparkSession, sf_dir: str, emb: DataFrame, levels: DataFrame
) -> DataFrame:
    subs = _subvectors(emb)
    codebook = _train(subs)
    d2 = F.expr(_coarse_d2_spark("embedding", "cv"))
    cells = _cells(emb)
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
        .filter(F.col("prn") <= _MAX_PROBE)
        .select("qid", "cid", "prn")
    )
    cand = scoped_persist(
        assign.join(F.broadcast(probes), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "prn")
    )
    # encode + LUT (the pq_search shapes, level-independent)
    code_w = Window.partitionBy("vec_id", "m").orderBy("d2", "k")
    codes = (
        subs.join(F.broadcast(codebook), "m")
        .select("vec_id", "m", "k", F.expr(_D2_SPARK).alias("d2"))
        .withColumn("rn", F.row_number().over(code_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "k")
    )
    lut = (
        subs.filter(F.col("vec_id") < NQ)
        .select(F.col("vec_id").alias("qid"), "m", "sub")
        .join(F.broadcast(codebook), "m")
        .select(
            "qid",
            "m",
            "k",
            F.expr(f"CAST(floor({_D2_SPARK} * 1000000) AS BIGINT)").alias(
                "lut_micro"
            ),
        )
    )
    adc = scoped_persist(
        codes.join(cand, "vec_id")
        .join(F.broadcast(lut), ["qid", "m", "k"])
        .groupBy("qid", "vec_id", "prn")
        .agg(F.sum("lut_micro").cast("long").alias("adc_micro"))
    )
    sl_w = Window.partitionBy("p", "qid").orderBy("adc_micro", "vec_id")
    short = (
        adc.join(F.broadcast(levels), adc["prn"] <= levels["p"])
        .withColumn("rn", F.row_number().over(sl_w))
        .filter(F.col("rn") <= SHORTLIST)
        .select("p", "qid", "vec_id")
    )
    q = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    from .dedup_fuzzy import _size_aware_broadcast

    exact = scoped_persist(
        q.join(
            _size_aware_broadcast(
                spark, sf_dir,
                emb.select("vec_id", F.col("embedding").alias("vv")),
            ),
            F.col("vec_id") != F.col("qid"),
        ).select(
            "qid",
            "vec_id",
            F.expr(
                f"CAST(floor({_EXACT_SPARK} * 1000000) AS BIGINT)"
            ).alias("d2_micro"),
        )
    )
    rr_w = Window.partitionBy("p", "qid").orderBy("d2_micro", "vec_id")
    rerank = (
        short.join(exact, ["qid", "vec_id"])
        .withColumn("rn", F.row_number().over(rr_w))
        .filter(F.col("rn") <= TOP_K)
        .select("p", "qid", "vec_id")
    )
    et_w = Window.partitionBy("qid").orderBy("d2_micro", "vec_id")
    exact_top = (
        exact.withColumn("rn", F.row_number().over(et_w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id")
    )
    hits = (
        rerank.join(exact_top, ["qid", "vec_id"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    candn = (
        cand.join(F.broadcast(levels), cand["prn"] <= levels["p"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    probe_rows = _curve_rows(
        hits, candn, levels, "ivfpq", NQ * TOP_K,
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
        F.broadcast(slevels), adc_rank["rn_adc"] <= slevels["s"]
    ).select("s", "qid", "vec_id")
    rr_s = Window.partitionBy("s", "qid").orderBy("d2_micro", "vec_id")
    rerank_s = (
        short_s.join(exact, ["qid", "vec_id"])
        .withColumn("rn", F.row_number().over(rr_s))
        .filter(F.col("rn") <= TOP_K)
        .select("s", "qid", "vec_id")
    )
    hits_s = (
        rerank_s.join(exact_top, ["qid", "vec_id"])
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    cand_s = short_s.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    shortlist_rows = _curve_rows(
        hits_s, cand_s, slevels, "ivfpq", NQ * TOP_K,
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
        similarity.valid_vecs(load_table(spark, sf_dir, "embeddings"))
    )
    levels = _levels_frame(spark)
    return _ivf_curve(spark, sf_dir, emb, levels).unionByName(
        _ivfpq_curve(spark, sf_dir, emb, levels)
    )
