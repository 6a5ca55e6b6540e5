"""PQ asymmetric-distance search (ADC) with exact re-rank — the
query path of an IVF-PQ index (Jegou et al. 2011), completing
``product_quantization``'s encode side: at search time each query
builds a (M x K) lookup table of subspace distances to the
codewords, every database vector's approximate distance is then M
TABLE LOOKUPS summed over its stored codes — the corpus's raw
floats are never touched — and the ADC shortlist is re-ranked with
exact distances (the standard two-stage recipe: cheap scan, exact
tail).

Scale shape: the LUT is NQ x M x K rows (~320 here) — a broadcast
at any corpus size; the ADC pass is a broadcast join + map-side sum
over the (vec_id, m, code) frame, linear in N x M with no raw-vector
movement (codes are 32:1 compressed); exact distances are computed
for SHORTLIST candidates per query, never the corpus. The full-corpus
exact top-k computed alongside is the recall VERIFIER — at production
scale you run only the ADC+re-rank side.

Honesty note: the synthetic fixture's uniform random vectors are
PQ's adversarial case (pairwise distances concentrate, so the
K=8-codeword quantization error swamps the neighbor gaps): measured
recall@5 after re-rank is ~0.7 overall with zero-hit queries
possible. The per-query hit count is therefore emitted as DATA
(``n_hits_exact``, hash-checked against the oracle) rather than
dressed up as a pass/fail verdict; production deployments use
K=256 codebooks learned by k-means over clustered real embeddings,
where the same plan shape delivers >0.95. All rank decisions are
exact integer micro-units with (distance, vec_id) tie-breaks, so
the pair is bit-identical on both engines at any partitioning.

Reference lifecycle note: the reference has no vector surface
(``etl_process.py:1-235``); this completes the mandated similarity
stack's production path: encode (``emb_pq_encode``) -> SEARCH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table
from .product_quantization import _D2_DUCK, _D2_SPARK, M, PQ_K, SUB_D
from .similarity import duck_valid, valid_vecs

NQ = 10        # vec_id < 10 are the query vectors (ann_* convention)
SHORTLIST = 50  # ADC candidates re-ranked exactly, per query
TOP_K = 5

_EXACT_SPARK = """
aggregate(
  transform(sequence(1, 64), i ->
    power(cast(element_at(qv, i) as double)
          - cast(element_at(vv, i) as double), 2D)),
  0D, (a, t) -> a + t)
"""
_EXACT_DUCK = """
list_sum(list_transform(generate_series(1, 64), i ->
  pow(CAST(q.embedding[i] AS DOUBLE) - CAST(v.embedding[i] AS DOUBLE), 2)))
"""

# the WITH prologue (vecs + subspace explode) and the search tail
# (codes/lut/adc/shortlist/exact/rerank/hits) are shared with the
# k-means-trained codebook variant (``plans/pq_trained``): the tail
# reads whatever CTE is named ``codebook``.
_VECS_SUBS = f"""\
vecs AS (
  SELECT vec_id, embedding FROM embeddings WHERE {duck_valid()}
),
subs AS (
  SELECT vec_id, m.m,
         embedding[m.m*{SUB_D}+1 : m.m*{SUB_D}+{SUB_D}] AS sub
  FROM vecs, (SELECT unnest(generate_series(0, {M - 1})) AS m) m
)"""

_SEED_CODEBOOK = f"""\
codebook AS (
  SELECT m, vec_id AS k, sub AS csub FROM subs WHERE vec_id < {PQ_K}
)"""

_SEARCH_TAIL = f"""\
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
  SELECT l.qid, d.vec_id, CAST(SUM(l.lut_micro) AS BIGINT) AS adc_micro
  FROM codes d JOIN lut l ON l.m = d.m AND l.k = d.k
  WHERE d.vec_id <> l.qid GROUP BY 1, 2
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
)
SELECT r.qid, r.vec_id, r.adc_micro, r.d2_micro, h.n_hits_exact
FROM rerank r JOIN hits h ON h.qid = r.qid"""


def search_oracle(codebook_ctes: str) -> str:
    """Full ADC-search oracle against any codebook CTE chain whose
    final CTE is named ``codebook`` with columns (m, k, csub)."""
    return f"WITH {_VECS_SUBS}, {codebook_ctes}, {_SEARCH_TAIL}"


_ORACLE = search_oracle(_SEED_CODEBOOK)


def _subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sub): every vector exploded into its M subspace
    slices — the shared input frame of encode, LUT build, and
    codebook training (``pq_trained``)."""
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.expr(f"slice(embedding, {m * SUB_D + 1}, {SUB_D})").alias(
                    "sub"
                ),
            )
            for m in range(M)
        ]
    )
    return emb.select("vec_id", F.explode(sub_structs).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def _adc_rerank(
    emb: DataFrame,
    subs: DataFrame,
    codebook: DataFrame,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """The full ADC query path against an arbitrary (m, k, csub)
    codebook: encode the corpus, build per-query LUTs, ADC-scan,
    re-rank the shortlist exactly, and attach the recall-verifier hit
    counts.  Shared by the seed-codebook query below, the
    k-means-trained variant (``plans/pq_trained``), and the IVF-PQ
    composition (``plans/ivfpq_search``), which passes ``candidates``
    — a (qid, vec_id) frame of PRUNED pairs (probed inverted lists
    only): the ADC scan then joins codes to candidates BEFORE the LUT
    lookup, so non-probed vectors never reach the distance sum."""
    # database codes: the encode-side argmin (one row per vector per
    # subspace; the corpus's raw floats end here)
    code_w = Window.partitionBy("vec_id", "m").orderBy("d2", "k")
    codes = (
        subs.join(constant_size(codebook), "m")
        .select("vec_id", "m", "k", F.expr(_D2_SPARK).alias("d2"))
        .withColumn("rn", F.row_number().over(code_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "k")
    )
    # per-query LUT: NQ x M x K rows — broadcast at any corpus size
    lut = (
        subs.filter(F.col("vec_id") < NQ)
        .select(F.col("vec_id").alias("qid"), "m", "sub")
        .join(constant_size(codebook), "m")
        .select(
            "qid",
            "m",
            "k",
            F.expr(f"CAST(floor({_D2_SPARK} * 1000000) AS BIGINT)").alias(
                "lut_micro"
            ),
        )
    )
    # ADC scan: broadcast-join table lookups + map-side partial sums;
    # no raw vectors move.  With a candidates frame the list filter
    # sits BELOW the LUT join: codes join candidates (vec_id) first,
    # then the (qid, m, k) lookup touches only surviving pairs.
    if candidates is not None:
        adc = (
            codes.join(candidates, "vec_id")
            .join(constant_size(lut), ["qid", "m", "k"])
            .groupBy("qid", "vec_id")
            .agg(F.sum("lut_micro").cast("long").alias("adc_micro"))
        )
    else:
        adc = (
            codes.join(constant_size(lut), ["m", "k"])
            .where(F.col("vec_id") != F.col("qid"))
            .groupBy("qid", "vec_id")
            .agg(F.sum("lut_micro").cast("long").alias("adc_micro"))
        )
    sl_w = Window.partitionBy("qid").orderBy("adc_micro", "vec_id")
    shortlist = (
        adc.withColumn("rn", F.row_number().over(sl_w))
        .filter(F.col("rn") <= SHORTLIST)
        .drop("rn")
    )
    # exact distances: full corpus ONLY for the verifier top-k; the
    # production path needs them for SHORTLIST rows per query alone
    q = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = (
        q.join(
            emb.select("vec_id", F.col("embedding").alias("vv")),
            F.col("vec_id") != F.col("qid"),
        )
        .select(
            "qid",
            "vec_id",
            F.expr(f"CAST(floor({_EXACT_SPARK} * 1000000) AS BIGINT)").alias(
                "d2_micro"
            ),
        )
    )
    # two consumers (re-rank join + verifier top-k) would otherwise
    # recompute the Q x N 64-dim fold twice
    from ..caching import scoped_persist

    exact = scoped_persist(exact)
    rr_w = Window.partitionBy("qid").orderBy("d2_micro", "vec_id")
    rerank = (
        shortlist.join(exact, ["qid", "vec_id"])
        .withColumn("rn", F.row_number().over(rr_w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )
    exact_top = (
        exact.withColumn("rn", F.row_number().over(rr_w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("evec"))
    )
    hits = (
        rerank.join(
            exact_top,
            (rerank["qid"] == exact_top["qid"])
            & (rerank["vec_id"] == exact_top["evec"]),
            "left",
        )
        .groupBy(rerank["qid"].alias("qid"))
        .agg(
            F.sum(F.when(F.col("evec").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits_exact")
        )
    )
    return rerank.join(constant_size(hits), "qid").select(
        "qid", "vec_id", "adc_micro", "d2_micro", "n_hits_exact"
    )


@register("ann_pq_adc_rerank", oracle=_ORACLE)
def ann_pq_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    subs = _subvectors(emb)
    codebook = subs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("k"), F.col("sub").alias("csub")
    )
    return _adc_rerank(emb, subs, codebook)
