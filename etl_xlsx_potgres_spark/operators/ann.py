"""Product-quantization and inverted-file index kernels (Jegou et al.
2011): the subvector split, the PQ encode, per-query lookup tables,
Lloyd-trained codebooks and their exact micro-unit centroid update,
the ADC scan with its exact re-rank, the md5-seeded coarse
cells of the IVF lists, and the exact and IVF cosine top-k searches.
Every ranked selection among them — shortlists, top-k, probe sets and
the nearest-centroid argmin — composes :mod:`.rank`.

Every kernel has its Spark form (over DataFrames) and its DuckDB form
(``sql_*``, CTE bodies that read fixed CTE names: ``vecs``, ``subs``,
``codebook``, ``codes``, ``lut``, ``adc``, ``cand``) side by side, so
a plan module composes its query and its oracle from the same pieces.

Arithmetic contract (see :mod:`.vectors`): distances are left folds
from ``0.0`` over components cast to double, and every distance that
feeds a rank or a cross-row sum is floored to integer micro units
(``floor(x * 1e6)`` as BIGINT) first.  Every rank breaks ties on the
id — (d2, k) for codes, (d2, cid) for cells, (distance, vec_id) for
neighbours — so both engines agree bit for bit at any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from .rank import nearest, sql_nearest, sql_top_n, top_n
from .vectors import (
    cosine,
    duck_valid,
    micro,
    sq_dist,
    sql_cosine,
    sql_micro,
    sql_sq_dist,
)

M = 4            # subspaces
SUB_D = 16       # dims per subspace (M * SUB_D = EMB_DIM)
PQ_K = 8         # codewords per subspace
TRAIN_ITERS = 2  # Lloyd rounds of a trained codebook

N_QUERIES = 10   # vec_id < N_QUERIES are the family's query vectors
TOP_K = 5        # neighbours returned per query
SHORTLIST = 50   # ADC candidates re-ranked exactly, per query
N_CELLS = 16     # md5-seeded coarse cells of the IVF lists
N_PROBE = 4      # cells probed per query
KMEANS_K = 10    # k-means clusters of emb_kmeans_step and SemDeDup


def subvectors(frame: DataFrame, keys: tuple[str, ...] = ("vec_id",)) -> DataFrame:
    """(*keys, m, sub): every ``embedding`` exploded into its M
    subspace slices.  DuckDB twin: :func:`sql_subvectors`."""
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
    return frame.select(*keys, F.explode(sub_structs).alias("s")).select(
        *keys, F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def pq_encode(
    subs: DataFrame, codebook: DataFrame, keys: tuple[str, ...] = ("vec_id", "m")
) -> DataFrame:
    """(*keys, k, d2): each subvector's :func:`nearest` codeword of the
    (m, k, csub) codebook.  ``keys`` must include ``m``.  DuckDB twin:
    :func:`sql_pq_codes`."""
    return nearest(
        subs.join(constant_size(codebook), "m"),
        keys,
        sq_dist("sub", "csub", SUB_D),
        "k",
        "k",
    )


def pq_lut(qsubs: DataFrame, codebook: DataFrame) -> DataFrame:
    """(qid, m, k, lut_micro): the per-query lookup table of subspace
    distances to every codeword, in micro units — queries x M x K
    rows.  DuckDB twin: :func:`sql_pq_lut`."""
    return (
        qsubs.select(F.col("vec_id").alias("qid"), "m", "sub")
        .join(constant_size(codebook), "m")
        .select(
            "qid", "m", "k", micro(sq_dist("sub", "csub", SUB_D)).alias("lut_micro")
        )
    )


def exact_d2_micro(emb: DataFrame) -> DataFrame:
    """(qid, vec_id, d2_micro): exact squared L2 from every query
    vector to every other corpus vector — the re-rank distances and
    the recall verifier's ground truth."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return q.join(
        emb.select("vec_id", F.col("embedding").alias("vv")),
        F.col("vec_id") != F.col("qid"),
    ).select("qid", "vec_id", micro(sq_dist("qv", "vv")).alias("d2_micro"))


def seed_codebook(subs: DataFrame, k: int = PQ_K) -> DataFrame:
    """(m, k, csub): the first ``k`` corpus vectors' subvectors as the
    deterministic codewords.  DuckDB twin: :data:`SQL_SEED_CODEBOOK`."""
    return subs.filter(F.col("vec_id") < k).select(
        "m", F.col("vec_id").alias("k"), F.col("sub").alias("csub")
    )


def train_codebook(
    subs: DataFrame, k: int = PQ_K, iters: int = TRAIN_ITERS
) -> DataFrame:
    """``iters`` Lloyd iterations over the (vec_id, m, sub) frame from
    :func:`seed_codebook`; returns the (m, k, csub) codebook (double
    arrays).  Each round's update is the exact :func:`micro_mean` of
    the assigned subvectors, and each round's codebook is
    ``localCheckpoint``ed, so the search plan does not nest the
    training joins.  DuckDB twin:
    :func:`sql_trained_codebook_ctes`."""
    cb = seed_codebook(subs, k).select(
        "m", "k", F.expr("transform(csub, x -> cast(x as double))").alias("csub")
    )
    for _ in range(iters):
        assigned = pq_encode(subs, cb, keys=("vec_id", "m", "sub")).select(
            "m", "k", "sub"
        )
        cb = (
            micro_mean(assigned, ("m", "k"), "sub", "csub")
            # constant (<= M*K)-row frame: one block, lineage cut here
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    return cb


def micro_mean(
    assigned: DataFrame, keys: tuple[str, ...], vec: str, out: str
) -> DataFrame:
    """(*keys, out): the mean of the ``vec`` arrays of each ``keys``
    group — the centroid update of :func:`train_codebook` (per (m, k))
    and of the k-means iterations (per cid).  Member coordinates are
    floored to micro units BEFORE the mean, so each per-(group, dim)
    reduce is an exact bigint sum and the coordinate ``sum / n / 1e6``
    one exact double expression.  DuckDB twin:
    :func:`sql_micro_mean_ctes`."""
    dims = assigned.select(
        *keys,
        F.posexplode(
            F.expr(
                f"transform({vec},"
                " x -> cast(floor(cast(x as double) * 1000000) as bigint))"
            )
        ).alias("i", "xm"),
    )
    sums = dims.groupBy(*keys, "i").agg(
        F.sum("xm").cast("long").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return sums.groupBy(*keys).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "i",
                        (
                            F.col("s").cast("double")
                            / F.col("n")
                            / F.lit(1000000.0)
                        ).alias("v"),
                    )
                )
            ),
            lambda st: st.v,
        ).alias(out)
    )


def adc_scan(
    codes: DataFrame, lut: DataFrame, candidates: DataFrame | None = None
) -> DataFrame:
    """(qid, vec_id[, carried candidate columns], adc_micro): each
    query's approximate distance to a database vector as M table
    lookups summed over its codes — no raw vector moves.  Without
    ``candidates`` every vector but the query itself is scanned; with a
    (qid, vec_id, ...) candidates frame (probed inverted lists) the
    list filter sits BELOW the LUT join.  DuckDB twin: :func:`sql_adc`."""
    if candidates is None:
        pairs = codes.join(constant_size(lut), ["m", "k"]).where(
            F.col("vec_id") != F.col("qid")
        )
        keys = ["qid", "vec_id"]
    else:
        pairs = codes.join(candidates, "vec_id").join(
            constant_size(lut), ["qid", "m", "k"]
        )
        keys = candidates.columns
    return pairs.groupBy(*keys).agg(
        F.sum("lut_micro").cast("long").alias("adc_micro")
    )


def adc_rerank(
    emb: DataFrame,
    subs: DataFrame,
    codebook: DataFrame,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(qid, vec_id, adc_micro, d2_micro, n_hits_exact): the two-stage
    PQ search against an (m, k, csub) codebook — encode the corpus,
    build the query LUTs, ADC-scan (over ``candidates`` only, when
    given), re-rank the top-SHORTLIST exactly, and attach per query the
    overlap with the exact top-k (the recall verifier).  DuckDB twin:
    :func:`sql_rerank_ctes`."""
    codes = pq_encode(subs, codebook).select("vec_id", "m", "k")
    lut = pq_lut(subs.filter(F.col("vec_id") < N_QUERIES), codebook)
    adc = adc_scan(codes, lut, candidates)
    shortlist = top_n(adc, ("qid",), ("adc_micro", "vec_id"), SHORTLIST)
    # two consumers (re-rank join + verifier top-k) would otherwise
    # recompute the Q x N 64-dim fold twice
    exact = scoped_persist(exact_d2_micro(emb))
    by_d2 = ("d2_micro", "vec_id")
    rerank = top_n(
        shortlist.join(exact, ["qid", "vec_id"]), ("qid",), by_d2, TOP_K
    )
    exact_top = top_n(exact, ("qid",), by_d2, TOP_K).select(
        "qid", F.col("vec_id").alias("evec")
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


def coarse_cells(emb: DataFrame) -> DataFrame:
    """(cid, cv): the N_CELLS md5-picked corpus vectors that seed the
    IVF cells.  DuckDB twin: :func:`sql_coarse_cells`."""
    return (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )


def coarse_candidates(
    emb: DataFrame, cells: DataFrame, n_probe: int
) -> DataFrame:
    """(qid, vec_id, prn): every corpus vector in one of the query's
    ``n_probe`` nearest cells, with the cell's probe rank ``prn``.
    Cells are ranked by full-vector L2 in micro units with (d2, cid)
    tie-break; the corpus side is its :func:`.rank.nearest` cell.
    DuckDB twin: :func:`sql_coarse_candidates`."""
    d2 = micro(sq_dist("embedding", "cv"))
    assign = nearest(
        emb.select("vec_id", "embedding")
        .crossJoin(constant_size(cells))
        .select("vec_id", "cid", d2.alias("d2")),
        ("vec_id",),
        F.col("d2"),
        "cid",
        "cid",
    ).select("vec_id", "cid")
    probes = top_n(
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), "embedding")
        .crossJoin(constant_size(cells))
        .select("qid", "cid", d2.alias("d2")),
        ("qid",),
        ("d2", "cid"),
        n_probe,
        rank="prn",
    ).select("qid", "cid", "prn")
    return (
        assign.join(constant_size(probes), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "prn")
    )


def cosine_topk(emb: DataFrame) -> DataFrame:
    """(qid, vec_id, cosine, rn): the exact brute-force cosine top-k of
    every query vector — the baseline and the recall ground truth,
    inherently O(queries x corpus).  DuckDB twin:
    :func:`sql_cosine_topk`."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    v = emb.select("vec_id", F.col("embedding").alias("vv"))
    scored = q.join(v, F.col("qid") != F.col("vec_id")).select(
        "qid", "vec_id", cosine("qv", "vv").alias("cosine")
    )
    return top_n(
        scored, ("qid",), (F.desc("cosine"), "vec_id"), TOP_K, rank="rn"
    )


def ivf_cosine_candidates(emb: DataFrame, n_probe: int) -> DataFrame:
    """(qid, vec_id, prn, cosine): the cosine IVF search over the
    :func:`coarse_cells` before its top-k — every corpus vector
    assigned to its argmax-cosine cell, each query's ``n_probe``
    nearest cells by cosine (probe rank ``prn``), both with (cosine
    DESC, cid) tie-break, and the exact query cosine of every member of
    a probed cell.  DuckDB twin: :func:`sql_ivf_cosine_ctes`."""
    cells = coarse_cells(emb)
    by_cos = (F.desc("ccos"), "cid")
    assign = top_n(
        emb.crossJoin(constant_size(cells)).withColumn(
            "ccos", cosine("embedding", "cv")
        ),
        ("vec_id",),
        by_cos,
        1,
    ).select("vec_id", "embedding", "cid")
    probes = top_n(
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        .crossJoin(constant_size(cells))
        .withColumn("ccos", cosine("qv", "cv")),
        ("qid",),
        by_cos,
        n_probe,
        rank="prn",
    ).select("qid", "qv", "cid", "prn")
    return (
        probes.join(assign, "cid")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", "prn", cosine("qv", "embedding").alias("cosine"))
    )


def ivf_topk(emb: DataFrame) -> DataFrame:
    """(qid, vec_id, cosine, rn): the cosine IVF top-k at N_PROBE
    probes over the md5-seeded :func:`coarse_cells`.  DuckDB twin:
    :func:`sql_ivf_topk`."""
    return top_n(
        ivf_cosine_candidates(emb, N_PROBE).drop("prn"),
        ("qid",),
        (F.desc("cosine"), "vec_id"),
        TOP_K,
        rank="rn",
    )


# --- DuckDB renderings ----------------------------------------------


def sql_subvectors(src: str) -> str:
    """SELECT body of (vec_id, m, sub) over the (vec_id, embedding)
    relation ``src``."""
    return f"""SELECT v.vec_id, m.m,
         v.embedding[m.m*{SUB_D}+1 : m.m*{SUB_D}+{SUB_D}] AS sub
  FROM {src} v, (SELECT unnest(generate_series(0, {M - 1})) AS m) m"""


def sql_vecs() -> str:
    """The ``vecs`` CTE: the embeddings the zero-norm guard keeps."""
    return f"""vecs AS (
  SELECT vec_id, embedding FROM embeddings WHERE {duck_valid()}
)"""


def sql_vecs_subs() -> str:
    """The guarded ``vecs`` CTE and its ``subs`` split."""
    return f"""{sql_vecs()},
subs AS (
  {sql_subvectors("vecs")}
)"""


# DuckDB twin of :func:`seed_codebook`
SQL_SEED_CODEBOOK = f"""codebook AS (
  SELECT m, vec_id AS k, sub AS csub FROM subs WHERE vec_id < {PQ_K}
)"""


def sql_pq_codes(subs: str = "subs") -> str:
    """SELECT body of (vec_id, m, k, d2): the encode argmin of
    :func:`pq_encode` against the ``codebook`` CTE."""
    return sql_nearest(
        f"{subs} s JOIN codebook c ON c.m = s.m",
        ("s.vec_id", "s.m"),
        sql_sq_dist("s.sub", "c.csub", SUB_D),
        "c.k",
        "k",
    )


def sql_pq_lut(qsubs: str) -> str:
    """SELECT body of (qid, m, k, lut_micro), :func:`pq_lut` against
    the ``codebook`` CTE."""
    return f"""SELECT s.vec_id AS qid, s.m, c.k,
         {sql_micro(sql_sq_dist("s.sub", "c.csub", SUB_D))} AS lut_micro
  FROM {qsubs} s JOIN codebook c ON c.m = s.m"""


def sql_trained_codebook_ctes() -> str:
    """:func:`train_codebook` unrolled over ``subs``: cb0 (seeds cast
    to double) -> [assign a{t} -> update u{t} -> cb{t}] x TRAIN_ITERS ->
    ``codebook``.  Empty codewords vanish from the GROUP BY on both
    engines."""
    parts = [
        f"""cb0 AS (
  SELECT m, vec_id AS k,
         list_transform(sub, x -> CAST(x AS DOUBLE)) AS csub
  FROM subs WHERE vec_id < {PQ_K}
)"""
    ]
    for t in range(1, TRAIN_ITERS + 1):
        prev = f"cb{t - 1}"
        parts.append(f"""a{t} AS (
  {sql_top_n("s.vec_id, s.m, c.k, s.sub", f"subs s JOIN {prev} c ON c.m = s.m",
             ("s.vec_id", "s.m"),
             f"{sql_sq_dist('s.sub', 'c.csub', SUB_D)}, c.k", 1)}
)""")
        parts.append(sql_micro_mean_ctes(t, ("m", "k"), "sub", SUB_D, "csub"))
    parts.append(f"codebook AS (SELECT m, k, csub FROM cb{TRAIN_ITERS})")
    return ",\n".join(parts)


def sql_micro_mean_ctes(
    t: int, keys: tuple[str, ...], vec: str, dim: int, out: str
) -> str:
    """:func:`micro_mean` over the CTE ``a{t}``: the per-(keys, dim)
    sums ``u{t}`` and the means ``cb{t}`` (*keys, out) of its
    ``dim``-long ``vec`` arrays."""
    k = ", ".join(keys)
    return f"""u{t} AS (
  SELECT {k}, i,
         CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
              AS BIGINT) AS s,
         COUNT(*) AS n
  FROM (SELECT {k}, unnest({vec}) AS x,
               unnest(generate_series(1, {dim})) AS i
        FROM a{t})
  GROUP BY {k}, i
),
cb{t} AS (
  SELECT {k}, list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY i) AS {out}
  FROM u{t} GROUP BY {k}
)"""


def sql_pq_ctes() -> str:
    """``codes`` (the corpus encode) and ``lut`` (the query tables)
    over ``subs`` and ``codebook``."""
    return f"""codes AS (
  {sql_pq_codes("subs")}
),
qsubs AS (
  SELECT * FROM subs WHERE vec_id < {N_QUERIES}
),
lut AS (
  {sql_pq_lut("qsubs")}
)"""


def sql_adc(cand: str | None = None, carry: tuple[str, ...] = ()) -> str:
    """SELECT body of :func:`adc_scan` over ``codes`` and ``lut``:
    every vector but the query itself, or only the (qid, vec_id,
    *carry) pairs of the ``cand`` relation."""
    if cand is None:
        return """SELECT l.qid, d.vec_id, CAST(SUM(l.lut_micro) AS BIGINT) AS adc_micro
  FROM codes d JOIN lut l ON l.m = d.m AND l.k = d.k
  WHERE d.vec_id <> l.qid GROUP BY 1, 2"""
    cols = ["qid", "vec_id", *carry]
    return f"""SELECT {", ".join(f"c.{x}" for x in cols)},
         CAST(SUM(l.lut_micro) AS BIGINT) AS adc_micro
  FROM codes d JOIN {cand} c ON c.vec_id = d.vec_id
  JOIN lut l ON l.qid = c.qid AND l.m = d.m AND l.k = d.k
  GROUP BY {", ".join(str(i + 1) for i in range(len(cols)))}"""


def sql_exact_ctes() -> str:
    """``exact`` (:func:`exact_d2_micro` over ``vecs``) and
    ``exact_top``, the exact top-k per query."""
    return f"""exact AS (
  SELECT q.vec_id AS qid, v.vec_id,
         {sql_micro(sql_sq_dist("q.embedding", "v.embedding"))} AS d2_micro
  FROM vecs q JOIN vecs v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
exact_top AS (
  {sql_top_n("qid, vec_id", "exact", ("qid",), "d2_micro, vec_id", TOP_K)}
)"""


def sql_rerank_ctes() -> str:
    """The two-stage tail of :func:`adc_rerank` over an ``adc`` CTE:
    ``shortlist``, ``exact``/``exact_top``, ``rerank`` and ``hits``."""
    return f"""shortlist AS (
  {sql_top_n("qid, vec_id, adc_micro", "adc", ("qid",), "adc_micro, vec_id",
             SHORTLIST)}
),
{sql_exact_ctes()},
rerank AS (
  {sql_top_n("s.qid, s.vec_id, s.adc_micro, e.d2_micro",
             "shortlist s JOIN exact e ON e.qid = s.qid AND e.vec_id = s.vec_id",
             ("s.qid",), "e.d2_micro, s.vec_id", TOP_K)}
),
hits AS (
  SELECT r.qid,
         CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits_exact
  FROM rerank r
  LEFT JOIN exact_top e ON e.qid = r.qid AND e.vec_id = r.vec_id
  GROUP BY 1
)"""


def sql_adc_search(codebook_ctes: str) -> str:
    """Oracle of :func:`adc_rerank` over the whole corpus against any
    CTE chain whose last CTE is ``codebook`` (m, k, csub)."""
    return f"""WITH {sql_vecs_subs()},
{codebook_ctes},
{sql_pq_ctes()},
adc AS (
  {sql_adc()}
),
{sql_rerank_ctes()}
SELECT r.qid, r.vec_id, r.adc_micro, r.d2_micro, h.n_hits_exact
FROM rerank r JOIN hits h ON h.qid = r.qid"""


def sql_coarse_cells() -> str:
    """SELECT body of :func:`coarse_cells` over ``vecs``."""
    return f"""SELECT vec_id AS cid, embedding AS cv FROM vecs
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CELLS}"""


def sql_coarse_candidates(n_probe: int) -> str:
    """:func:`coarse_candidates` over ``vecs`` as the CTEs ``cells``,
    ``assign``, ``probes`` and ``cand`` (qid, vec_id, prn)."""
    return f"""cells AS (
  {sql_coarse_cells()}
),
assign AS (
  {sql_nearest("vecs v CROSS JOIN cells c", ("v.vec_id",),
               sql_micro(sql_sq_dist("v.embedding", "c.cv")), "c.cid", "cid")}
),
probes AS (
  {sql_top_n("q.vec_id AS qid, c.cid",
             f"vecs q CROSS JOIN cells c WHERE q.vec_id < {N_QUERIES}",
             ("q.vec_id",),
             f"{sql_micro(sql_sq_dist('q.embedding', 'c.cv'))}, c.cid",
             n_probe, rank="prn")}
),
cand AS (
  SELECT p.qid, a.vec_id, p.prn FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.qid
)"""


def sql_cosine_topk() -> str:
    """Oracle of :func:`cosine_topk`."""
    cos = sql_cosine("q.embedding", "v.embedding")
    return f"""WITH {sql_vecs()}
    {sql_top_n(f"q.vec_id AS qid, v.vec_id AS vec_id, {cos} AS cosine",
               "vecs q JOIN vecs v ON q.vec_id <> v.vec_id"
               f" WHERE q.vec_id < {N_QUERIES}",
               ("q.vec_id",), f"{cos} DESC, v.vec_id", TOP_K, rank="rn")}"""


def sql_ivf_cosine_ctes(n_probe: int) -> str:
    """:func:`ivf_cosine_candidates` over ``vecs`` and its
    :func:`coarse_cells` as the CTEs ``icents``, ``iassign``,
    ``iprobes`` and ``iscored`` (qid, vec_id, prn, cosine)."""
    return f"""icents AS ({sql_coarse_cells()}),
    iassign AS (
      {sql_top_n("v.vec_id, v.embedding, c.cid", "vecs v CROSS JOIN icents c",
                 ("v.vec_id",), f"{sql_cosine('v.embedding', 'c.cv')} DESC, c.cid",
                 1)}
    ),
    iprobes AS (
      {sql_top_n("q.vec_id AS qid, c.cid",
                 f"vecs q CROSS JOIN icents c WHERE q.vec_id < {N_QUERIES}",
                 ("q.vec_id",), f"{sql_cosine('q.embedding', 'c.cv')} DESC, c.cid",
                 n_probe, rank="prn")}
    ),
    iscored AS (
      SELECT p.qid, a.vec_id, p.prn,
             {sql_cosine("q.embedding", "a.embedding")} AS cosine
      FROM iprobes p
      JOIN iassign a ON a.cid = p.cid AND a.vec_id <> p.qid
      JOIN vecs q ON q.vec_id = p.qid
    )"""


def sql_ivf_topk() -> str:
    """Oracle of :func:`ivf_topk`."""
    return f"""WITH {sql_vecs()},
    {sql_ivf_cosine_ctes(N_PROBE)}
    {sql_top_n("qid, vec_id, cosine", "iscored", ("qid",), "cosine DESC, vec_id",
               TOP_K, rank="rn")}"""
