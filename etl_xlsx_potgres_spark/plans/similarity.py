"""Similarity search over the embeddings table.

- ``ann_cosine_topk``: exact brute-force cosine top-k (the baseline
  and the recall oracle). At 100 TB this is the per-bucket inner loop,
  not the global strategy.
- ``ann_lsh_topk``: random-hyperplane LSH bucketing — the scale path.
  Probes only the query's bucket (plus the exact re-rank within it).
  The hyperplanes are the portable +-1 sign-plane family (one md5 hex
  digit decides each coefficient; projections are sequential double
  folds), bit-identical in Spark and DuckDB — so the bucketing itself
  is oracle-checked, not just rows-counted.
- ``ann_ml_brp_lsh``: MLlib BucketedRandomProjectionLSH — the library
  path; hash family is JVM-internal, rows-only check + recall pytest.
- ``ann_ivf_topk``: inverted-file ANN with a hash-picked codebook —
  broadcast assign, partition-prune-then-rerank, fully oracle-checked.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def _duck_cos(a: str, b: str) -> str:
    dot = (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    na = f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    return f"({dot} / ({na} * {nb}))"


# --- Zero-norm / NULL-embedding guard (r19, VERDICT r18 task 1) -------
#
# A zero-norm embedding makes every cosine against it 0/0 = NaN, and
# the two engines RANK NaN differently in the family's two argmin/
# top-n formulations: Spark's min(struct(-cos, id)) puts -NaN last
# (NaN is the largest double in an ascending struct sort) while
# `ORDER BY cosine DESC` puts NaN FIRST in both Spark windows and
# DuckDB — so a single zero-norm vector in a corpus would flip every
# differential in the similarity family at once.  The shared guard
# excludes the degenerate input class at the scan on BOTH engines:
# embedding present, no NULL components (a NULL component NULLs the
# Spark fold but is SKIPPED by DuckDB's list_sum — the guard must not
# itself diverge), and a FINITE, strictly positive squared norm (the
# cosine denominator's radicand, same sequential fold both engines
# run — so "guarded" is exactly "the cosine below cannot be NaN").
# `0 < sq < inf` is one predicate pair covering every degenerate
# norm: zero vectors and empty arrays fail `> 0` (Spark folds [] to
# 0.0, DuckDB list_sum gives NULL — both drop), NaN components make
# sq NaN and Inf components make it +inf — and BOTH engines rank NaN
# above every double, so `sq < inf` rejects both.  Under ANSI mode
# (the engine default) an unguarded zero norm doesn't even diverge —
# it ABORTS the query with DIVIDE_BY_ZERO; the guard is what lets a
# real corpus with a few broken rows run at all.

def sq_norm(col):
    """Sum of squared components — the cosine denominator's radicand,
    as the same sequential double fold the family's norms use."""
    return F.aggregate(
        col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def valid_vecs(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """The similarity family's shared input guard: drop NULL,
    NULL-component, and zero-norm embeddings (see the section
    comment).  Every query whose cosine feeds a ranking reads its
    vectors through this; :func:`duck_valid` is the oracle twin."""
    c = F.col(col)
    sq = sq_norm(c)
    return emb.filter(
        c.isNotNull()
        & ~F.exists(c, lambda x: x.isNull())
        & (sq > 0)
        & (sq < F.lit(float("inf")))
    )


def duck_valid(col: str = "embedding") -> str:
    """DuckDB twin of :func:`valid_vecs`'s predicate."""
    sq = (
        f"list_sum(list_transform({col},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    return (
        f"{col} IS NOT NULL"
        f" AND len(list_filter({col}, x -> x IS NULL)) = 0"
        f" AND {sq} > 0 AND {sq} < 'infinity'::DOUBLE"
    )


# Portable sign-plane family for cross-engine LSH: coefficient s(p,d)
# is +-1 decided by one md5 hex digit, and projections are sequential
# double folds — both bit-identical in Spark and DuckDB, so LSH
# bucketing built on these planes is exactly oracle-checkable.
#
# Hot-path note: the coefficients depend only on (plane, dim), so the
# Spark side precomputes them driver-side (hashlib.md5 == engine md5)
# and emits a flat literal-coefficient arithmetic chain — whole-stage
# codegen instead of an interpreted per-row HOF fold, at identical
# left-to-right addition order (so the result stays bit-equal to the
# DuckDB list_sum fold).
HP_BITS = 16
HP_BAND_BITS = 4  # 4 bands x 4 bits
EMB_DIM = 64  # the embeddings table's dimensionality


def _sign_coeffs(p: int, dim: int) -> list[float]:
    import hashlib

    return [
        1.0
        if hashlib.md5(f"hp{p}_{d}".encode()).hexdigest()[0] < "8"
        else -1.0
        for d in range(dim)
    ]


def _sign_plane_bit_sql(col: str, p: int, dim: int) -> str:
    coeffs = _sign_coeffs(p, dim)
    terms = " + ".join(
        f"CAST(element_at(`{col}`, {d + 1}) AS DOUBLE) * {c!r}D"
        for d, c in enumerate(coeffs)
    )
    return f"(CASE WHEN ({terms}) >= 0D THEN '1' ELSE '0' END)"


def sign_plane_signature(col: str, bits: int = HP_BITS, dim: int = EMB_DIM):
    """'0'/'1' signature string of an array column named ``col``
    (``bits`` planes; ``dim`` must match the array length). Built as
    ONE SQL expression string: constructing the ~bits*dim-term tree
    through py4j Column ops costs seconds of driver time; one expr()
    parse is milliseconds."""
    body = ", ".join(_sign_plane_bit_sql(col, p, dim) for p in range(bits))
    return F.expr(f"concat({body})")


def sql_sign_plane_signature(vec: str, bits: int = HP_BITS) -> str:
    """DuckDB twin of :func:`sign_plane_signature` (same md5 planes,
    same left-to-right fold)."""
    out = []
    for p in range(bits):
        proj = (
            f"list_sum(list_transform(generate_series(1, len({vec})), i ->"
            f" (CASE WHEN substring(md5('hp{p}_' || CAST(i - 1 AS VARCHAR)), 1, 1)"
            f" < '8' THEN 1.0 ELSE -1.0 END) * CAST({vec}[i] AS DOUBLE)))"
        )
        out.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(out)


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE {duck_valid()}
    )
    SELECT qid, vec_id, cosine, rn FROM (
      SELECT q.vec_id AS qid, v.vec_id AS vec_id,
             {_duck_cos("q.embedding", "v.embedding")} AS cosine,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               {_duck_cos("q.embedding", "v.embedding")} DESC, v.vec_id) AS rn
      FROM vecs q JOIN vecs v ON q.vec_id <> v.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rn <= {TOP_K}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    v = emb.select("vec_id", F.col("embedding").alias("vv"))
    cosine = _dot("qv", "vv") / (_norm("qv") * _norm("vv"))
    # exact baseline is inherently O(queries x corpus)
    scored = q.join(v, F.col("qid") != F.col("vec_id")).select(
        "qid", "vec_id", cosine.alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", "cosine", "rn")
    )


# Scale path: multi-probe sign-plane LSH. Every vector lives in one
# 4-bit bucket; each query probes its own bucket PLUS the 4 buckets at
# Hamming distance 1 (flip one plane bit) — the standard multi-probe
# trick that buys back recall lost to boundary-crossing neighbors at
# 5/16 of the corpus instead of all of it, re-ranked exactly within
# the probed set. Still an equi-join on the bucket key (the probe
# explode happens on the tiny query side) and fully oracle-checked
# (portable plane family).
N_PLANES = 4


def _flip_bit_sql(bucket: str, i: int) -> str:
    return (
        f"substring({bucket}, 1, {i}) ||"
        f" (CASE substring({bucket}, {i + 1}, 1) WHEN '1' THEN '0' ELSE '1' END) ||"
        f" substring({bucket}, {i + 2})"
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {sql_sign_plane_signature("embedding", N_PLANES)} AS bucket
      FROM embeddings WHERE {duck_valid()}
    ),
    probes AS (
      SELECT vec_id AS qid, embedding AS qv,
             unnest([bucket,
                     {", ".join(_flip_bit_sql("bucket", i) for i in range(4))}
                    ]) AS bucket
      FROM sig WHERE vec_id < {N_QUERIES}
    )
    SELECT qid, vec_id, cosine, rn FROM (
      SELECT q.qid, v.vec_id,
             {_duck_cos("q.qv", "v.embedding")} AS cosine,
             row_number() OVER (PARTITION BY q.qid ORDER BY
               {_duck_cos("q.qv", "v.embedding")} DESC, v.vec_id) AS rn
      FROM probes q JOIN sig v
        ON q.bucket = v.bucket AND q.qid <> v.vec_id
    ) WHERE rn <= {TOP_K}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", sign_plane_signature("embedding", N_PLANES)
    )

    def flip(i: int):
        flipped = F.when(
            F.substring("bucket", i + 1, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))
        return F.concat(
            F.substring("bucket", 1, i), flipped, F.substring("bucket", i + 2, N_PLANES)
        )

    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.explode(
                F.array(F.col("bucket"), *[flip(i) for i in range(N_PLANES)])
            ).alias("bucket"),
        )
    )
    v = emb.select("vec_id", F.col("embedding").alias("vv"), "bucket")
    cosine = _dot("qv", "vv") / (_norm("qv") * _norm("vv"))
    scored = (
        q.join(v, "bucket")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", "cosine", "rn")
    )


# MLlib-integrated alternative: BucketedRandomProjectionLSH (euclidean)
# with approxSimilarityJoin — the library path when the pipeline
# already uses Spark ML. Seeded, so results are reproducible run to
# run, but the hash family is JVM-internal (not portable to the SQL
# oracle) — so the query verifies itself with a RECALL bound: it also
# computes the exact euclidean top-k within the same radius (brute
# force, query side broadcast) and emits one (qid, recall_ok) row per
# query where recall_ok := |lsh_candidates ∩ exact_topk| >= 60% of
# |exact_topk|. The oracle enumerates the query ids and expects TRUE
# for every one — an LSH recall collapse becomes a hash mismatch.
# (Measured recall is 1.0 at every test SF; 0.6 leaves head-room for
# seed-sensitivity without accepting a broken index.)
BRP_RADIUS = 1.2
BRP_MIN_RECALL = 0.6


@register(
    "ann_ml_brp_lsh",
    oracle=f"""
    SELECT vec_id AS qid, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES} AND {duck_valid()}
    ORDER BY qid
    """,
)
def ann_ml_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = valid_vecs(load_table(spark, sf_dir, "embeddings")).withColumn(
        "v", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(
        queries.withColumnRenamed("qv", "v"), emb, BRP_RADIUS, distCol="dist"
    )
    cand = pairs.filter(F.col("datasetA.qid") != F.col("datasetB.vec_id")).select(
        F.col("datasetA.qid").alias("qid"),
        F.col("datasetB.vec_id").alias("vec_id"),
    )

    # independent exact baseline: euclidean top-k within the radius.
    # The query side is bounded by construction (vec_id < N_QUERIES,
    # i.e. <= 10 rows) so it gets an explicit broadcast hint — relying
    # on size stats for a non-equi join risks a CartesianProduct
    # fallback on a large corpus; the corpus itself is never broadcast.
    raw = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    q = raw.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    v = raw.select("vec_id", F.col("embedding").alias("vv"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                "qv", "vv",
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    w = Window.partitionBy("qid").orderBy("dist", "vec_id")
    # hint ONLY at the non-equi join that needs it: hinting the q
    # frame itself propagates to the final verdict joins where q is
    # the LEFT side of a left outer join — Spark can't build-left
    # there and logs an ignored-hint warning on every run
    exact = (
        constant_size(q).join(v, F.col("qid") != F.col("vec_id"))
        .withColumn("dist", dist)
        .filter(F.col("dist") <= BRP_RADIUS)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id")
    )
    n_exact = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = (
        exact.join(cand, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    return (
        q.select("qid")
        .join(n_exact, "qid", "left")
        .join(n_found, "qid", "left")
        .select(
            "qid",
            (
                F.coalesce("n_found", F.lit(0))
                >= BRP_MIN_RECALL * F.coalesce("n_exact", F.lit(0))
            ).alias("recall_ok"),
        )
        .orderBy("qid")
    )


# IVF (inverted-file) ANN — the third scale path alongside the two LSH
# variants: the coarse codebook is a deterministic hash-picked sample
# (not trained k-means), cell assignment is argmax-cosine with a
# (cosine DESC, cid) tiebreak, and per-row double arithmetic is
# engine-identical. Probing the N_PROBE nearest cells turns the O(N*Q)
# scan into O(N*Q*nprobe/cells) expected, re-ranked exactly within the
# probed cells — the same partition-prune-then-rerank shape a 100 TB
# vector store needs (cells become partition keys; the assign pass is
# one map-side broadcast join; the search shuffles only candidates).
N_CELLS = 16
N_PROBE = 4


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE {duck_valid()}
    ),
    cents AS (
      SELECT vec_id AS cid, embedding AS cv FROM vecs
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CELLS}
    ),
    assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT v.vec_id, v.embedding, c.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {_duck_cos("v.embedding", "c.cv")} DESC, c.cid) AS arn
        FROM vecs v CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_duck_cos("q.embedding", "c.cv")} DESC, c.cid) AS prn
        FROM vecs q CROSS JOIN cents c
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE prn <= {N_PROBE}
    )
    SELECT qid, vec_id, cosine, rn FROM (
      SELECT p.qid, a.vec_id,
             {_duck_cos("q.embedding", "a.embedding")} AS cosine,
             row_number() OVER (PARTITION BY p.qid ORDER BY
               {_duck_cos("q.embedding", "a.embedding")} DESC, a.vec_id) AS rn
      FROM probes p
      JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid
      JOIN vecs q ON q.vec_id = p.qid
    ) WHERE rn <= {TOP_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    cents = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )
    cos_vc = _dot("embedding", "cv") / (_norm("embedding") * _norm("cv"))
    aw = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "cid")
    assign = (
        emb.crossJoin(constant_size(cents))
        .withColumn("ccos", cos_vc)
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") == 1)
        .select("vec_id", "embedding", "cid")
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        .crossJoin(constant_size(cents))
        .withColumn("ccos", _dot("qv", "cv") / (_norm("qv") * _norm("cv")))
        .withColumn("prn", F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("ccos"), "cid")))
        .filter(F.col("prn") <= N_PROBE)
        .select("qid", "qv", "cid")
    )
    cosine = _dot("qv", "embedding") / (_norm("qv") * _norm("embedding"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        probes.join(assign, "cid")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", "cosine", "rn")
    )


def dot_flat(a: str, b: str, dim: int = EMB_DIM):
    """Codegen-friendly dot product of two array columns (by name):
    flat left-assoc chain — bit-equal to the sequential HOF fold
    (0.0 + t0 == t0) and to DuckDB list_sum, but whole-stage-compiled
    instead of interpreted, and built as one expr() parse instead of
    ~dim py4j Column calls."""
    terms = " + ".join(
        f"CAST(element_at(`{a}`, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at(`{b}`, {i + 1}) AS DOUBLE)"
        for i in range(dim)
    )
    return F.expr(f"({terms})")


def norm_flat(a: str, dim: int = EMB_DIM):
    terms = " + ".join(
        f"CAST(element_at(`{a}`, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at(`{a}`, {i + 1}) AS DOUBLE)"
        for i in range(dim)
    )
    return F.expr(f"sqrt({terms})")


def sign_plane_signature_pandas(col, bits: int = HP_BITS, dim: int = EMB_DIM):
    """Arrow-batched twin of :func:`sign_plane_signature` — identical
    bits (exact +-1.0 coefficient products, sequential left-assoc sum
    per plane, >= 0 test), but computed as numpy column ops instead of
    a ~bits*dim-term codegen expression whose janino compile alone
    costs seconds on the first run."""
    from pyspark.sql.functions import pandas_udf

    coeffs = [_sign_coeffs(p, dim) for p in range(bits)]

    @pandas_udf("string")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        A = np.stack(v.to_numpy()).astype(np.float64)
        planes = []
        for p in range(bits):
            acc = A[:, 0] * coeffs[p][0]
            for d in range(1, dim):
                acc = acc + A[:, d] * coeffs[p][d]
            planes.append(np.where(acc >= 0.0, "1", "0"))
        out = planes[0]
        for b in planes[1:]:
            out = np.char.add(out, b)
        return pd.Series(out, index=v.index).astype("object")

    return _sig(col)


def dot_pairs_pandas(a_col, b_col):
    """Arrow-batched dot product for HIGH-VOLUME pair verification.

    ``dot_flat`` unrolls dim terms into the enclosing whole-stage
    method; fused behind a couple of joins that method passes either
    janino's 64 KB limit (compile fails, ~10 s wasted on the first
    attempt, then interpreted fallback) or the JVM JIT's huge-method
    bytecode limit (compiles but never JITs — measured ~24 us/pair,
    2.5x slower than the interpreted fallback). For a verify stage
    that feeds hundreds of thousands of candidate pairs through the
    dot, the scale path is a vectorized pandas UDF: one Arrow batch
    transfer, numpy column ops across the batch, and a SEQUENTIAL
    accumulation over dimensions (``acc = acc + a_i*b_i`` per row,
    0.0 + t0 == t0) so every per-row result stays bit-identical to
    the ``dot_flat`` left-assoc chain and to the DuckDB
    ``list_sum(list_transform(list_zip(...)))`` oracle fold.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(ea: pd.Series, eb: pd.Series) -> pd.Series:
        if len(ea) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(ea.to_numpy()).astype(np.float64)
        B = np.stack(eb.to_numpy()).astype(np.float64)
        acc = A[:, 0] * B[:, 0]
        for i in range(1, A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
        return pd.Series(acc, index=ea.index)

    return _dot(a_col, b_col)
