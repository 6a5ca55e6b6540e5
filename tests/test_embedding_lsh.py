"""Recall test for the sign-plane LSH embedding dedup on data with
REAL near-duplicates (the synthetic corpus is near-orthogonal, so the
registered query exercises machinery; this exercises retrieval)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from etl_xlsx_potgres_spark.operators.vectors import sign_plane_signature

DIM = 32
THRESHOLD = 0.9


def _clustered_vectors(seed: int, n_base: int = 60):
    rng = random.Random(seed)
    vecs = []
    for base_id in range(n_base):
        base = [rng.gauss(0, 1) for _ in range(DIM)]
        vecs.append(base)
        # near-duplicate: small perturbation (cos > ~0.99)
        vecs.append([x + rng.gauss(0, 0.02) for x in base])
        # decoy: independent vector
        vecs.append([rng.gauss(0, 1) for _ in range(DIM)])
    return [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_lsh_banded_neardup_recall(spark):
    rows = _clustered_vectors(3)
    true_pairs = {
        (i, j)
        for i, a in rows
        for j, b in rows
        if i < j and _cos(a, b) >= THRESHOLD
    }
    assert len(true_pairs) >= 50  # the generator really makes near-dups

    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    sig = df.withColumn("sig", sign_plane_signature("embedding", dim=DIM))
    bands = sig.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(*[F.substring("sig", b * 4 + 1, 4) for b in range(4)])
        ).alias("b", "bk"),
    )
    a = bands.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("ea"), "b", "bk")
    bb = bands.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("eb"), "b", "bk")
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    got = {
        (int(r.v1), int(r.v2))
        for r in (
            a.join(bb, ["b", "bk"])
            .filter(F.col("v1") < F.col("v2"))
            .select("v1", "v2", "ea", "eb")
            .distinct()
            .select("v1", "v2", (dot / (norm("ea") * norm("eb"))).alias("cosine"))
            .filter(F.col("cosine") >= THRESHOLD)
            .collect()
        )
    }
    # precision is exact by construction (cosine verify); recall must
    # be high for genuine near-dups (cos>=0.9 -> band match w.h.p.)
    assert got <= true_pairs
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"recall {recall:.3f} on {len(true_pairs)} true pairs"


def _same(x, y) -> bool:
    """Bit-level float equality that also holds for NaN == NaN."""
    if x is None or y is None:
        return x is y
    return (math.isnan(x) and math.isnan(y)) or x == y


def test_micro_mean_renderings_bit_identical(spark):
    """The exact micro-unit centroid update (``operators.ann.micro_mean``
    and its DuckDB twin ``sql_micro_mean_ctes``) is one kernel under two
    keyings — the PQ codebook's (m, k) and k-means' cid.  Both engines
    must produce the same bits under either keying, and the two keyings
    the same bits for the same groups."""
    import duckdb

    from etl_xlsx_potgres_spark.operators.ann import micro_mean, sql_micro_mean_ctes

    dim = 8
    rng = random.Random(11)
    rows = []
    for i in range(60):
        cid = i % 7  # 7 groups, (m, k) = divmod(cid, 3) is 1:1 with cid
        vec = [rng.uniform(-1, 1) * 10 ** rng.randint(-6, 3) for _ in range(dim)]
        rows.append((i, cid, cid // 3, cid % 3, vec))
    df = spark.createDataFrame(rows, ["i", "cid", "m", "k", "v"]).select(
        "cid", "m", "k", F.col("v").cast("array<float>").alias("embedding")
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (cid INTEGER, m INTEGER, k INTEGER, embedding FLOAT[])")
    for _, cid, m, k, vec in rows:
        arr = ", ".join(f"CAST(CAST('{x!r}' AS DOUBLE) AS FLOAT)" for x in vec)
        con.execute(f"INSERT INTO t VALUES ({cid}, {m}, {k}, [{arr}])")

    def duck(keys):
        sql = (
            f"WITH a1 AS (SELECT * FROM t), "
            f"{sql_micro_mean_ctes(1, keys, 'embedding', dim, 'cv')} "
            f"SELECT {', '.join(keys)}, cv FROM cb1"
        )
        return {r[:-1]: r[-1] for r in con.sql(sql).fetchall()}

    def spark_rows(keys):
        return {
            tuple(r[k] for k in keys): r.cv
            for r in micro_mean(df, keys, "embedding", "cv").collect()
        }

    by_cid, by_mk = spark_rows(("cid",)), spark_rows(("m", "k"))
    assert len(by_cid) == len(by_mk) == 7
    assert by_cid == duck(("cid",))
    assert by_mk == duck(("m", "k"))
    for (cid,), cv in by_cid.items():
        assert by_mk[divmod(cid, 3)] == cv, cid


def test_dot_implementations_bit_identical(spark):
    """Every rendering of the vector folds in ``operators/vectors.py`` —
    the Spark HOF folds (``dot``, ``sq_norm``, ``cosine``, ``sq_dist``),
    the unrolled ``norm_flat`` chain, the Arrow-batched
    ``dot_pairs_pandas`` and the DuckDB twins — must agree BIT-FOR-BIT
    on adversarial doubles, because the oracle differential and the
    cosine-threshold boundary both depend on the exact left-assoc float
    order.  A pairwise/tree summation, a dropped double cast or a
    reversed fold in any of them breaks this on these inputs."""
    import duckdb

    from etl_xlsx_potgres_spark.operators.vectors import (
        EMB_DIM,
        cosine,
        dot,
        dot_pairs_pandas,
        norm_flat,
        sq_dist,
        sq_norm,
        sql_cosine,
        sql_dot,
        sql_sq_dist,
        sql_sq_norm,
    )

    def renderings(df, dim):
        ea, eb = F.col("ea"), F.col("eb")
        return df.select(
            "i",
            "ea",
            "eb",
            dot("ea", "eb").alias("dot"),
            dot_pairs_pandas(ea, eb).alias("arrow"),
            sq_norm("ea").alias("sq"),
            F.sqrt(sq_norm("ea")).alias("norm"),
            norm_flat("ea", dim).alias("norm_flat"),
            sq_dist("ea", "eb", dim).alias("d2"),
        )

    def cosines(df, dim):
        flat = norm_flat("ea", dim) * norm_flat("eb", dim)
        return {
            r.i: r
            for r in df.select(
                "i",
                cosine("ea", "eb").alias("hof"),
                (dot_pairs_pandas(F.col("ea"), F.col("eb")) / flat).alias("arrow"),
                (dot("ea", "eb") / flat).alias("flat"),
            ).collect()
        }

    def duck(rows, dim):
        # literal casts: a bound Python NaN parameter arrives as NULL
        def arr(v):
            return "[" + ", ".join(
                f"CAST(CAST('{x!r}' AS DOUBLE) AS FLOAT)" for x in v
            ) + "]"

        con = duckdb.connect()
        con.execute("CREATE TABLE t (i INTEGER, ea FLOAT[], eb FLOAT[])")
        for r in rows:
            con.execute(f"INSERT INTO t VALUES ({r.i}, {arr(r.ea)}, {arr(r.eb)})")
        return {
            r[0]: r[1:]
            for r in con.sql(
                f"SELECT i, {sql_dot('ea', 'eb')}, {sql_sq_norm('ea')},"
                f" {sql_sq_dist('ea', 'eb', dim)}, {sql_cosine('ea', 'eb')}"
                " FROM t"
            ).fetchall()
        }

    def frame(rows):
        return spark.createDataFrame(rows, ["i", "ea", "eb"]).select(
            "i",
            F.col("ea").cast("array<float>").alias("ea"),
            F.col("eb").cast("array<float>").alias("eb"),
        )

    rng = random.Random(9)
    # magnitudes spread over 12 orders so summation order matters
    rows = [
        (
            i,
            [rng.uniform(-1, 1) * 10 ** rng.randint(-6, 6) for _ in range(EMB_DIM)],
            [rng.uniform(-1, 1) * 10 ** rng.randint(-6, 6) for _ in range(EMB_DIM)],
        )
        for i in range(50)
    ]
    df = frame(rows)
    out = renderings(df, EMB_DIM).collect()
    cos = cosines(df, EMB_DIM)
    ddb = duck(out, EMB_DIM)
    assert len(out) == 50
    for r in out:
        assert math.isfinite(r.dot) and math.isfinite(r.d2)
        d_dot, d_sq, d_d2, d_cos = ddb[r.i]
        # bit-identity, not approx: == on python floats is exact
        assert r.dot == r.arrow == d_dot, r.i
        assert r.sq == d_sq, r.i
        assert r.norm == r.norm_flat, r.i
        assert r.d2 == d_d2, r.i
        c = cos[r.i]
        assert c.hof == c.arrow == c.flat == d_cos, r.i

    # exact literals on the degenerate inputs, each paired with itself
    nan, inf = float("nan"), float("inf")
    lit = [(0, [0.0, 0.0]), (1, [1.0, nan]), (2, [1.0, inf])]
    want = {  # (dot, sq_norm, sq_dist, cosine)
        0: (0.0, 0.0, 0.0, None),
        1: (nan, nan, nan, nan),
        2: (inf, inf, nan, nan),
    }
    # the one asserted gap: the Arrow UDF's result crosses pandas ->
    # Arrow, which maps a NaN double to NULL (valid_vecs drops NaN rows)
    want_arrow = {0: 0.0, 1: None, 2: inf}
    df = frame([(i, v, v) for i, v in lit])
    out = renderings(df, 2).collect()
    # a zero norm divides 0/0: Spark's ANSI mode raises DIVIDE_BY_ZERO
    # and DuckDB returns NULL — the valid_vecs guard drops these rows
    cos = cosines(df.filter("i > 0"), 2)
    ddb = duck(out, 2)
    for r in out:
        w_dot, w_sq, w_d2, w_cos = want[r.i]
        d_dot, d_sq, d_d2, d_cos = ddb[r.i]
        for got in (r.dot, d_dot):
            assert _same(got, w_dot), (r.i, got)
        assert _same(r.arrow, want_arrow[r.i]), (r.i, r.arrow)
        for got in (r.sq, d_sq):
            assert _same(got, w_sq), (r.i, got)
        assert _same(r.norm, r.norm_flat), r.i
        for got in (r.d2, d_d2):
            assert _same(got, w_d2), (r.i, got)
        assert _same(d_cos, w_cos), r.i
        if r.i > 0:
            c = cos[r.i]
            for got in (c.hof, c.flat):
                assert _same(got, w_cos), (r.i, got)
            assert _same(c.arrow, None if r.i == 1 else w_cos), (r.i, c.arrow)
