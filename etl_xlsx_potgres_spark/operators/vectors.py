"""Vector kernels of the similarity family: squared-L2 distance, dot
product, squared norm, cosine, the zero-norm input guard and the
portable sign-plane LSH signature.

Every expression shared with an oracle is defined here once, with its
renderings side by side: a Spark form (a ``Column``) and a DuckDB form
(``sql_*``, an expression string).  Plan modules import them instead
of spelling their own folds.

The fold contract, in every rendering: a LEFT fold from ``0.0`` over
the components in index order, each component cast to double before
the product or difference.  Spark's ``aggregate`` and DuckDB's
``list_sum`` then add the same doubles in the same order, so the two
engines agree bit for bit (``tests/test_embedding_lsh.py::
test_dot_implementations_bit_identical``).  A distance that feeds a
rank or a cross-row sum is floored to integer micro units first,
``CAST(floor(x * 1e6) AS BIGINT)`` (:func:`micro`), so ranks and sums
are exact integers on both engines at any partitioning.

Some folds keep more than one Spark rendering, each chosen for a
measured codegen reason and each held to the same bits by the parity
test: the ``aggregate`` HOF (:func:`dot`, :func:`sq_norm`), the
unrolled flat chain (:func:`norm_flat`) and the Arrow-batched numpy
fold (:func:`dot_pairs_pandas`); likewise :func:`sign_plane_signature`
and :func:`sign_plane_signature_pandas`.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMB_DIM = 64  # the embeddings table's dimensionality


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def micro(c: Column) -> Column:
    """A double in integer micro units: ``floor(x * 1e6)`` as BIGINT.
    DuckDB twin: :func:`sql_micro`."""
    return F.floor(c * 1000000).cast("long")


def sql_micro(x: str) -> str:
    """DuckDB twin of :func:`micro`."""
    return f"CAST(floor({x} * 1000000) AS BIGINT)"


def sq_dist(a: str, b: str, dim: int = EMB_DIM) -> Column:
    """Squared L2 distance of two array columns named ``a`` and ``b``
    (``dim`` components).  DuckDB twin: :func:`sql_sq_dist`."""
    return F.expr(
        f"aggregate(transform(sequence(1, {dim}), i ->"
        f" power(cast(element_at({a}, i) as double)"
        f" - cast(element_at({b}, i) as double), 2D)),"
        f" 0D, (acc, t) -> acc + t)"
    )


def sql_sq_dist(a: str, b: str, dim: int = EMB_DIM) -> str:
    """DuckDB twin of :func:`sq_dist`."""
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), i ->"
        f" pow(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE), 2)))"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns.  DuckDB twin: :func:`sql_dot`."""
    return F.aggregate(
        F.zip_with(
            _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot`."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def sq_norm(a: Column | str) -> Column:
    """Sum of squared components, the cosine denominator's radicand.
    DuckDB twin: :func:`sql_sq_norm`."""
    return F.aggregate(
        _c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def sql_sq_norm(a: str) -> str:
    """DuckDB twin of :func:`sq_norm`."""
    return f"list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def cosine(a: Column | str, b: Column | str) -> Column:
    """``dot / (sqrt(sq_norm(a)) * sqrt(sq_norm(b)))``.  DuckDB twin:
    :func:`sql_cosine`."""
    return dot(a, b) / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))


def sql_cosine(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine`."""
    return (
        f"({sql_dot(a, b)} / (sqrt({sql_sq_norm(a)}) * sqrt({sql_sq_norm(b)})))"
    )


def norm_flat(a: str, dim: int = EMB_DIM) -> Column:
    """``sqrt(sq_norm(a))`` as an unrolled left-assoc chain (0.0 + t0
    == t0): whole-stage-compiled instead of an interpreted HOF, and one
    expr() parse instead of ~dim py4j Column calls.  Use it per VECTOR;
    per PAIR the chain outgrows janino (see :func:`dot_pairs_pandas`)."""
    terms = " + ".join(
        f"CAST(element_at(`{a}`, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at(`{a}`, {i + 1}) AS DOUBLE)"
        for i in range(dim)
    )
    return F.expr(f"sqrt({terms})")


def dot_pairs_pandas(a_col: Column, b_col: Column) -> Column:
    """Arrow-batched :func:`dot` for HIGH-VOLUME pair verification.

    An unrolled dim-term dot inside the enclosing whole-stage method,
    fused behind a couple of joins, passes either janino's 64 KB limit
    (compile fails, ~10 s wasted on the first attempt, then interpreted
    fallback) or the JVM JIT's huge-method bytecode limit (compiles but
    never JITs — measured ~24 us/pair, 2.5x slower than the interpreted
    fallback).  Here: one Arrow batch transfer, numpy column ops across
    the batch, and a SEQUENTIAL accumulation over dimensions
    (``acc = acc + a_i*b_i`` per row), the same left fold as every
    other rendering."""
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


# --- Zero-norm / NULL-embedding guard ---------------------------------
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
    sq = sql_sq_norm(col)
    return (
        f"{col} IS NOT NULL"
        f" AND len(list_filter({col}, x -> x IS NULL)) = 0"
        f" AND {sq} > 0 AND {sq} < 'infinity'::DOUBLE"
    )


# --- Portable sign-plane LSH signature --------------------------------
#
# Coefficient s(p,d) is +-1 decided by one md5 hex digit, and each
# projection is a sequential double fold — both bit-identical in Spark
# and DuckDB, so LSH bucketing built on these planes is exactly
# oracle-checkable.  The coefficients depend only on (plane, dim), so
# the Spark side precomputes them driver-side (hashlib.md5 == engine
# md5) and emits literal-coefficient arithmetic at the same
# left-to-right addition order as the DuckDB list_sum fold.
HP_BITS = 16
HP_BAND_BITS = 4  # 4 bands x 4 bits


def _sign_coeffs(p: int, dim: int) -> list[float]:
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


def sign_plane_signature(col: str, bits: int = HP_BITS, dim: int = EMB_DIM) -> Column:
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


def sign_plane_signature_pandas(col, bits: int = HP_BITS, dim: int = EMB_DIM) -> Column:
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
