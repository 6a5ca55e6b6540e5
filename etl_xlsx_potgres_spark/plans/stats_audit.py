"""Statistical audit + weighted-sampling operators.

- ``stats_chi2_lang_source``: chi-square contingency audit of the
  documents corpus (is language independent of source?) — the
  drift/bias check a curation pipeline runs per ingest batch.
- ``quality_benford_prices``: Benford first-digit audit over order
  totals — the classic synthetic/fabricated-data smell test.
- ``sample_weighted_det``: deterministic weighted sampling without
  replacement (Efraimidis–Spirakis exponential-key trick) with
  md5-derived uniforms, so the "random" sample is reproducible across
  engines, partitionings, and reruns.

Determinism: expectations and frequencies are single double
expressions over exact integer counts; chi-square contributions and
sampling keys floor into integer micro units before any cross-row
reduce; the Benford reference probabilities log10(1+1/d) are
precomputed Python literals (no engine transcendentals at all).

Scale: every query is one or two partial-agg shuffles over
constant-cardinality groups (digits, lang x source cells); the
weighted sample is a map-only key computation + top-k, never a
global sort of the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table


# --------------------------------------------------------------------------
# chi-square contingency: lang x source
@register(
    "stats_chi2_lang_source",
    oracle="""
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS rt FROM o GROUP BY lang),
    c AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS ct FROM o GROUP BY source),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o)
    SELECT o.lang, o.source, o.obs,
           CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE) / CAST(n.n AS DOUBLE)
             AS expected,
           CAST(floor(
             pow(CAST(o.obs AS DOUBLE)
                 - CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
                   / CAST(n.n AS DOUBLE), 2)
             / (CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
                / CAST(n.n AS DOUBLE))
             * 1000000) AS BIGINT) AS contrib_micro
    FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
    """,
)
def stats_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed vs expected cell counts + exact micro-unit chi-square
    contributions. The cell/row/column marginals are all
    constant-cardinality aggregates derived from ONE shuffle over the
    corpus; marginal products are computed in doubles so no bigint
    overflow at any corpus size."""
    from ..caching import scoped_persist

    d = load_table(spark, sf_dir, "documents")
    # persisted: the cell frame is constant-cardinality (langs x
    # sources) and feeds FOUR consumers (marginals, total, final
    # join) — unpersisted, each consumer re-runs the corpus scan +
    # aggregate subtree
    o = scoped_persist(
        d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    )
    r = o.groupBy("lang").agg(F.sum("obs").cast("long").alias("rt"))
    c = o.groupBy("source").agg(F.sum("obs").cast("long").alias("ct"))
    n = o.agg(F.sum("obs").cast("long").alias("n"))
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    # no hints on the marginals: lang is enum-bounded but the source
    # registry can grow with the corpus — AQE broadcasts both at any
    # realistic size and falls back to a shuffle join if one explodes
    return (
        o.join(r, "lang")
        .join(c, "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "obs",
            e.alias("expected"),
            F.floor(
                F.pow(F.col("obs").cast("double") - e, F.lit(2)) / e * 1000000
            )
            .cast("long")
            .alias("contrib_micro"),
        )
    )


# --------------------------------------------------------------------------
# Benford first-digit audit — reference probabilities precomputed as
# literals so neither engine evaluates a log.
_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {_BENFORD[d]!r}" for d in range(1, 10)
) + " END"


@register(
    "quality_benford_prices",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    total AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
    SELECT digit, n,
           CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS freq,
           {_BENFORD_SQL_CASE} AS benford_p,
           abs(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
               - {_BENFORD_SQL_CASE}) AS abs_dev
    FROM counts CROSS JOIN total
    """,
)
def quality_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals vs Benford's law —
    string-prefix digit extraction (no engine log10), one 9-group
    partial aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("t"))
    p = F.element_at(
        F.create_map(
            *[F.lit(x) for d in range(1, 10) for x in (d, _BENFORD[d])]
        ),
        F.col("digit").cast("int"),
    )
    freq = F.col("n").cast("double") / F.col("t").cast("double")
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        freq.alias("freq"),
        p.alias("benford_p"),
        F.abs(freq - p).alias("abs_dev"),
    )


# --------------------------------------------------------------------------
# Deterministic weighted sampling without replacement
# (Efraimidis–Spirakis): key = ln(u) / w, take the top-k keys. u is a
# 32-bit uniform built from the first 8 hex digits of md5(doc_id) —
# the same portable md5 family as the LSH sign planes, identical in
# both engines.
SAMPLE_K = 20
_HEX = "0123456789abcdef"


def _u_spark() -> str:
    # sum_{j=1..8} (hexdigit_j / 16^j) + 2^-33  (offset keeps u > 0)
    terms = " + ".join(
        f"(cast(instr('{_HEX}', substring(h, {j}, 1)) as double) - 1.0)"
        f" / {float(16 ** j)!r}D"
        for j in range(1, 9)
    )
    return f"({terms} + {2.0 ** -33!r}D)"


def _u_duck() -> str:
    terms = " + ".join(
        f"(CAST(strpos('{_HEX}', substring(h, {j}, 1)) AS DOUBLE) - 1.0)"
        f" / {float(16 ** j)!r}"
        for j in range(1, 9)
    )
    return f"({terms} + {2.0 ** -33!r})"


@register(
    "sample_weighted_det",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             CAST(floor(
               ln({_u_duck()}) / CAST(n_chars AS DOUBLE) * 1000000)
               AS BIGINT) AS key_micro
      FROM (
        SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE n_chars > 0
      )
    )
    SELECT doc_id, n_chars, key_micro, rank FROM (
      SELECT doc_id, n_chars, key_micro,
             row_number() OVER (ORDER BY key_micro DESC, doc_id) AS rank
      FROM keyed
    ) WHERE rank <= {SAMPLE_K}
    """,
)
def sample_weighted_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{SAMPLE_K} weighted sample (weight = n_chars), reproducible
    by construction: the uniform comes from md5(doc_id), the key is
    floor-gridded into micro units, and the selection is a top-k (a
    bounded sort-merge, not a global sort)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).select(
        "doc_id",
        "n_chars",
        F.floor(
            F.expr(f"ln({_u_spark()})") / F.col("n_chars").cast("double")
            * 1000000
        )
        .cast("long")
        .alias("key_micro"),
    )
    top = keyed.orderBy(F.desc("key_micro"), "doc_id").limit(SAMPLE_K)
    from ..operators.ids import global_row_number

    return global_row_number(
        top, [F.desc("key_micro"), F.asc("doc_id")], "rank"
    ).select("doc_id", "n_chars", "key_micro", "rank")
