"""MinHash estimator calibration — estimate-vs-exact error accounting
for the signature screen (Broder 1997: the fraction of agreeing
minhash components is an unbiased estimator of Jaccard similarity
with variance J(1-J)/k).  ``ann_recall_eval`` audits the ANN index
against brute force; this is the same discipline for the dedup
family: for every LSH candidate pair, the 8-component signature
estimate sits next to the EXACT 3-shingle Jaccard, with the error in
exact integer micro-units and the screen decision (estimate >= 0.5
vs truth >= 0.5) classified into tp/fp/fn/tn — the confusion table a
production dedup run monitors before trusting signature-level
thresholds at 100 TB (where computing exact Jaccard per pair is
unaffordable and the estimator IS the decision).

The exact-verify stage is COST-BOUNDED (r18, VERDICT r17 task 2 —
the two shingle joins per candidate pair were the stack's highest
10x probe residual), in two tiers, both reported as hash-checked
data in ``verify_mode``:

- ``bounded``: pairs whose shingle counts make the screen truth
  FREE — ``2 * min(|A|,|B|) < max(|A|,|B|)`` implies
  ``J <= min/max < 1/2`` (inter <= min, union >= max), so the truth
  side of the screen is false WITHOUT any shingle join.  These rows
  keep the size bound (``jmax_micro``) but carry NULL exact columns.
- ``sampled_out``: of the remaining pairs, only a deterministic
  md5-coin sample of expected size VERIFY_TARGET pays the exact
  joins (keep iff ``coin(d1,d2) < (16^6 * VERIFY_TARGET) DIV
  n_unbounded`` — the count-adaptive coin threshold stated as a
  floor DIVISION so the arithmetic cannot wrap BIGINT at any
  candidate-set size (r19, ADVICE r18); one scalar aggregate
  broadcast back, the ``dedup_incremental_more`` seeding pattern).
  When n_unbounded <= VERIFY_TARGET every pair passes (the
  threshold is >= 16^6, above every coin), so small corpora —
  including the sf0.01 driver gate — are still FULLY verified; at
  scale the exact-verify cost is a constant ~VERIFY_TARGET pairs
  however the candidate set grows.  Sampled-out rows carry NULL
  exact columns and NULL screen.
- ``exact``: the full est-vs-exact row, as before.

Exactness: ``est = n_eq/8`` and ``exact = inter/union`` are single
exact divisions; the error ``|n_eq*union - 8*inter| * 1e6 DIV
(8*union)`` is pure bigint arithmetic (non-negative operands, so
DuckDB ``//`` truncation == floor == Spark ``DIV``), both screen
thresholds are INTEGER comparisons (``n_eq >= 4``,
``2*inter >= uni``), and the sampling coin and size bound are bigint
products — no float enters any verdict.

Plan shape: candidate pairs come from the SHARED capped+starred
banded LSH geometry (``operators.lsh.lsh_candidate_pairs`` — never
all-pairs; hot buckets occupancy-capped with linear star edges); the
signature frame is persisted once and feeds the band join and both
sides of the agreement join; shingle sizes join every pair (doc-level
frame, cheap) but the expensive intersection join touches ONLY the
``exact`` tier.

Reference lifecycle note: the reference (etl_process.py:1-235) has no
similarity surface; minhash accuracy auditing is north-star dedup
machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from ..operators.lsh import SQL_PAIRS, lsh_candidate_pairs, minhash_signatures
from ..operators.text import (
    HEX6,
    hex_int,
    shingles_long,
    sql_hex_int,
    sql_shingles,
)
from ..registry import register
from ..sources import load_table

VERIFY_TARGET = 512  # expected exact-verified pairs at any corpus size

_N_EQ_SQL = " + ".join(
    f"(CASE WHEN s1.mh{i} = s2.mh{i} THEN 1 ELSE 0 END)" for i in range(8)
)

# screen over (n_eq, truth); for bounded rows truth is structurally
# false, so only fp/tn are reachable there
_SCREEN = (
    "CASE WHEN verify_mode = 'sampled_out' THEN NULL "
    "WHEN n_eq >= 4 AND COALESCE(2 * inter >= uni, FALSE) THEN 'tp' "
    "WHEN n_eq >= 4 THEN 'fp' "
    "WHEN COALESCE(2 * inter >= uni, FALSE) THEN 'fn' ELSE 'tn' END"
)

_DUCK_COIN = sql_hex_int(
    "md5(CAST(d1 AS VARCHAR) || ':' || CAST(d2 AS VARCHAR))"
)


@register(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH {SQL_PAIRS},
    sh AS (
      SELECT doc_id, unnest(list_distinct({sql_shingles()})) AS s
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    sized AS (
      SELECT p.d1, p.d2, sa.n AS na, sb.n AS nb,
             2 * LEAST(sa.n, sb.n) < GREATEST(sa.n, sb.n) AS is_bounded,
             {_DUCK_COIN} AS coin
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.d1
      JOIN sizes sb ON sb.doc_id = p.d2
    ),
    unb AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_unbounded
      FROM sized WHERE NOT is_bounded
    ),
    tiered AS (
      SELECT d1, d2, na, nb,
             CASE WHEN is_bounded THEN 'bounded'
                  WHEN coin < {HEX6 * VERIFY_TARGET}
                             // GREATEST(n_unbounded, 1)
                    THEN 'exact'
                  ELSE 'sampled_out' END AS verify_mode
      FROM sized CROSS JOIN unb
    ),
    inter_c AS (
      SELECT t.d1, t.d2, CAST(COUNT(*) AS BIGINT) AS inter
      FROM tiered t
      JOIN sh a ON a.doc_id = t.d1
      JOIN sh b ON b.doc_id = t.d2 AND b.s = a.s
      WHERE t.verify_mode = 'exact'
      GROUP BY t.d1, t.d2
    ),
    eq AS (
      SELECT t.d1, t.d2, t.na, t.nb, t.verify_mode,
             CAST({_N_EQ_SQL} AS BIGINT) AS n_eq
      FROM tiered t
      JOIN sig s1 ON s1.doc_id = t.d1
      JOIN sig s2 ON s2.doc_id = t.d2
    ),
    m AS (
      SELECT e.d1, e.d2, e.n_eq, e.verify_mode,
             CAST(LEAST(e.na, e.nb) * 1000000 // GREATEST(e.na, e.nb)
                  AS BIGINT) AS jmax_micro,
             CASE WHEN e.verify_mode = 'exact'
                  THEN COALESCE(i.inter, 0) END AS inter,
             CASE WHEN e.verify_mode = 'exact'
                  THEN e.na + e.nb - COALESCE(i.inter, 0) END AS uni
      FROM eq e
      LEFT JOIN inter_c i ON i.d1 = e.d1 AND i.d2 = e.d2
    )
    SELECT d1, d2, n_eq,
           CAST(n_eq AS DOUBLE) / 8 AS est_jaccard,
           verify_mode, jmax_micro,
           CAST(inter AS BIGINT) AS inter,
           CAST(uni AS BIGINT) AS uni,
           CAST(inter AS DOUBLE) / uni AS exact_jaccard,
           CAST(abs(n_eq * uni - 8 * inter) * 1000000 // (8 * uni)
                AS BIGINT) AS err_micro,
           {_SCREEN} AS screen
    FROM m
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # persisted: the signature subplan feeds the banded self-join
    # (twice) AND both sides of the component-agreement join below —
    # without the barrier the shingle-explode + 8-md5 pipeline ran 4x
    # (this was the bench's slowest query before r17)
    sig = scoped_persist(minhash_signatures(d).filter(F.col("mh0").isNotNull()))
    # shared capped+starred band geometry — the calibration audits
    # EXACTLY the candidate set the production pair generator emits
    pairs = lsh_candidate_pairs(sig).select("d1", "d2").distinct()

    sh = scoped_persist(shingles_long(d, "text", 3).distinct())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sized = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na")),
            "d1",
        )
        .join(
            sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb")),
            "d2",
        )
        .select(
            "d1",
            "d2",
            "na",
            "nb",
            # STRICT: at 2*min == max the true Jaccard can be exactly
            # 1/2, so the screen truth is NOT free — such pairs must
            # go to the exact/sampled tiers
            (
                2 * F.least("na", "nb") < F.greatest("na", "nb")
            ).alias("is_bounded"),
            hex_int(
                F.md5(
                    F.concat(
                        F.col("d1").cast("string"),
                        F.lit(":"),
                        F.col("d2").cast("string"),
                    )
                )
            ).alias("coin"),
        )
    )
    sized = scoped_persist(sized)
    n_unb = sized.filter(~F.col("is_bounded")).agg(
        F.count(F.lit(1)).cast("long").alias("n_unbounded")
    )
    tiered = sized.crossJoin(constant_size(n_unb)).select(
        "d1",
        "d2",
        "na",
        "nb",
        F.when(F.col("is_bounded"), "bounded")
        .when(
            # coin-threshold as a floor DIVISION, not coin * n < H*T:
            # the product wraps BIGINT once the unbounded candidate
            # count passes ~5.5e11 (plausible at the 100-TB corpus
            # this tier exists for) — Spark wraps silently where
            # DuckDB raises (ADVICE r18 low).  Non-negative operands:
            # DuckDB // truncation == floor == Spark DIV.
            F.col("coin")
            < F.expr(
                f"{HEX6 * VERIFY_TARGET}L DIV GREATEST(n_unbounded, 1L)"
            ),
            "exact",
        )
        .otherwise("sampled_out")
        .alias("verify_mode"),
    )
    inter_c = (
        tiered.filter(F.col("verify_mode") == "exact")
        .select("d1", "d2")
        .join(sh.select(F.col("doc_id").alias("d1"), "s"), "d1")
        .join(sh.select(F.col("doc_id").alias("d2"), "s"), ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    s1 = sig.select(
        F.col("doc_id").alias("d1"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)]
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)]
    )
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(8)
    )
    eq = (
        tiered.join(s1, "d1").join(s2, "d2")
        .select(
            "d1", "d2", "na", "nb", "verify_mode",
            n_eq.cast("long").alias("n_eq"),
        )
    )
    is_exact = F.col("verify_mode") == "exact"
    m = (
        eq.join(inter_c, ["d1", "d2"], "left")
        .select(
            "d1",
            "d2",
            "n_eq",
            "verify_mode",
            F.expr(
                "CAST(LEAST(na, nb) * 1000000 DIV GREATEST(na, nb)"
                " AS BIGINT)"
            ).alias("jmax_micro"),
            F.when(is_exact, F.coalesce("inter", F.lit(0))).alias("inter"),
            F.when(
                is_exact,
                F.col("na") + F.col("nb") - F.coalesce("inter", F.lit(0)),
            ).alias("uni"),
        )
    )
    return m.select(
        "d1",
        "d2",
        "n_eq",
        (F.col("n_eq").cast("double") / 8).alias("est_jaccard"),
        "verify_mode",
        "jmax_micro",
        F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
        (F.col("inter").cast("double") / F.col("uni")).alias("exact_jaccard"),
        F.expr(
            "CAST(abs(n_eq * uni - 8 * inter) * 1000000 DIV (8 * uni)"
            " AS BIGINT)"
        ).alias("err_micro"),
        F.expr(_SCREEN).alias("screen"),
    )
