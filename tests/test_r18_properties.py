"""r18 property checks: the calibration's cost-bounded verify tiers.

VERDICT r17 task 2: the exact-Jaccard verify (two shingle joins per
candidate pair) was the stack's highest 10x probe residual.  The r18
calibration bounds it in two tiers — a free size-bound
(2*min(|A|,|B|) < max implies truth < 1/2 without any join) and a
count-adaptive md5-coin sample of expected size VERIFY_TARGET for the
rest — both reported as data in ``verify_mode``.  These tests pin the
tier invariants the oracle differential can't state directly (the
oracle mirrors the rule, so a WRONG rule would still hash-match).
"""

from __future__ import annotations

from etl_xlsx_potgres_spark import registry
from etl_xlsx_potgres_spark.plans.minhash_calibration import VERIFY_TARGET

registry.load_all()


def _rows(spark, sf_dir):
    return registry.QUERIES["dedup_minhash_calibration"](
        spark, sf_dir
    ).collect()


def test_calibration_exact_tier_is_complete(spark, sf_dir):
    rows = _rows(spark, sf_dir)
    exact = [r for r in rows if r.verify_mode == "exact"]
    assert exact, "no exact tier — the audit verified nothing"
    for r in exact:
        assert r.inter is not None and r.uni is not None
        assert r.exact_jaccard is not None and r.err_micro is not None
        assert r.screen in {"tp", "fp", "fn", "tn"}
        # the size bound must hold as an upper bound on the truth
        assert r.exact_jaccard * 1_000_000 <= r.jmax_micro + 1


def test_calibration_bounded_tier_is_free_and_sound(spark, sf_dir):
    """Bounded rows carry NO exact columns (the whole point: no
    shingle join ran) and their screen verdict assumes truth=false,
    which the STRICT size bound guarantees."""
    rows = _rows(spark, sf_dir)
    bounded = [r for r in rows if r.verify_mode == "bounded"]
    assert bounded, "size bound never fired on the fixture"
    for r in bounded:
        assert r.inter is None and r.uni is None
        assert r.exact_jaccard is None and r.err_micro is None
        # strict bound: jmax = min*1e6 DIV max < 500000 exactly when
        # 2*min < max
        assert r.jmax_micro < 500_000
        assert r.screen in {"fp", "tn"}
        assert (r.screen == "fp") == (r.n_eq >= 4)


def test_calibration_small_corpora_fully_verified(spark, sf_dir):
    """The count-adaptive coin passes EVERY pair while the unbounded
    candidate set fits VERIFY_TARGET — the sf0.01 driver gate (and
    this fixture) must stay a full audit, sampling only kicks in at
    scale."""
    rows = _rows(spark, sf_dir)
    n_unbounded = sum(1 for r in rows if r.verify_mode != "bounded")
    assert n_unbounded <= VERIFY_TARGET, (
        "fixture outgrew VERIFY_TARGET; move this assertion"
    )
    assert not [r for r in rows if r.verify_mode == "sampled_out"]


# --------------------------------------------- sampling boundary fixture

def _many_pairs_fixture(spark, tmp_path) -> str:
    """> VERIFY_TARGET unbounded candidate pairs: 12 clusters of 40
    byte-identical docs (distinct text per cluster).  Every cluster's
    hot band buckets emit C(8,2)=28 capped join pairs + 32 star edges
    = 60 distinct pairs -> 720 total, all size-equal (never
    size-bounded), so the count-adaptive coin must actually sample."""
    from pyspark.sql import Row

    from etl_xlsx_potgres_spark.sources.tables import SCHEMAS

    rows = []
    doc_id = 0
    for g in range(12):
        text = f"cluster{g} alpha beta gamma delta epsilon zeta eta{g}"
        for _ in range(40):
            rows.append(
                Row(doc_id=doc_id, text=text, lang="en", source="web",
                    n_chars=len(text))
            )
            doc_id += 1
    spark.createDataFrame(rows, SCHEMAS["documents"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_calibration_sampling_fires_and_matches_oracle(spark, tmp_path):
    """The sampled_out tier only fires past VERIFY_TARGET unbounded
    pairs — invisible on the standard fixtures below sf0.1.  This
    synthetic corpus crosses the boundary, and the md5-coin decision
    must agree with DuckDB bit-for-bit (the r18a integer-coin
    pattern), pinning the sampling rule itself, not just its quiet
    small-corpus behavior."""
    import duckdb

    from .oracle_utils import assert_frames_match

    sf = _many_pairs_fixture(spark, tmp_path)
    name = "dedup_minhash_calibration"
    spark_pdf = registry.QUERIES[name](spark, sf).toPandas()
    modes = spark_pdf["verify_mode"].value_counts().to_dict()
    assert modes.get("sampled_out", 0) > 0, modes
    assert modes.get("exact", 0) > 0, modes
    out = spark_pdf[spark_pdf["verify_mode"] == "sampled_out"]
    assert out["inter"].isna().all() and out["screen"].isna().all()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle_pdf = con.sql(registry.ORACLES[name]).df()
    con.close()
    assert_frames_match(spark_pdf, oracle_pdf, name)


# ------------------------------------------------ primitive unit tests

def test_star_edges_equals_groupby_min_formulation(spark, sf_dir):
    """star_edges reuses the cap window's rank-1 rows as bucket
    leaders; that must be EXACTLY the groupBy-min formulation (one
    edge from each bucket's minimum doc_id to every other member)."""
    from pyspark.sql import functions as F

    from etl_xlsx_potgres_spark.operators.lsh import (
        band_rows,
        minhash_signatures,
        ranked_band_rows,
        star_edges,
    )
    from etl_xlsx_potgres_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d).filter(F.col("mh0").isNotNull())
    bands = band_rows(sig)
    got = {
        (r.d1, r.d2, r.band_id)
        for r in star_edges(bands, ranked_band_rows(bands)).collect()
    }
    mins = bands.groupBy("band_id", "band_key").agg(
        F.min("doc_id").alias("d1")
    )
    want = {
        (r.d1, r.d2, r.band_id)
        for r in bands.join(mins, ["band_id", "band_key"])
        .filter(F.col("doc_id") > F.col("d1"))
        .select("d1", F.col("doc_id").alias("d2"), "band_id")
        .collect()
    }
    assert got == want and got
