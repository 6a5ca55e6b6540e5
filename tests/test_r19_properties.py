"""r19 property checks: the similarity family's zero-norm/NULL
embedding guard (VERDICT r18 task 1).

A zero-norm embedding makes every cosine against it 0/0 = NaN, and
the engines rank NaN differently across the family's two argmin
formulations (Spark's ``min(struct(-cos, id))`` puts NaN last, both
engines' ``ORDER BY cosine DESC`` put it first) — so one degenerate
vector would flip every differential in the family at once.  No
driver fixture carries such a row (checked at all three SFs in r18),
which made the hazard LATENT; these tests exercise the guard
non-vacuously on a synthetic corpus that actually contains a
zero-norm, a NULL, and a NULL-component embedding on BOTH sides of
the incremental 90/10 split.
"""

from __future__ import annotations

import duckdb
import pytest

from etl_xlsx_potgres_spark import registry
from etl_xlsx_potgres_spark.operators.vectors import EMB_DIM

from .oracle_utils import assert_frames_match

registry.load_all()

DIM = EMB_DIM  # norm_flat/PQ unroll exactly EMB_DIM dims
ZERO_NEW, ZERO_HIST = 20, 31    # all-zero embeddings (new / history)
NULL_NEW, NULLC_HIST = 40, 51   # NULL embedding / NULL component
NAN_HIST = 41                   # NaN component (sq norm = NaN)
DEGENERATE = {ZERO_NEW, ZERO_HIST, NULL_NEW, NULLC_HIST, NAN_HIST}


def _vec(i: int) -> list[float]:
    # deterministic, non-degenerate, with a few genuine near-dups
    # across the %10 split: 10 duplicates 11, 30 duplicates 33
    if i == 10:
        i = 11
    if i == 30:
        i = 33
    return [float(((i * 7 + d * 3) % 11) - 5) for d in range(DIM)]


@pytest.fixture(scope="module")
def degen_sf(spark, tmp_path_factory) -> str:
    from pyspark.sql import Row

    from etl_xlsx_potgres_spark.sources.tables import SCHEMAS

    rows = []
    for i in range(60):
        if i == NULL_NEW:
            emb = None
        elif i in (ZERO_NEW, ZERO_HIST):
            emb = [0.0] * DIM
        elif i == NULLC_HIST:
            emb = [1.0] * (DIM - 1) + [None]
        elif i == NAN_HIST:
            emb = [1.0] * (DIM - 1) + [float("nan")]
        else:
            emb = _vec(i)
        rows.append(Row(vec_id=i, embedding=emb, label=i % 4))
    out = tmp_path_factory.mktemp("degen")
    spark.createDataFrame(rows, SCHEMAS["embeddings"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out}/embeddings.parquet")
    return str(out)


def _run_pair(spark, degen_sf: str, name: str):
    spark_pdf = registry.QUERIES[name](spark, degen_sf).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{degen_sf}/embeddings.parquet/*.parquet')"
    )
    oracle_pdf = con.sql(registry.ORACLES[name]).df()
    con.close()
    return spark_pdf, oracle_pdf


@pytest.mark.parametrize(
    "name,id_cols",
    [
        ("ann_cosine_topk", ["qid", "vec_id"]),
        ("ann_lsh_topk", ["qid", "vec_id"]),
        ("ann_ivf_topk", ["qid", "vec_id"]),
        ("ann_recall_eval", ["qid"]),
        ("ann_pq_adc_rerank", ["qid", "vec_id"]),
        ("ann_pq_trained", ["qid", "vec_id"]),
        ("ann_ivfpq_search", ["qid", "vec_id"]),
        ("emb_pq_encode", ["vec_id"]),
        ("dedup_embedding_neardup", ["v1", "v2"]),
        ("dedup_embedding_lsh", ["v1", "v2"]),
        ("dedup_incremental_semantic", ["vec_id"]),
        ("ann_incremental_ivf", ["vec_id", "neighbor_id"]),
        ("ann_incremental_ivfpq", ["vec_id", "neighbor_id"]),
        ("dedup_semantic_clusters", ["cluster_id"]),
    ],
)
def test_guard_excludes_degenerates_and_keeps_parity(
    spark, degen_sf, name, id_cols
):
    """On a corpus that CARRIES degenerate embeddings, every family
    query must (a) still hash-match its DuckDB oracle — the ordering
    hazard the guard closes — and (b) never emit a degenerate id."""
    spark_pdf, oracle_pdf = _run_pair(spark, degen_sf, name)
    assert len(spark_pdf) > 0, f"{name}: guard emptied the result"
    assert_frames_match(spark_pdf, oracle_pdf, name)
    for c in id_cols:
        seen = set(spark_pdf[c].dropna().astype(int).tolist())
        assert not (seen & DEGENERATE), f"{name}.{c}: degenerate id leaked"


def test_guarded_dedup_still_finds_true_neardups(spark, degen_sf):
    """Non-vacuity the other way: the guard must not eat REAL rows —
    the planted cross-split duplicates keep their near-dup verdicts."""
    pdf = registry.QUERIES["dedup_incremental_semantic"](
        spark, degen_sf
    ).toPandas().set_index("vec_id")
    assert not bool(pdf.loc[10, "keep"])  # 10 re-presents history 11
    assert not bool(pdf.loc[30, "keep"])  # 30 re-presents history 33
    # the degenerate new-batch ids are DROPPED, not kept-by-default
    assert ZERO_NEW not in pdf.index and NULL_NEW not in pdf.index


def test_valid_vecs_predicate_matches_duck(spark):
    """The guard predicate itself agrees row-by-row across engines on
    every degenerate shape (NULL array, NULL component, zero norm,
    empty array, normal)."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from etl_xlsx_potgres_spark.operators.vectors import duck_valid, valid_vecs

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        Row(vec_id=0, embedding=[1.0, 2.0]),
        Row(vec_id=1, embedding=None),
        Row(vec_id=2, embedding=[0.0, 0.0]),
        Row(vec_id=3, embedding=[1.0, None]),
        Row(vec_id=4, embedding=[]),
        Row(vec_id=5, embedding=[1.0, float("nan")]),
        Row(vec_id=6, embedding=[1.0, float("inf")]),
    ]
    df = spark.createDataFrame(rows, schema)
    got = sorted(r.vec_id for r in valid_vecs(df).collect())
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.sql(
            "SELECT vec_id FROM (VALUES (0, [1.0, 2.0]), (1, NULL),"
            " (2, [0.0, 0.0]), (3, [1.0, NULL]),"
            " (4, []::DOUBLE[]), (5, [1.0, 'nan'::DOUBLE]),"
            " (6, [1.0, 'infinity'::DOUBLE])) t(vec_id, embedding) WHERE "
            + duck_valid()
        ).fetchall()
    )
    con.close()
    assert got == want == [0]


# ------------------------------------------- overflow-gate equivalence

def test_sem_seed_overflow_gate_is_exact():
    """ADVICE r18 medium: the md5-coin widening terms are gated on
    n < SEM_CELL_SIZE*SEM_MIN_CELLS so no BIGINT product can wrap.
    Python ints don't overflow, so the UNBOUNDED arithmetic is the
    ground truth here — the gated predicate must equal it for every
    history size, including the n ~ 2.7e8 regime where the ungated
    Spark product would have wrapped (and DuckDB raised)."""
    import math

    from etl_xlsx_potgres_spark.operators.text import HEX6
    from etl_xlsx_potgres_spark.plans.dedup_incremental_more import (
        SEM_CELL_SIZE,
        SEM_MIN_CELLS,
    )

    small_cut = SEM_CELL_SIZE * SEM_MIN_CELLS
    sizes = [1, 3, small_cut - 1, small_cut, small_cut + 1, 10_000,
             270_000_000, 2**39, 2**45]
    # coins straddling every threshold boundary per n
    for n in sizes:
        cs = math.isqrt(max(n // SEM_CELL_SIZE, SEM_MIN_CELLS) - 1) + 1
        bounds = {
            0, 1, HEX6 - 1,
            HEX6 // SEM_CELL_SIZE, HEX6 // (SEM_CELL_SIZE * cs),
            (HEX6 * SEM_MIN_CELLS) // n, (HEX6 * SEM_MIN_CELLS) // (n * cs),
        }
        coins = set()
        for b in bounds:
            coins |= {max(0, b - 1), b, min(HEX6 - 1, b + 1)}
        for coin in coins:
            truth_seed = (
                coin * SEM_CELL_SIZE < HEX6
                or coin * n < HEX6 * SEM_MIN_CELLS  # unbounded ints
            )
            gated_seed = (
                coin * SEM_CELL_SIZE < HEX6
                or (n < small_cut and coin * n < HEX6 * SEM_MIN_CELLS)
            )
            assert gated_seed == truth_seed, (n, coin)
            truth_coarse = (
                coin * SEM_CELL_SIZE * cs < HEX6
                or coin * n * cs < HEX6 * SEM_MIN_CELLS
            )
            gated_coarse = (
                coin * SEM_CELL_SIZE * cs < HEX6
                or (n < small_cut and coin * n * cs < HEX6 * SEM_MIN_CELLS)
            )
            assert gated_coarse == truth_coarse, (n, coin, cs)
            # and the gated products actually fit in BIGINT
            if n < small_cut:
                assert coin * n * cs < 2**63
            assert coin * SEM_CELL_SIZE * cs < 2**63


# --------------------------------------------- in-cell verify cap

def _skewed_cell_fixture(spark, tmp_path) -> str:
    """One cell FAR past SEM_VERIFY_CAP: 400 byte-identical history
    vectors all argmax to the same centroid (exact cosine ties break
    to the lowest cid), plus a diverse tail so seeding still spreads.
    New-batch probes of the hot direction must clip at the cap."""
    from pyspark.sql import Row

    from etl_xlsx_potgres_spark.sources.tables import SCHEMAS

    hot = [1.0] + [0.0] * 7
    rows = []
    for i in range(500):
        if i % 10 != 0 and i < 445:          # 400 hot history vectors
            emb = hot
        else:                                 # diverse tail + new batch
            emb = [float(((i * 7 + d * 3) % 11) - 5) for d in range(8)]
        rows.append(Row(vec_id=i, embedding=emb, label=i % 4))
    # planted hot probes in the new batch
    for i in (500, 510):
        rows.append(Row(vec_id=i, embedding=hot, label=0))
    spark.createDataFrame(rows, SCHEMAS["embeddings"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/embeddings.parquet")
    return str(tmp_path)


def test_semantic_verify_cap_binds_and_matches_oracle(spark, tmp_path):
    """VERDICT r18 task 5, non-vacuous: on a corpus with a hot cell
    past SEM_VERIFY_CAP the verify volume must CLIP at the cap (the
    clip visible as n_cand_unbounded > n_hist_candidates), the capped
    sample must still find the planted duplicates, and the rule must
    agree with DuckDB bit-for-bit."""
    from etl_xlsx_potgres_spark.plans.dedup_incremental_more import (
        SEM_N_PROBE,
        SEM_VERIFY_CAP,
    )

    sf = _skewed_cell_fixture(spark, tmp_path)
    name = "dedup_incremental_semantic"
    spark_pdf = registry.QUERIES[name](spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet/*.parquet')"
    )
    oracle_pdf = con.sql(registry.ORACLES[name]).df()
    con.close()
    assert_frames_match(spark_pdf, oracle_pdf, name)
    by_id = spark_pdf.set_index("vec_id")
    clipped = by_id[by_id.n_cand_unbounded > by_id.n_hist_candidates]
    assert len(clipped) > 0, "cap never bound — fixture not skewed enough"
    for vid in (500, 510):
        row = by_id.loc[vid]
        # bounded verify: never more than probe-count * cap candidates
        assert row.n_hist_candidates <= SEM_N_PROBE * SEM_VERIFY_CAP
        assert row.n_cand_unbounded > row.n_hist_candidates
        # the capped coin sample still sees the hot cell's duplicates
        assert row.n_hist_neardups > 0 and not row.keep
    # every row's verify volume respects the bound
    assert (
        spark_pdf.n_hist_candidates <= SEM_N_PROBE * SEM_VERIFY_CAP
    ).all()


# --------------------------------------------- incremental IVF-PQ

def test_ivfpq_code_and_rerank_probes_are_exchange_free(spark, sf_dir):
    """Both bucket probes of the compressed path — the ADC scan over
    the code store and the re-rank fetch from the raw-vector store —
    must read history in place: zero Exchange above either store scan
    (the dedup_incremental_newbatch promise, VERDICT r15 task 4)."""
    from pyspark.sql import functions as F

    from etl_xlsx_potgres_spark.plans import dedup_incremental_more as more
    from .test_dedup_incremental_more import (
        _assert_history_branch_exchange_free,
        _plan_str,
    )

    raw = more._provision_semantic_store(spark, sf_dir)
    code, _cb = more._provision_semantic_pq(spark, sf_dir, raw)
    probe = spark.createDataFrame(
        [(1, 2)], "qid long, cid long"
    )
    codes_join = spark.table(code).hint("merge").join(probe, "cid")
    _assert_history_branch_exchange_free(
        _plan_str(codes_join), "semantic_pqcode"
    )
    raw_join = spark.table(raw).hint("merge").join(probe, "cid")
    _assert_history_branch_exchange_free(
        _plan_str(raw_join), "semantic_cell"
    )


def test_ivfpq_serving_shape_and_recall_data(spark, sf_dir):
    """Per query: at most TOP_K contiguous ranks, ADC scores
    non-NULL (codes path actually ran), and the full-precision-overlap
    verifier carries signal (some query recalls some true neighbor —
    on the adversarial uniform fixture the count is DATA, not a
    pass/fail bar, the pq_search honesty policy)."""
    from etl_xlsx_potgres_spark.operators.ann import TOP_K

    pdf = registry.QUERIES["ann_incremental_ivfpq"](
        spark, sf_dir
    ).toPandas()
    assert len(pdf) > 0
    for qid, grp in pdf.groupby("vec_id"):
        assert sorted(grp.rn.tolist()) == list(range(1, len(grp) + 1))
        assert len(grp) <= TOP_K
        assert grp.adc_micro.notna().all()
        assert grp.n_hits_fullprec.between(0, TOP_K).all()
        assert grp.n_hits_fullprec.nunique() == 1
    assert pdf.groupby("vec_id").n_hits_fullprec.first().sum() > 0


# ------------------------------------- calibration CAP at 10x pairs

def test_calibration_exact_tier_is_capped_at_10x_pairs(spark, tmp_path):
    """VERDICT r18 task 6: the sampled tier's CONSTANT-COST claim —
    exact-verified pairs stay ~VERIFY_TARGET however the candidate set
    grows — was probe-backed only.  120 byte-identical 40-doc clusters
    emit 7200 unbounded pairs (10x the r18 boundary fixture); the
    md5-coin must cut the exact tier to VERIFY_TARGET in expectation
    (binomial sd ~= sqrt(512) ~ 23; the +-150 band is >6 sd), with the
    rest sampled_out and carrying no exact columns."""
    from pyspark.sql import Row

    from etl_xlsx_potgres_spark.plans.minhash_calibration import (
        VERIFY_TARGET,
    )
    from etl_xlsx_potgres_spark.sources.tables import SCHEMAS

    rows, doc_id = [], 0
    for g in range(120):
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
    pdf = registry.QUERIES["dedup_minhash_calibration"](
        spark, str(tmp_path)
    ).toPandas()
    modes = pdf["verify_mode"].value_counts().to_dict()
    n_unbounded = len(pdf) - modes.get("bounded", 0)
    assert n_unbounded >= 10 * VERIFY_TARGET, modes  # the 10x premise
    n_exact = modes.get("exact", 0)
    assert abs(n_exact - VERIFY_TARGET) < 150, modes
    out = pdf[pdf.verify_mode == "sampled_out"]
    assert len(out) == n_unbounded - n_exact
    assert out.inter.isna().all() and out.screen.isna().all()


# ------------------------------------- store append lifecycle

def test_band_store_append_equals_one_shot_build(spark, sf_dir):
    """The store lifecycle's write side: building the band store from
    half the history and APPENDING the other half must yield verdicts
    bit-identical to the one-shot store, with the probe still reading
    history Exchange-free (per-bucket appended files, no rewrite)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from etl_xlsx_potgres_spark.operators import stores
    from etl_xlsx_potgres_spark.operators.lsh import fused_bands, minhash_signatures
    from etl_xlsx_potgres_spark.plans import dedup_incremental as di
    from etl_xlsx_potgres_spark.sources import load_table

    one_shot = di._provision_store(spark, sf_dir)
    want = {
        (r.doc_id, r.n_hist_candidates, r.keep)
        for r in registry.QUERIES["dedup_incremental_newbatch"](
            spark, sf_dir
        ).collect()
    }

    # rebuild in two installments: first half written, second APPENDED
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    first = fused_bands(minhash_signatures(d.filter(F.col("doc_id") % 20 < 10)))
    second = fused_bands(minhash_signatures(d.filter(F.col("doc_id") % 20 >= 10)))
    import os

    name = "band_store_appended_test"
    path = os.path.join(stores.store_root(spark), name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        first.write.mode("overwrite").bucketBy(stores.N_BUCKETS, "band")
        .sortBy("band").option("path", path).format("parquet")
        .saveAsTable(name)
    )
    stores.append_to_store(name, second)

    assert (
        spark.table(name).count() == spark.table(one_shot).count()
    )
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_bands = fused_bands(minhash_signatures(newd))
    hits = (
        new_bands.join(
            spark.table(name).select(
                F.col("doc_id").alias("hist_doc_id"), "band"
            ),
            "band",
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("hist_doc_id").alias("n_hist_candidates"))
    )
    n = F.coalesce(F.col("n_hist_candidates"), F.lit(0))
    got_df = (
        newd.select("doc_id")
        .join(hits, "doc_id", "left")
        .select("doc_id", n.alias("n_hist_candidates"),
                (n == 0).alias("keep"))
    )
    got = {(r.doc_id, r.n_hist_candidates, r.keep) for r in got_df.collect()}
    assert got == want

    # the probe against the appended store stays Exchange-free on the
    # history side (bucketed scan over per-bucket file PAIRS)
    from .test_dedup_incremental_more import (
        _assert_history_branch_exchange_free,
        _plan_str,
    )

    j = spark.table(name).hint("merge").join(
        new_bands.select(F.col("doc_id").alias("new_id"), "band"), "band"
    )
    _assert_history_branch_exchange_free(_plan_str(j), name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
