"""r20 properties: the semantic/PQ store APPEND lifecycle with rank
maintenance (VERDICT r19 task 1), per-bucket compaction restoring
one-shot invariants and single sorted runs (task 5), the provision
cache behind the build/serve split (task 3), and the codebook drift
instrument's non-vacuity (task 4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_xlsx_potgres_spark import registry
from etl_xlsx_potgres_spark.operators import stores
from etl_xlsx_potgres_spark.operators.ann import M, PQ_K
from etl_xlsx_potgres_spark.plans import dedup_incremental_more as more
from etl_xlsx_potgres_spark.sources import load_table

registry.load_all()


# ------------------------------------- provision cache

def test_cached_table_semantics(spark):
    calls = []
    name = "cache_probe_tbl_r20"

    def build():
        calls.append(1)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            spark.range(3).write.mode("overwrite")
            .option("path", f"/tmp/{name}")
            .format("parquet").saveAsTable(name)
        )

    stores.cached_table(spark, name, "k1", build)
    stores.cached_table(spark, name, "k1", build)
    assert len(calls) == 1  # second consumer served from cache
    # a DIFFERENT fixture path under the same table name must rebuild
    # (same-basename fixture dirs collide on the name)
    stores.cached_table(spark, name, "k2", build)
    assert len(calls) == 2
    # force (the provision-side queries) always rebuilds
    stores.cached_table(spark, name, "k2", build, force=True)
    assert len(calls) == 3
    # invalidation (lifecycle tests that mutate a shared-name store)
    stores.invalidate_cached_table(spark, name)
    stores.cached_table(spark, name, "k2", build)
    assert len(calls) == 4
    # a dropped table must rebuild even with a live cache entry
    spark.sql(f"DROP TABLE {name}")
    stores.cached_table(spark, name, "k2", build)
    assert len(calls) == 5
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    stores.invalidate_cached_table(spark, name)


# ------------------------------------- bucket spec parsing (ADVICE r19)

def test_bucket_spec_parsed_from_one_describe_pass(spark):
    name = "spec_probe_tbl_r20"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        spark.range(20).selectExpr("id", "id % 3 AS b", "id % 5 AS s")
        .write.mode("overwrite").bucketBy(6, "b").sortBy("b", "s")
        .option("path", f"/tmp/{name}").format("parquet").saveAsTable(name)
    )
    n, bcols, scols, loc = stores.bucket_spec_of(name)
    assert (n, bcols, scols) == (6, ["b"], ["b", "s"])
    assert loc and loc.endswith(name)
    # append honors the PARSED spec (6 buckets, two sort columns) —
    # the r19 module-constant assumption would reject this store
    stores.append_to_store(
        name, spark.range(20, 30).selectExpr("id", "id % 3 AS b", "id % 5 AS s")
    )
    assert spark.table(name).count() == 30
    spark.sql(f"DROP TABLE {name}")


# ------------------------------------- semantic store append lifecycle

def _custom_semantic_store(spark, name, ranked_first):
    path = os.path.join(stores.store_root(spark), name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        ranked_first.write.mode("overwrite")
        .bucketBy(stores.N_BUCKETS, "cid").sortBy("cid")
        .option("path", path).format("parquet").saveAsTable(name)
    )
    return name


def _store_rows(spark, name):
    return {
        (r.vec_id, r.cid, r.vrank, r.cell_n)
        for r in spark.table(name).select(
            "vec_id", "cid", "vrank", "cell_n"
        ).collect()
    }


def test_semantic_store_append_compact_equals_one_shot(spark, sf_dir, duck):
    """The r19k bar applied to the semantic cell store (VERDICT r19
    task 1): build from half the history, APPEND the other half with
    rank continuation, COMPACT (per-bucket re-rank) — the result must
    be bit-identical to the one-shot store, and the probe off it must
    hash-match the UNCHANGED DuckDB oracle (the oracle replaying the
    append-then-probe lifecycle end to end)."""
    one_shot = more._provision_semantic_store(spark, sf_dir)
    want = _store_rows(spark, one_shot)

    # the SAME geometry the one-shot build used (cells are seeded from
    # the full history at build time; appends assign against the
    # EXISTING index, so both installments share the cents)
    hist = more.valid_vecs(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") % 10 != 0
    ).select("vec_id", "embedding")
    cents = more._sem_cents(hist)
    first = more._sem_assign(hist.filter(F.col("vec_id") % 20 < 10), cents)
    second = more._sem_assign(hist.filter(F.col("vec_id") % 20 >= 10), cents)
    name = "semantic_cell_appended_test"
    _custom_semantic_store(spark, name, more._semantic_rank(first))
    more.append_to_semantic_store(spark, name, second)

    # pre-compaction invariants: same membership; ranks stay DENSE and
    # UNIQUE per cell (so vrank <= CAP selects exactly min(CAP, n)
    # members at any skew); appended rows rank AFTER the residents
    got = spark.table(name)
    assert {
        (r.vec_id, r.cid) for r in got.select("vec_id", "cid").collect()
    } == {(v, c) for v, c, _, _ in want}
    per_cell = got.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("vrank").alias("n_ranks"),
        F.max("vrank").alias("max_rank"),
        F.max("cell_n").alias("max_cn"),
    ).collect()
    for r in per_cell:
        assert r.n == r.n_ranks == r.max_rank, r
    resident_max = {
        r.cid: r.m
        for r in more._semantic_rank(first).groupBy("cid").agg(
            F.max("vrank").alias("m")
        ).collect()
    }
    appended_ids = {r.vec_id for r in second.select("vec_id").collect()}
    for r in got.collect():
        if r.vec_id in appended_ids and r.cid in resident_max:
            assert r.vrank > resident_max[r.cid], r
    # touched cells carry the re-summed occupancy on appended rows
    true_n = {
        r.cid: r.n
        for r in got.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    touched = {
        r.cid for r in got.collect() if r.vec_id in appended_ids
    }
    for r in per_cell:
        if r.cid in touched:
            assert r.max_cn == true_n[r.cid], r

    # compaction restores the EXACT one-shot invariants bit-identically
    more.compact_semantic_store(spark, name)
    assert _store_rows(spark, name) == want

    # ... and the probe off the appended+compacted store hash-matches
    # the unchanged oracle (which replays the one-shot build)
    from .oracle_utils import assert_frames_match

    got_pdf = more._sem_probe_verdict(spark, sf_dir, name).toPandas()
    oracle_pdf = duck.sql(more._SEM_ORACLE).fetchdf()
    assert len(got_pdf) > 0
    assert_frames_match(got_pdf, oracle_pdf, "semantic_append_lifecycle")
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_append_rank_continuation_clips_at_any_cap(spark):
    """Synthetic cells: after an append, ``vrank <= K`` selects
    exactly ``min(K, cell_n)`` members per cell for ANY K — the
    boundedness the r19d cap relies on, independent of occupancy."""
    from pyspark.sql import Row

    first = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i)], cid=i % 3) for i in range(24)]
    )
    second = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i)], cid=i % 3) for i in range(24, 40)]
    )
    name = "semantic_cell_cap_test"
    _custom_semantic_store(spark, name, more._semantic_rank(first))
    more.append_to_semantic_store(spark, name, second)
    got = spark.table(name)
    occup = {
        r.cid: r.n
        for r in got.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for k in (1, 4, 9, 100):
        sel = {
            r.cid: r.n
            for r in got.filter(F.col("vrank") <= k)
            .groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for cid, n in occup.items():
            assert sel.get(cid, 0) == min(k, n), (k, cid)
    spark.sql(f"DROP TABLE IF EXISTS {name}")


# ------------------------------------- PQ code store append lifecycle

def test_pq_code_store_append_bit_identical_without_compaction(
    spark, sf_dir
):
    """Codes carry no write-time denormalization, so an appended code
    store must equal a one-shot encode of the union ROW FOR ROW with
    no compaction — provided both encode against the SAME codebook
    (the append discipline: never retrain inside an append)."""
    raw_store = more._provision_semantic_store(spark, sf_dir)
    code_store, cb_name = more._provision_semantic_pq(
        spark, sf_dir, raw_store
    )
    want = {
        (r.vec_id, r.cid, r.m, r.k)
        for r in spark.table(code_store).collect()
    }

    base = spark.table(raw_store).select("vec_id", "cid", "embedding")
    first = base.filter(F.col("vec_id") % 20 < 10)
    second = base.filter(F.col("vec_id") % 20 >= 10)
    name = "semantic_pqcode_appended_test"
    path = os.path.join(stores.store_root(spark), name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    codes_first = more._encode_cells(first, spark.table(cb_name))
    (
        codes_first.write.mode("overwrite")
        .bucketBy(stores.N_BUCKETS, "cid").sortBy("cid")
        .option("path", path).format("parquet").saveAsTable(name)
    )
    more.append_to_semantic_pq(spark, name, cb_name, second)
    got = {(r.vec_id, r.cid, r.m, r.k) for r in spark.table(name).collect()}
    assert got == want
    spark.sql(f"DROP TABLE IF EXISTS {name}")


# ------------------------------------- compaction restores sorted runs

def _history_branch(plan: str) -> str:
    tree = plan.split("\n\n")[0].splitlines()
    start = next(
        i for i, ln in enumerate(tree) if ln.lstrip().startswith(":- ")
    )
    col = tree[start].index(":")
    branch = []
    for ln in tree[start:]:
        if len(ln) <= col or ln[col] != ":":
            break
        branch.append(ln)
    return "\n".join(branch)


def test_compaction_restores_single_file_sorted_runs(spark, sf_dir):
    """VERDICT r19 task 5: appends leave one file per bucket per
    installment, which demotes the bucketed scan's reported ordering —
    a merge join regains a local Sort (never an Exchange).  The
    per-bucket compaction merges the files back to one sorted run per
    bucket; the Sort must DISAPPEAR from the merge join's history
    branch, with the scan still Exchange-free."""
    # Spark only LEVERAGES a bucketed table's written sort order under
    # this (planning-cost) conf, and then only for single-file buckets
    # — exactly the layout compaction restores.  Scoped to the test:
    # the before/after contrast below is then purely the file merge.
    order_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    prev = spark.conf.get(order_key)
    spark.conf.set(order_key, "true")
    try:
        _compaction_sort_contrast(spark, sf_dir)
    finally:
        spark.conf.set(order_key, prev)


def _compaction_sort_contrast(spark, sf_dir):
    from .test_dedup_incremental_more import (
        _assert_history_branch_exchange_free,
        _plan_str,
    )
    from etl_xlsx_potgres_spark.operators.lsh import fused_bands, minhash_signatures

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    first = fused_bands(minhash_signatures(d.filter(F.col("doc_id") % 20 < 10)))
    second = fused_bands(minhash_signatures(d.filter(F.col("doc_id") % 20 >= 10)))
    name = "band_store_compaction_test"
    path = os.path.join(stores.store_root(spark), name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        first.write.mode("overwrite").bucketBy(stores.N_BUCKETS, "band")
        .sortBy("band").option("path", path).format("parquet")
        .saveAsTable(name)
    )
    stores.append_to_store(name, second)
    n_rows = spark.table(name).count()

    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    probe = fused_bands(minhash_signatures(newd)).select(
        F.col("doc_id").alias("new_id"), "band"
    )

    def hist_plan():
        return _plan_str(spark.table(name).hint("merge").join(probe, "band"))

    before = hist_plan()
    _assert_history_branch_exchange_free(before, name)
    assert "Sort" in _history_branch(before), before

    stores.compact_store(name)
    assert spark.table(name).count() == n_rows
    # one file per bucket after the merge
    _, _, _, loc = stores.bucket_spec_of(name)
    files = [
        f for f in os.listdir(loc[len("file:"):])
        if f.startswith("part-")
    ]
    assert len(files) == stores.N_BUCKETS, files
    after = hist_plan()
    _assert_history_branch_exchange_free(after, name)
    assert "Sort" not in _history_branch(after), after
    spark.sql(f"DROP TABLE IF EXISTS {name}")


# ------------------------------------- codebook drift instrument

def test_ivfpq_provision_drift_non_vacuous(spark, sf_dir):
    """The drift trigger must SEPARATE: the seeded drifted append's TV
    is large in every subspace, the unshifted batch's stays well
    below it (sampling noise) — and the artifact stats attest the
    history-only training split."""
    pdf = registry.QUERIES["ann_ivfpq_provision"](spark, sf_dir).toPandas()
    assert len(pdf) == M
    assert (pdf.n_centroids <= PQ_K).all()
    assert (pdf.n_codes == pdf.n_train).all()
    assert (pdf.tv_drift_bp > 2000).all(), pdf
    assert (pdf.tv_plain_bp < pdf.tv_drift_bp / 2).all(), pdf
