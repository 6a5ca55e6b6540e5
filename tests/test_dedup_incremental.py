"""Incremental dedup's bucketed signature store must keep its
promise: probing history with a new batch shuffles ONLY the batch
side — the history scan reads its buckets in place (no Exchange
above it). At 100 TB of accepted corpus that is the entire point of
the layout; this asserts the physical plan, not just the result
(the result is oracle-checked by test_queries)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from etl_xlsx_potgres_spark.plans import dedup_incremental
from etl_xlsx_potgres_spark.plans.dedup_fuzzy import _minhash_sig_df
from etl_xlsx_potgres_spark.sources import load_table


def _plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_history_side_probe_is_exchange_free(spark, sf_dir):
    store = dedup_incremental._provision_store(spark, sf_dir)
    hist = spark.table(store)
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_bands = dedup_incremental._bands(_minhash_sig_df(newd))
    # forbid broadcast (at fixture scale the tiny store would
    # broadcast, which also has no history Exchange but doesn't prove
    # the at-scale property): merge-hint forces the sort-merge path
    # the 100 TB store takes
    joined = hist.hint("merge").join(new_bands, "band")
    plan = _plan_str(joined)
    # exactly two shuffle Exchanges, BOTH on the new-batch subtree
    # (its signature window + its shuffle into the store's bucketing);
    # zero above the history scan. The formatted tree prints bucketed
    # scans directly under their Sort: assert the history branch
    # (tree lines prefixed ':') carries no Exchange of any kind.
    import re

    shuffles = re.findall(r"(?<![A-Za-z])Exchange \(", plan)
    assert len(shuffles) == 2, plan
    tree = plan.split("\n\n")[0].splitlines()
    # the SortMergeJoin's FIRST branch is the history side: every
    # line of that branch carries ':' in the branch column; the
    # probe branch (and anything nested in it) has ' ' there
    start = next(i for i, ln in enumerate(tree) if ln.lstrip().startswith(":- "))
    col = tree[start].index(":")
    hist_branch = []
    for ln in tree[start:]:
        if len(ln) <= col or ln[col] != ":":
            break
        hist_branch.append(ln)
    assert hist_branch and not any("Exchange" in ln for ln in hist_branch), plan
    assert "dedup_band_store" in "\n".join(hist_branch), plan
    # and the store scan carries its bucket spec
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_keep_verdict_matches_band_collisions(spark, sf_dir):
    out = dedup_incremental.dedup_incremental_newbatch(spark, sf_dir)
    rows = out.collect()
    assert rows, "new batch must be non-empty"
    for r in rows:
        assert r["keep"] == (r["n_hist_candidates"] == 0)
    # the fixture corpus contains near-duplicate families spanning
    # the 90/10 split — at least one new-batch doc must collide with
    # history, or the query is vacuously keeping everything
    assert any(not r["keep"] for r in rows)
    assert any(r["keep"] for r in rows)


def test_store_append_absorbs_accepted_batch(spark, sf_dir):
    """The production loop the module docstring promises: after a
    batch is screened, the ACCEPTED docs' band signatures append to
    the bucketed store (per-bucket files, no history rewrite), and
    the next probe sees them. Here: probe the store with the SAME
    new-batch bands before and after appending them — before, a doc
    only collides via history; after, every new-batch doc collides
    with at least itself."""
    store = dedup_incremental._provision_store(spark, sf_dir)
    files_before = {
        f.path
        for f in spark.read.format("binaryFile")
        .load(spark.table(store).inputFiles()[0].rsplit("/", 1)[0])
        .select("path")
        .collect()
    }
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_bands = dedup_incremental._bands(_minhash_sig_df(newd))
    hits_before = (
        new_bands.join(spark.table(store), "band")
        .select(new_bands.doc_id)
        .distinct()
        .count()
    )
    # append the accepted batch's signatures (bucketed append writes
    # new per-bucket files; history files are untouched) — through the
    # lifecycle helper, which also drops the store's provision-cache
    # entry so the trailing re-provision below really rebuilds
    dedup_incremental.append_to_store(store, new_bands)
    files_after = {
        f.path
        for f in spark.read.format("binaryFile")
        .load(spark.table(store).inputFiles()[0].rsplit("/", 1)[0])
        .select("path")
        .collect()
    }
    assert files_before <= files_after and len(files_after) > len(
        files_before
    ), "append must add bucket files without rewriting history"
    hits_after = (
        new_bands.join(spark.table(store), "band")
        .select(new_bands.doc_id)
        .distinct()
        .count()
    )
    n_new_docs_with_bands = new_bands.select("doc_id").distinct().count()
    assert hits_after == n_new_docs_with_bands, (
        "every appended doc must now collide (at least with itself)"
    )
    assert hits_after >= hits_before
    # leave a clean store for other tests/queries (provision
    # re-overwrites per run anyway, but don't depend on ordering)
    dedup_incremental._provision_store(spark, sf_dir)


def test_store_root_registers_cleanup_and_sweeps_stale(spark, tmp_path,
                                                       monkeypatch):
    """The per-session store root must not leak across runs: first
    touch registers an atexit rmtree for THIS session's dir and
    removes age-stale sibling dirs (crashed sessions), while a fresh
    sibling (live concurrent session) survives."""
    import os
    import time

    monkeypatch.setattr(
        dedup_incremental.tempfile, "gettempdir", lambda: str(tmp_path)
    )
    prefix = dedup_incremental._STORE_PREFIX
    stale = tmp_path / f"{prefix}crashed_app"
    fresh = tmp_path / f"{prefix}live_app"
    stale.mkdir()
    fresh.mkdir()
    old = time.time() - dedup_incremental._STALE_SECONDS - 60
    os.utime(stale, (old, old))

    registered = dict(seen=False)
    monkeypatch.setattr(
        dedup_incremental.atexit,
        "register",
        lambda fn, *a, **k: registered.__setitem__("seen", (fn, a, k)),
    )
    # force a fresh first-touch for this (monkeypatched) root
    dedup_incremental._CLEANUP_REGISTERED.clear()
    root = dedup_incremental._store_root(spark)
    try:
        assert root.startswith(str(tmp_path))
        assert registered["seen"], "atexit cleanup must be registered"
        fn, a, k = registered["seen"]
        assert a and a[0] == root and k.get("ignore_errors")
        assert not stale.exists(), "age-stale sibling must be swept"
        assert fresh.exists(), "fresh sibling (live session) must survive"
        # second touch is a no-op (no duplicate atexit entries)
        registered["seen"] = False
        assert dedup_incremental._store_root(spark) == root
        assert registered["seen"] is False
    finally:
        dedup_incremental._CLEANUP_REGISTERED.clear()
