"""The driver checks queries() in iteration order with a bounded
budget, so __spark_entry__ must yield unverified queries before ones
already proven green in committed CORRECTNESS_r*.json files."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from etl_xlsx_potgres_spark import registry  # noqa: E402


def test_ordering_is_a_permutation_of_the_registry():
    registry.load_all()
    names = entry_mod._ordered_names()
    assert sorted(names) == sorted(registry.QUERIES)


def test_unverified_queries_come_before_verified_green():
    registry.load_all()
    names = entry_mod._ordered_names()
    green = entry_mod._verified_green()
    if not green or green == set(names):
        return  # nothing recorded yet, or everything green — no split
    first_green = min(names.index(n) for n in green)
    last_pending = max(names.index(n) for n in names if n not in green)
    assert last_pending < first_green


def _write_correctness(tmp_path, round_no, rows):
    path = tmp_path / f"CORRECTNESS_r{round_no:02d}.json"
    path.write_text(json.dumps(rows))
    return path


def _stamp(tmp_path, monkeypatch, names, source_hash="sh"):
    """Write a GREEN_STAMPS.json matching the monkeypatched state, so a
    tmp-repo fixture exercises the verdict logic rather than tripping
    the (separately tested) stamp-invalidation gate."""
    monkeypatch.setattr(entry_mod, "fixture_fingerprint", lambda sf_dir=None: "fp")
    monkeypatch.setattr(
        entry_mod, "_source_hash", lambda n, core=None: source_hash
    )
    (tmp_path / "GREEN_STAMPS.json").write_text(
        json.dumps({"fixture": "fp", "stamps": {n: source_hash for n in names}})
    )


def test_vacuous_and_failed_rows_do_not_count_as_green(tmp_path, monkeypatch):
    # A pass on 0 rows proves nothing, and a hash mismatch is a failure;
    # neither may count as verified-green (they must queue for re-check).
    _stamp(tmp_path, monkeypatch, ["vacuous_pass", "hash_fail", "real_pass"])
    _write_correctness(tmp_path, 1, {
        "vacuous_pass": {
            "rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 0, "oracle_rows": 0, "err": None,
        },
        "hash_fail": {
            "rows_match": True, "schema_match": True, "hash_match": False,
            "spark_rows": 10, "oracle_rows": 10, "err": None,
        },
        "real_pass": {
            "rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 10, "oracle_rows": 10, "err": None,
        },
    })
    monkeypatch.setattr(entry_mod, "_REPO", str(tmp_path))
    green = entry_mod._verified_green()
    assert "vacuous_pass" not in green
    assert "hash_fail" not in green
    assert "real_pass" in green


def test_later_round_verdict_overrides_earlier(tmp_path, monkeypatch):
    # most-recent round wins in both directions: a later failure
    # un-greens an earlier pass, and a later pass greens an earlier fail
    _stamp(tmp_path, monkeypatch, ["was_green", "was_red"])
    _write_correctness(tmp_path, 1, {
        "was_green": {"hash_match": True, "spark_rows": 5, "err": None},
        "was_red": {"hash_match": False, "spark_rows": 5, "err": None},
    })
    _write_correctness(tmp_path, 2, {
        "was_green": {"hash_match": False, "spark_rows": 5, "err": None},
        "was_red": {"hash_match": True, "spark_rows": 5, "err": None},
    })
    monkeypatch.setattr(entry_mod, "_REPO", str(tmp_path))
    green = entry_mod._verified_green()
    assert "was_green" not in green
    assert "was_red" in green


def test_queries_and_oracles_share_names():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    # every registered query now carries an oracle (the two formerly
    # rows-only sketch/ML-LSH queries verify themselves via bound-style
    # verdict columns the oracle expects to be TRUE)
    assert {n for n in q if n not in o} == set()


def test_newly_oracled_queries_are_reprioritized(tmp_path, monkeypatch):
    # a query that passed a weaker no_oracle rows-only check and LATER
    # gained a full oracle must queue for re-verification; a query that
    # is still legitimately oracle-less keeps its rows-only green
    registry.load_all()
    oracled = next(iter(registry.ORACLES))          # has an oracle now
    # every registered query carries an oracle these days — simulate a
    # legitimately oracle-less one by hiding a real query's oracle
    oracle_less = next(n for n in registry.QUERIES if n != oracled)
    monkeypatch.delitem(registry.ORACLES, oracle_less)
    _stamp(tmp_path, monkeypatch, [oracled, oracle_less])
    _write_correctness(tmp_path, 1, {
        oracled: {"hash_match": None, "spark_rows": 7, "err": "no_oracle"},
        oracle_less: {"hash_match": None, "spark_rows": 7, "err": "no_oracle"},
    })
    monkeypatch.setattr(entry_mod, "_REPO", str(tmp_path))
    green = entry_mod._verified_green()
    assert oracled not in green
    assert oracle_less in green


def test_code_change_invalidates_stamp(tmp_path, monkeypatch):
    # A stamped-green query whose defining module hash changed since
    # verification must re-queue into the verify-first block — the stamp
    # records WHEN green was earned, not a permanent pass.
    _write_correctness(tmp_path, 1, {
        "stable": {"hash_match": True, "spark_rows": 5, "err": None},
        "touched": {"hash_match": True, "spark_rows": 5, "err": None},
    })
    monkeypatch.setattr(entry_mod, "fixture_fingerprint", lambda sf_dir=None: "fp")
    monkeypatch.setattr(
        entry_mod,
        "_source_hash",
        lambda n, core=None: "post-edit" if n == "touched" else "sh",
    )
    (tmp_path / "GREEN_STAMPS.json").write_text(
        json.dumps({"fixture": "fp", "stamps": {"stable": "sh", "touched": "sh"}})
    )
    monkeypatch.setattr(entry_mod, "_REPO", str(tmp_path))
    green = entry_mod._verified_green()
    assert "stable" in green
    assert "touched" not in green


def test_fixture_change_voids_entire_ledger(tmp_path, monkeypatch):
    # Regenerated fixtures invalidate every stamp at once (the r5
    # incident: 8 queries stayed "green" across a fixture regeneration).
    _write_correctness(tmp_path, 1, {
        "q": {"hash_match": True, "spark_rows": 5, "err": None},
    })
    monkeypatch.setattr(
        entry_mod, "fixture_fingerprint", lambda sf_dir=None: "fp-NEW"
    )
    monkeypatch.setattr(entry_mod, "_source_hash", lambda n, core=None: "sh")
    (tmp_path / "GREEN_STAMPS.json").write_text(
        json.dumps({"fixture": "fp-OLD", "stamps": {"q": "sh"}})
    )
    monkeypatch.setattr(entry_mod, "_REPO", str(tmp_path))
    assert entry_mod._verified_green() == set()


def test_priority_modules_sort_before_unlisted_when_pending(monkeypatch):
    # Among pending queries, unlisted modules rank AFTER the priority
    # list — tpch/relational/windows/ANN must land inside the driver's
    # bounded verify budget first (r6 shipped this inverted).
    registry.load_all()
    monkeypatch.setattr(entry_mod, "_verified_green", lambda: set())
    names = entry_mod._ordered_names()

    def module(n):
        return registry.QUERIES[n].__module__.rsplit(".", 1)[-1]

    pos = {n: i for i, n in enumerate(names)}
    tpch = [pos[n] for n in names if module(n) == "tpch_adapted"]
    unlisted = [
        pos[n] for n in names if module(n) not in entry_mod._MODULE_PRIORITY
    ]
    assert tpch and unlisted
    assert max(tpch) < min(unlisted)
