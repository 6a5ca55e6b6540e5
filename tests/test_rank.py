"""Parity of the per-key ranked selection kernels in
``operators/rank.py``: ``top_n``/``sql_top_n`` and
``nearest``/``sql_nearest`` must return the same literal rows on Spark
and DuckDB for a frame built to break them — score ties that only the
id can order (the higher id listed first), a NaN score (NaN sorts above
every number on both engines, so it ranks first under DESC and last
under ASC), a group smaller than ``n``, and the rank column both kept
and dropped — at two shuffle widths."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_xlsx_potgres_spark.operators.rank import (
    nearest,
    sql_nearest,
    sql_top_n,
    top_n,
)

NAN = float("nan")

# (g, id, score, d2)
ROWS = [
    (1, 3, 0.5, 2.0),
    (1, 1, 0.5, 2.0),
    (1, 2, 0.9, 5.0),
    (1, 4, NAN, NAN),
    (1, 5, 0.1, 3.0),
    (2, 7, 0.2, 0.0),
    (3, 9, 0.3, 1.5),
    (3, 8, 0.3, 1.5),
]

# top 3 per g by (score DESC, id), rank kept
TOP3 = [(1, 1, 3), (1, 2, 2), (1, 4, 1), (2, 7, 1), (3, 8, 1), (3, 9, 2)]
# least d2 per g, ties to the lower id; the NaN distance never wins
NEAREST = [(1, 1, 2.0), (2, 7, 0.0), (3, 8, 1.5)]


@pytest.fixture(params=[1, 8], ids=["width1", "width8"])
def frame(request, spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(request.param))
    try:
        yield spark.createDataFrame(
            ROWS, "g INT, id INT, score DOUBLE, d2 DOUBLE"
        ).repartition(request.param)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture(scope="module")
def rank_duck():
    con = duckdb.connect()
    values = ", ".join(
        f"({g}, {i}, '{s}'::DOUBLE, '{d}'::DOUBLE)" for g, i, s, d in ROWS
    )
    con.sql(f"CREATE TABLE t AS SELECT * FROM (VALUES {values}) v(g, id, score, d2)")
    yield con
    con.close()


def _sorted(rows):
    return sorted(tuple(r) for r in rows)


def test_top_n_keeps_rank_and_breaks_ties_on_id(frame, rank_duck):
    got = top_n(frame, ("g",), (F.desc("score"), "id"), 3, rank="rn")
    assert got.columns == ["g", "id", "score", "d2", "rn"]
    assert _sorted(got.select("g", "id", "rn").collect()) == TOP3
    sql = sql_top_n("g, id", "t", ("g",), "score DESC, id", 3, rank="rn")
    assert _sorted(rank_duck.sql(sql).fetchall()) == TOP3


def test_top_n_drops_rank_unless_named(frame, rank_duck):
    got = top_n(frame, ("g",), (F.desc("score"), "id"), 2)
    assert got.columns == ["g", "id", "score", "d2"]
    want = [(1, 2), (1, 4), (2, 7), (3, 8), (3, 9)]
    assert _sorted(got.select("g", "id").collect()) == want
    sql = sql_top_n("g, id", "t", ("g",), "score DESC, id", 2)
    assert rank_duck.sql(sql).columns == ["g", "id"]
    assert _sorted(rank_duck.sql(sql).fetchall()) == want


def test_nearest_least_distance_ties_to_lower_id(frame, rank_duck):
    got = nearest(frame, ("g",), F.col("d2"), "id", "best")
    assert got.columns == ["g", "best", "d2"]
    assert _sorted(got.collect()) == NEAREST
    sql = sql_nearest("t", ("g",), "d2", "id", "best")
    assert rank_duck.sql(sql).columns == ["g", "best", "d2"]
    assert _sorted(rank_duck.sql(sql).fetchall()) == NEAREST
