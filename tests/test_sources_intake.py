"""``load_table`` is the declared-schema read and nothing more: no
table gains a repartition or an exchange at intake, and predicates
still reach the parquet scan."""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_xlsx_potgres_spark.sources import SCHEMAS, TABLE_NAMES, load_table

# same override contract as conftest.SF_DIR (ADVICE r20: a hardcoded
# path silently tested the wrong fixture under TEST_SF_DIR)
SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

# the key column each corpus table is read and joined on
_INTAKE_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_adds_no_exchange(spark, name):
    plan = load_table(spark, SF, name)._jdf.queryExecution().toString()
    assert "RepartitionByExpression" not in plan
    assert "Exchange" not in plan


def test_pushed_filters_survive_the_widen(spark):
    # predicate pushdown must reach the parquet scan (guide §6: check
    # PushedFilters in the scan node)
    df = load_table(spark, SF, "lineitem").filter(F.col("l_orderkey") == 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_orderkey)" in plan or "EqualTo(l_orderkey,1)" in plan


def _plan(df) -> str:
    # expression ids differ between two reads of one file
    return re.sub(r"#\d+", "", df._jdf.queryExecution().toString())


def test_widen_kill_switch(spark, monkeypatch):
    # the old SPARK_GRAFT_INTAKE_WIDEN switch is read by nothing now:
    # either value gives the same plain read
    plans = set()
    for value in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_INTAKE_WIDEN", value)
        plan = _plan(load_table(spark, SF, "documents"))
        assert "RepartitionByExpression" not in plan
        plans.add(plan)
    assert len(plans) == 1


def test_widen_skips_dimension_tables(spark):
    # widen= is accepted and ignored, for dimension tables as for the rest
    plan = _plan(load_table(spark, SF, "nation", widen=True))
    assert "RepartitionByExpression" not in plan
    assert plan == _plan(load_table(spark, SF, "nation", widen=False))


def test_widen_disarms_on_many_row_groups(spark, tmp_path):
    # a layout with many row groups spreads the scan by itself: the read
    # splits at row-group boundaries with no respread in the plan
    table = pq.read_table(f"{SF}/documents.parquet")
    pq.write_table(
        table, tmp_path / "documents.parquet", row_group_size=max(1, table.num_rows // 8)
    )
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        df = load_table(spark, str(tmp_path), "documents")
        assert "RepartitionByExpression" not in _plan(df)
        parts = (
            df.select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .collect()
        )
    finally:
        spark.conf.set(key, old)
    assert len(parts) > 1
    assert sum(r["count"] for r in parts) == table.num_rows


@pytest.mark.parametrize("name", sorted(_INTAKE_KEYS))
def test_intake_keys_exist_in_schemas(spark, name):
    key = _INTAKE_KEYS[name]
    assert key in [f.name for f in SCHEMAS[name].fields]
    # the declared key resolves against the file and is never null
    df = load_table(spark, SF, name)
    assert df.filter(F.col(key).isNull()).count() == 0
    assert df.select(key).distinct().count() == df.count()
