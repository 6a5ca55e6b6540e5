"""Parquet TIMESTAMP(NANOS) intake without session-conf side effects.

Spark rejects nanos timestamps unless
``spark.sql.legacy.parquet.nanosAsLong`` is on. That key belongs to
the session posture (``get_spark``, ``tune_for_oracle``): the events
reader relies on it and must leave the session conf as it found it.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_xlsx_potgres_spark.session import tune_for_oracle
from etl_xlsx_potgres_spark.sources import load_table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_NS = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 86_400_000_000_001]


@pytest.fixture
def restored_conf(spark):
    """tune_for_oracle resets shuffle width and more: put the session
    conf back so later tests see the conftest session unchanged."""
    before = dict(spark.conf.getAll)
    yield
    after = dict(spark.conf.getAll)
    for k in set(before) | set(after):
        if k not in before:
            spark.conf.unset(k)
        elif before[k] != after.get(k):
            spark.conf.set(k, before[k])


def _write_nanos_events(path) -> None:
    n = len(_NS)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(_NS, pa.timestamp("ns")),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.5] * n),
            "props": pa.array(['{"k": 1}'] * n),
        }),
        path,
    )
    assert pq.read_schema(path).field("ts").type.unit == "ns"


def test_nanos_events_read_as_micros_without_conf_change(
    spark, tmp_path, restored_conf
):
    spark.conf.unset(NANOS_AS_LONG)
    tune_for_oracle(spark)
    assert spark.conf.get(NANOS_AS_LONG) == "true"

    _write_nanos_events(str(tmp_path / "events.parquet"))
    before = dict(spark.conf.getAll)
    rows = (
        load_table(spark, str(tmp_path), "events")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .orderBy("event_id")
        .collect()
    )
    assert dict(spark.conf.getAll) == before
    assert [r.us for r in rows] == [ns // 1000 for ns in _NS]
