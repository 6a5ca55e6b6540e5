"""Declared-schema parquet readers for the driver test tables.

The reference infers schemas twice (pandas then Spark,
``/root/reference/importador.py:47`` and
``/root/reference/etl_process.py:203``). The engine declares every
schema (SURVEY.md §1.3): inference costs an extra scan job and can
silently drift between files; a declared ``StructType`` pins column
types once and lets the vectorized parquet reader do schema pruning
against it.

Schemas mirror FIXTURES.md §B. ``spark.read.schema(...).parquet(...)``
keeps column pruning + predicate pushdown fully effective (both are
resolved against the declared schema at plan time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(
        ("r_regionkey", T.IntegerType()),
        ("r_name", T.StringType()),
    ),
    "nation": _struct(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _struct(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _struct(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _struct(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _struct(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _struct(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    "events": _struct(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
}

# Some fixture generations write events.ts as parquet TIMESTAMP(NANOS),
# which Spark's reader rejects ([PARQUET_TYPE_ILLEGAL]). When (and only
# when) the footer actually says nanos, read it as raw int64 nanos (the
# session posture sets spark.sql.legacy.parquet.nanosAsLong) and
# truncate to micros (integer division — matches DuckDB's ns->us
# truncation), so downstream code and the oracle see identical
# TimestampType values. Micros fixtures read via the declared schema
# directly — applying the div-1000 shim to micros data would shift every
# timestamp 1000x into Jan 1970.
_NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}

# path -> whether the footer declares any _NANOS_TS_COLS column as nanos.
# Footer probe is one small metadata read; cache so repeated load_table
# calls (tests, bench, entry rotation) don't re-read it.
_NANOS_PROBE_CACHE: dict[str, bool] = {}


def _has_nanos_ts(path: str, cols: list[str]) -> bool:
    cached = _NANOS_PROBE_CACHE.get(path)
    if cached is not None:
        return cached
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        probe = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                raise FileNotFoundError(path)
            probe = parts[0]
        import pyarrow as pa

        schema = pq.read_schema(probe)
        # type-based probe, not string equality: tz-aware nanos render
        # as "timestamp[ns, tz=UTC]" and must still take the shim path
        nanos = any(
            c in schema.names
            and pa.types.is_timestamp(schema.field(c).type)
            and schema.field(c).type.unit == "ns"
            for c in cols
        )
    except Exception:
        # No pyarrow / unreadable footer: assume the modern micros layout
        # and let the declared-schema read surface any real type error.
        nanos = False
    _NANOS_PROBE_CACHE[path] = nanos
    return nanos

_RAW_SCHEMAS: dict[str, T.StructType] = {
    "events": _struct(
        ("event_id", T.LongType()),
        ("ts", T.LongType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
}

SCHEMAS["documents"] = _struct(
    ("doc_id", T.LongType()),
    ("text", T.StringType()),
    ("lang", T.StringType()),
    ("source", T.StringType()),
    ("n_chars", T.LongType()),
)
SCHEMAS["embeddings"] = _struct(
    ("vec_id", T.LongType()),
    ("embedding", T.ArrayType(T.FloatType())),
    ("label", T.IntegerType()),
)

TABLE_NAMES = tuple(SCHEMAS)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = True
) -> DataFrame:
    """Read one test table with its declared schema.

    ``widen`` is ignored; ``perfbench/run.py`` still passes it.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name in _NANOS_TS_COLS and _has_nanos_ts(path, _NANOS_TS_COLS[name]):
        df = spark.read.schema(_RAW_SCHEMAS[name]).parquet(path)
        for c in _NANOS_TS_COLS[name]:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register tables as temp views for the SQL API."""
    for n in names or TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
