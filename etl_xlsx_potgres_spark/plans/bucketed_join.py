"""Bucketed co-located join — the zero-shuffle join technique for
repeatedly-joined 100 TB fact tables: both sides are written
``bucketBy(N, key)`` + ``sortBy(key)``, so every future equi-join on
the key reads matching buckets pairwise and sort-merges WITHOUT an
Exchange on either side (the shuffle is paid once at write time,
amortized over every downstream join; this is the layout-as-operator
counterpart of ``plans/zorder.py``).

Reference lifecycle note: the reference re-resolves FKs per load
(``etl_process.py:40-75``); bucketing is the at-scale answer to
"joined on the same key by every query".

The query provisions bucketed external copies of orders and lineitem
(fixed per-SF warehouse path, idempotent overwrite, catalog entry
re-registered per session since the in-memory catalog does not
persist), joins them on the bucket key, and aggregates with the
exact-decimal policy. ``tests/test_bucketing.py`` asserts the
Exchange-free plan property; the shuffle-budget census pins it for
this query too (write cost excluded from the census — it is the
amortized one-time layout pass). The DuckDB oracle joins the parquet
originals: any bucket-routing or bucket-pruned-scan bug that drops or
duplicates rows flips the counts/sums.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..sources import load_table

N_BUCKETS = 8
_WH = "/tmp/spark_graft_bucketed"


def _provision(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    tag = sf.replace(".", "_").replace("-", "_")
    names = (f"bkt_orders_{tag}", f"bkt_lineitem_{tag}")
    specs = (
        ("orders", names[0], "o_orderkey"),
        ("lineitem", names[1], "l_orderkey"),
    )
    for table, name, key in specs:
        path = os.path.join(_WH, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            # cluster by the bucket key first: one task per bucket ->
            # ONE file per bucket at any upstream width (see
            # operators.stores.provision_store, r20)
            load_table(spark, sf_dir, table)
            .repartition(N_BUCKETS, key)
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .format("parquet")
            .saveAsTable(name)
        )
    return names


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice*10000) AS DECIMAL(38,0)))
                AS DOUBLE)/10000 AS sum_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_t, lineitem_t = _provision(spark, sf_dir)
    o = spark.table(orders_t)
    li = spark.table(lineitem_t)
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        (
            F.sum(
                F.floor(F.col("l_extendedprice") * 10000).cast(
                    T.DecimalType(38, 0)
                )
            ).cast("double")
            / 10000
        ).alias("sum_price"),
    )
