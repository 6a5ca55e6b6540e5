"""Dynamic partition pruning — the dominant scan-eliminator for
date/status-partitioned 100 TB fact tables, exercised end-to-end.

Static pruning (``plans/versioned_snapshots.py``) only fires when the
filter literal sits on the partition column itself. The common
warehouse query is different: the fact is partitioned by a date
bucket, the FILTER lives on a dimension attribute (here: fiscal
quarter), and the only link between them is the join. At 100 TB the
difference is reading 3 month-partitions instead of ~84 — DPP is how
Spark turns the dim-side filter into a runtime ``IN`` over the fact's
partition values (reusing the broadcast exchange, so the pruning
subquery is free).

Shape:

1. provision (idempotent overwrite, per-SF path): lineitem written
   ``partitionBy(ship_month)`` with ``ship_month =
   date_format(l_shipdate, 'yyyy-MM')`` — the layout a 100 TB
   shipping fact actually has;
2. dim: DISTINCT months of ``o_orderdate`` with a derived fiscal
   ``quarter`` attribute, provisioned as a STORED parquet table and
   read back. Stored matters: if the quarter expression stayed in
   the same plan as the join, Catalyst's constraint propagation
   rewrites it into a static partition filter on the fact (measured —
   the first draft of this plan showed both). Reading the dim from
   disk severs the expression lineage, exactly like a real warehouse
   dim, so the runtime ``dynamicpruningexpression`` is the ONLY
   pruning lever;
3. broadcast-join fact.ship_month = dim.month, aggregate revenue per
   month with the exact-decimal policy.

``tests/test_dpp.py`` asserts ``dynamicpruningexpression`` appears in
the fact scan's PartitionFilters (and that the static plan would read
all partitions without it). The DuckDB oracle re-derives the same
join from the raw parquet — a pruning bug that drops a month or reads
a wrong one flips counts and sums.

Reference lifecycle note: the reference scans its whole workbook per
run (``etl_process.py:17-27``); partition-pruned reads are the
at-scale replacement this plan demonstrates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import msum, sql_msum
from ..hints import constant_size
from ..registry import register
from ..sources import load_table

_ROOT = "/tmp/spark_graft_dpp"
QUARTER = "1996-Q1"


def _provision(spark: SparkSession, sf_dir: str) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join(_ROOT, f"lineitem_{sf}")
    # one shuffle-free pass: ship_month is a projection; the writer
    # fans rows into month directories per task (84 months x 32 tasks
    # of small files is fine at test SF; a production deployment adds
    # a repartition(ship_month) so each partition dir gets few files)
    (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_extendedprice",
            "l_discount",
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        )
        .write.mode("overwrite")
        .partitionBy("ship_month")
        .parquet(out)
    )
    return out


def _provision_dim(spark: SparkSession, sf_dir: str) -> str:
    """DISTINCT order months + derived fiscal-quarter attribute,
    written to parquet. ``quarter`` is a STORED column, so once read
    back a filter on it reaches the fact's partition column ONLY
    through the join — no expression lineage for constraint
    propagation to exploit."""
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join(_ROOT, f"month_dim_{sf}")
    month = F.date_format("o_orderdate", "yyyy-MM")
    (
        load_table(spark, sf_dir, "orders")
        .select(month.alias("month"))
        .distinct()
        .select(
            "month",
            F.concat(
                F.substring("month", 1, 4),
                F.lit("-Q"),
                ((F.substring("month", 6, 2).cast("int") + 2) / 3)
                .cast("int")
                .cast("string"),
            ).alias("quarter"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-pruned join itself, pre-aggregation — split out
    so ``tests/test_dpp.py`` can assert the physical plan."""
    fact = spark.read.parquet(_provision(spark, sf_dir))
    dim = spark.read.parquet(_provision_dim(spark, sf_dir)).filter(
        F.col("quarter") == QUARTER
    )
    return fact.join(
        constant_size(dim), fact.ship_month == dim.month, "inner"
    )


@register(
    "dpp_partition_pruned_join",
    oracle=f"""
    WITH dim AS (
      SELECT month FROM (
        SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
        FROM orders
      )
      WHERE substr(month, 1, 4) || '-Q' ||
            CAST((CAST(substr(month, 6, 2) AS INT) + 2) // 3 AS VARCHAR)
            = '{QUARTER}'
    )
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           count(*) AS line_count,
           {sql_msum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
    JOIN dim ON strftime(l_shipdate, '%Y-%m') = dim.month
    GROUP BY ship_month
    """,
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dpp_join(spark, sf_dir)
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            msum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
    )
