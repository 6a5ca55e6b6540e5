"""Partition-structured parquet sink with dynamic-overwrite backfill.

The pattern a 100 TB lakehouse layout needs: data laid out as
``path/part_col=value/`` directories so downstream scans
partition-prune, and re-runs of one slice (a backfill of yesterday, a
corrected source) replace ONLY the partitions present in the new
frame — static overwrite mode would silently drop every other
partition in the table, which is the classic Spark backfill footgun
(dynamic partition overwrite is the fix, passed as the writer's
``partitionOverwriteMode`` option so it binds this one write and never
touches session conf).

The reference loads everything into unpartitioned Postgres tables
(``/root/reference/etl_process.py:29-191``); this is the
object-store-era layout of the same outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Write ``df`` as parquet partitioned by ``partition_cols``.

    With ``dynamic=True`` (the default) an overwrite only replaces the
    partitions present in ``df`` — the safe backfill semantics. With
    ``dynamic=False`` Spark's static mode truncates the whole table
    first (full-table rebuild semantics, occasionally what you want,
    never what you want by accident).
    """
    (
        df.write.partitionBy(*partition_cols)
        .mode(mode)
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .parquet(path)
    )
