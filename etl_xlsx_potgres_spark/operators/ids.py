"""Dense deterministic surrogate ids at any scale.

``row_number() OVER (ORDER BY key)`` is semantically what a surrogate
key wants (dense, deterministic, key-ordered), but Spark executes an
unpartitioned window as a single-partition sort — the whole table
through one task. This operator produces the IDENTICAL ids with a
distributed plan:

1. range-repartition + in-partition sort on the key (the ordinary
   distributed sort — each partition holds a contiguous key range),
   materialized ONCE with ``localCheckpoint``;
2. one small job counts the materialized rows per
   ``spark_partition_id()``; the driver sums them into offsets;
3. id = ``start`` + the partition's offset (a literal array indexed by
   partition id) + the row's position inside its partition
   (``monotonically_increasing_id() - (pid << 33)``).

Single-evaluation invariant. Range boundaries come from sampling and
differ between evaluations of the same plan (with AQE off, each
re-evaluated range exchange samples its own bounds). Offsets are only
valid for the one partitioning they were counted on, so the ranged
frame must be computed exactly once and every id read from that copy;
then the id is the key's global rank, exactly
``row_number() OVER (ORDER BY key)`` (the registered query's DuckDB
oracle states it as such). ``order_by`` must be a total order for full
determinism (append a unique column, as with ``dedup_deterministic``).

Costs. The sample, the range shuffle and the counting job run when the
operator is CALLED (plan-build time), not when the result is consumed.
The materialized copy holds one copy of the input in executor storage
at MEMORY_AND_DISK until the returned frame is garbage-collected. A
lost block fails the consuming job instead of being recomputed, since
a recompute would re-sample the boundaries and return wrong ids; that
is why this is a ``localCheckpoint`` and not a ``persist``, which is
silently recomputed after eviction or ``release_persisted()``.

This replaces the reference's sink-generated SERIAL ids
(``/root/reference/schema_database_pgsql.sql`` sequences) for
sink-independent runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ranked(
    df: DataFrame, order_by: list[Column | str], id_col: str, start: int
) -> tuple[DataFrame, int]:
    """``df`` plus ``id_col`` = global rank + ``start`` - 1; its row count."""
    ranged = (
        df.repartitionByRange(*order_by)
        .sortWithinPartitions(*order_by)
        .localCheckpoint(eager=False)
    )
    pid = F.spark_partition_id()
    # this action materializes the checkpoint; #partitions rows return
    counts = dict(ranged.groupBy(pid.alias("p")).count().collect())
    offsets, total = [], 0
    for p in range(max(counts, default=0) + 1):
        offsets.append(total)
        total += counts.get(p, 0)
    offset = F.array(*map(F.lit, offsets)).cast("array<bigint>")[pid]
    local = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    return ranged.withColumn(id_col, offset + local + F.lit(start)), total


def global_row_number(
    df: DataFrame,
    order_by: list[Column | str],
    id_col: str,
    start: int = 1,
) -> DataFrame:
    """Distributed ``row_number() OVER (ORDER BY *order_by)``.

    ``order_by`` may contain sort-order expressions (``F.desc(...)``,
    ``col.asc_nulls_first()``); the range partitioner and the in-partition
    sort see the same sort orders, so partition k holds exactly the
    rows ranked between partitions k-1 and k+1. ``order_by`` must be a
    total order for a deterministic result.
    """
    return _ranked(df, order_by, id_col, start)[0]


def surrogate_ids(
    df: DataFrame, order_by: list[str], id_col: str, start: int = 1
) -> DataFrame:
    return global_row_number(df, list(order_by), id_col, start)


def global_ntile(
    df: DataFrame, order_by: list[Column | str], n_tiles: int, tile_col: str
) -> DataFrame:
    """Distributed ``NTILE(n) OVER (ORDER BY *order_by)``.

    Exact NTILE semantics: with cnt = q*n + r rows, the FIRST r tiles
    get q+1 rows and the rest get q — ``((rank-1)*n) div cnt + 1``
    would spread the larger tiles evenly instead, which disagrees with
    SQL NTILE whenever cnt % n != 0.
    """
    ranked, cnt = _ranked(df, order_by, "__grank", 1)
    q, r = divmod(cnt, n_tiles)
    big = r * (q + 1)  # rows in the r larger tiles
    # `div` = exact integer division; q = 0 leaves the ELSE unreachable
    tile = F.expr(
        f"""CASE WHEN __grank <= {big} THEN (__grank - 1) div {q + 1} + 1
          ELSE {r} + (__grank - 1 - {big}) div {max(q, 1)} + 1 END"""
    )
    return ranked.withColumn(tile_col, tile.cast("int")).drop("__grank")
