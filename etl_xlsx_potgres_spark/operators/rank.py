"""Per-key ranked selection: keep the first ``n`` rows of every group
under a total order — top-k neighbours, ADC shortlists, probe sets,
band-bucket caps and keyed deduplication — and its top-1 argmin form,
the nearest id by a distance.

Every kernel has its Spark form (over DataFrames) and its DuckDB form
(``sql_*``, SELECT bodies over a FROM clause) side by side, so a plan
module composes its query and its oracle from the same decision.

Ordering contract: ``order`` must be a total order within a group,
ending in a unique id, or the survivors depend on partitioning.  A
NaN sorts above every number on both engines, so under ``F.desc`` /
``DESC`` a NaN score ranks first on both, and the two forms agree
row for row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n(
    frame: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column | str],
    n: int,
    rank: str | None = None,
) -> DataFrame:
    """The first ``n`` rows of each ``keys`` group under ``order``: a
    ``row_number()`` window over ``partitionBy(*keys).orderBy(*order)``
    filtered to ``<= n``, which Spark plans with a map-side partial
    ``WindowGroupLimit``, so at most ``n`` rows per group and task
    cross the shuffle.  ``order`` must be a total order within a group
    (end it in a unique id).  The rank column is kept, named ``rank``,
    only when ``rank`` is given.  DuckDB twin: :func:`sql_top_n`."""
    col = rank or "__rank"
    w = Window.partitionBy(*keys).orderBy(*order)
    ranked = frame.withColumn(col, F.row_number().over(w)).filter(
        F.col(col) <= n
    )
    return ranked if rank else ranked.drop(col)


def nearest(
    frame: DataFrame, keys: tuple[str, ...], d2, id_col: str, out: str
) -> DataFrame:
    """(*keys, out, d2): per ``keys`` group the ``id_col`` of the row
    with the least ``d2``, ties to the lower id, as a map-side-partial
    ``min(struct(d2, id))`` — the lexicographic struct min is exactly
    ORDER BY d2, id, and one row per key crosses the shuffle instead of
    the whole candidate crossJoin a window would move.  DuckDB twin:
    :func:`sql_nearest`."""
    m = F.min(F.struct(d2.alias("d"), F.col(id_col).alias("i"))).alias(out)
    return frame.groupBy(*keys).agg(m).select(
        *keys, F.col(f"{out}.i").alias(out), F.col(f"{out}.d").alias("d2")
    )


# --- DuckDB renderings ----------------------------------------------


def sql_top_n(
    select: str,
    src: str,
    keys: Sequence[str],
    order: str,
    n: int,
    rank: str | None = None,
) -> str:
    """SELECT body of :func:`top_n`: the ``select`` list over the FROM
    clause ``src`` (which may carry joins and a WHERE), the first ``n``
    rows per ``keys`` under the SQL ``order``, with the rank appended
    as ``rank`` only when it is given."""
    w = f"row_number() OVER (PARTITION BY {', '.join(keys)} ORDER BY {order})"
    if rank:
        return f"""SELECT {select}, {w} AS {rank}
  FROM {src}
  QUALIFY {rank} <= {n}"""
    return f"""SELECT {select}
  FROM {src}
  QUALIFY {w} <= {n}"""


def sql_nearest(
    src: str, keys: tuple[str, ...], d2: str, id_col: str, out: str
) -> str:
    """SELECT body of :func:`nearest` over the FROM clause ``src``:
    (*keys, out, d2), the least-``d2`` row per ``keys`` with ties to
    the lower ``id_col``."""
    return sql_top_n(
        f"{', '.join(keys)}, {id_col} AS {out}, {d2} AS d2",
        src,
        keys,
        f"{d2}, {id_col}",
        1,
    )
