"""Keyed deduplication (SURVEY.md §2 row 13).

Scale notes: both variants are one hash shuffle on the dedup keys.
``dedup_deterministic`` uses a window, which sorts within partitions —
under AQE skew handling a hot key still lands in one task, so for
known-skewed keys pre-aggregate a salt or use the arbitrary variant
when survivor identity doesn't matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .rank import top_n


def dedup_arbitrary(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keep one arbitrary row per key — the reference's
    ``dropDuplicates(["cpf_cnpj"])`` (``/root/reference/etl_process.py:213``).
    Survivor depends on partition order; use only when any row will do.
    """
    return df.dropDuplicates(keys)


def dedup_deterministic(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """Keep the first row per key under an explicit tie-break ordering —
    the reproducible upgrade of the reference's arbitrary-survivor
    dedup, the top-1 :func:`.rank.top_n`. ``order_by`` must be a total
    order within key groups for full determinism (include a unique
    column last).
    """
    return top_n(df, keys, order_by, 1)
