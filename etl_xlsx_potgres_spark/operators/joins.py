"""FK-lookup joins and insert-if-absent sets.

The reference resolves foreign keys with one SELECT per row per key
(``/root/reference/etl_process.py:53-59`` and call sites :105,:109,:163
— the N+1 pattern, ~8,400 round-trips for 1,200 rows) and inserts with
per-row ``ON CONFLICT DO NOTHING`` (:40,:75). Here both become joins:

- dimension lookups are **broadcast hash joins** (dims are tiny:
  16 planos / 4 status / 3 tipos in the reference; at 100 TB any dim
  under the broadcast threshold still ships once per executor, never
  shuffles the fact side);
- insert-if-absent is a **left anti join** against the existing key
  set (for a JDBC target, the key set is read back through the same
  connector — see sinks/jdbc.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..hints import constant_size


def fk_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    broadcast: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Resolve FKs via a single left join; returns ``(resolved, missing)``.

    ``missing`` carries the fact columns of rows with no dimension
    match — the reference raises "não encontrado" per row
    (``etl_process.py:106-111``); we route them to the quarantine
    channel instead.
    """
    keys = [on] if isinstance(on, str) else list(on)
    d = constant_size(dim) if broadcast else dim
    joined = fact.join(d, keys, "left")
    # any non-key dim column being null marks a miss
    probe = next(c for c in dim.columns if c not in keys)
    resolved = joined.filter(F.col(probe).isNotNull())
    missing = joined.filter(F.col(probe).isNull()).select(*fact.columns)
    return resolved, missing


def new_rows(incoming: DataFrame, existing_keys: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``incoming`` whose key is absent from ``existing_keys`` —
    the set-based form of ``INSERT ... ON CONFLICT DO NOTHING``
    (idempotent under re-runs). One shuffle (or broadcast if the key
    set is small)."""
    return incoming.join(existing_keys.select(*keys), keys, "left_anti")
