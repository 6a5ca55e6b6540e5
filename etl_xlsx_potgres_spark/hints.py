"""The engine's broadcast policy: the only module that calls
``F.broadcast``.

A join is left to Catalyst and AQE, which broadcast a side whose
estimated size is under ``spark.sql.autoBroadcastJoinThreshold``,
unless one of two helpers hints it. :func:`constant_size` hints a
frame whose row count is bounded by construction at any data volume
(nation/region dims, scalar aggregates, codebooks, seed sets,
enum-keyed rollups, query-side constants); every call site is listed
with its row bound in ``tests/test_plans.py``'s broadcast lint.
:func:`broadcast_if_fits` hints a data-scaling frame Catalyst cannot
size (a ``localCheckpoint``ed iteration state) only while the
caller's byte estimate is under that same threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def constant_size(frame: DataFrame) -> DataFrame:
    """Broadcast hint whose call site asserts the frame is
    constant-size at any data volume.  Semantically identical to
    ``F.broadcast``; the name is the machine-checkable contract the
    broadcast lint keys on."""
    return F.broadcast(frame)


def broadcast_if_fits(frame: DataFrame, est_bytes: int) -> DataFrame:
    """Broadcast ``frame`` only while ``est_bytes`` fits under
    autoBroadcastJoinThreshold; above it the plain frame is returned,
    so the planner shuffles and AQE can still convert at runtime."""
    if est_bytes <= _threshold_bytes(frame.sparkSession):
        return F.broadcast(frame)
    return frame


def _threshold_bytes(spark: SparkSession) -> int:
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    for suffix, mult in units.items():
        for s in (suffix + "b", suffix):
            if raw.endswith(s):
                return int(raw[: -len(s)]) * mult
    if raw.endswith("b"):
        raw = raw[:-1]
    return int(raw)
