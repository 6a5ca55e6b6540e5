"""CSV corrupt-row quarantine under driver attestation — the
PERMISSIVE-mode intake path (``sources/files.read_csv_quarantine`` +
``split_corrupt``) that every landing-edge pipeline needs: malformed
rows are captured with their raw line instead of failing the scan or
silently nulling, and the clean channel continues typed.

The fixture is a deterministic in-query CSV drop (fixed path,
idempotent overwrite, the ``mm_binaryfile_ingest`` precedent): every
13th row carries a non-numeric amount and every 29th a missing
column, both of which PERMISSIVE must route to the corrupt channel.
The oracle re-derives the clean rows AND the quarantine count
analytically from ``generate_series`` — a parser that silently
nulled a bad row (losing it from quarantine) or dropped a good one
flips either the row set or the count.

Reference lifecycle note: the reference's intake trusts pandas to
coerce (``etl_process.py:7-23``, bad cells become NaN silently); the
quarantine channel is the engine's explicit replacement for that
silent coercion.

Scale: the csv source splits by file; PERMISSIVE parsing is per-row
and map-only. The single scan serves both channels (persisted parse,
see ``split_corrupt``); the only shuffle is the 1-row quarantine
count broadcast back onto the clean rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources.files import read_csv_quarantine, split_corrupt

N_ROWS = 300
_DROP = "/tmp/spark_graft_csv_quarantine"


def _provision(path: str = _DROP) -> str:
    os.makedirs(path, exist_ok=True)
    lines = ["k,name,amount"]
    for i in range(N_ROWS):
        if i % 13 == 0:
            lines.append(f"{i},row {i},not_a_number")  # type violation
        elif i % 29 == 0:
            lines.append(f"{i},row {i}")  # missing column
        else:
            lines.append(f"{i},row {i},{i}.5")
    with open(os.path.join(path, "intake.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


@register(
    "csv_quarantine_ingest",
    oracle=f"""
    SELECT i AS k,
           'row ' || CAST(i AS VARCHAR) AS name,
           CAST(i AS DOUBLE) + 0.5 AS amount,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM generate_series(0, {N_ROWS - 1}) b(j)
            WHERE j % 13 = 0 OR j % 29 = 0) AS n_quarantined
    FROM generate_series(0, {N_ROWS - 1}) t(i)
    WHERE i % 13 <> 0 AND i % 29 <> 0
    """,
)
def csv_quarantine_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _provision()
    df = read_csv_quarantine(
        spark, path, "k INT, name STRING, amount DOUBLE"
    )
    clean, bad = split_corrupt(df)
    total = bad.agg(F.count(F.lit(1)).cast("long").alias("n_quarantined"))
    return clean.select(
        F.col("k").cast("long").alias("k"), "name", "amount"
    ).crossJoin(constant_size(total))
