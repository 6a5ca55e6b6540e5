"""The deterministic ledger workbooks of the xlsx intake queries
(batch scan ``xlsx_datasource_ingest``, streaming
``xlsx_stream_ingest``): ``N_FILES`` workbooks of ``ROWS_PER_FILE``
rows whose every cell is a pure function of (file f, row i), and the
per-category aggregate both queries are checked against, re-derived
in DuckDB from the generating formula.
"""

from __future__ import annotations

import os

from ..functions.numeric import sql_msum

N_FILES = 6
ROWS_PER_FILE = 200
_ROOT = "/tmp/spark_graft_xlsxds"
_VERSION = "v1"  # bump when the fixture formula changes


def provision_ledgers() -> str:
    """Write the deterministic workbook set once and return its
    directory (content is a pure function of (f, i), so an existing
    provision is always valid).  DuckDB twin of its aggregate:
    :data:`SQL_LEDGER_TOTALS`."""
    from ..sources.xlsx_stdlib import write_xlsx

    out = os.path.join(_ROOT, _VERSION)
    marker = os.path.join(out, "_SUCCESS")
    token = f"{N_FILES}x{ROWS_PER_FILE}"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == token:
                return out
    os.makedirs(out, exist_ok=True)
    for f in range(N_FILES):
        rows = [
            [
                f * ROWS_PER_FILE + i,
                f"c{(f + i) % 4}",
                (i * 13 + f) % 100,
                i + 0.25 + f * 0.5,
            ]
            for i in range(ROWS_PER_FILE)
        ]
        write_xlsx(
            os.path.join(out, f"ledger_{f}.xlsx"),
            ["id", "cat", "qty", "price"],
            rows,
        )
    with open(marker, "w") as fh:
        fh.write(token)
    return out


SQL_LEDGER_TOTALS = f"""SELECT 'c' || CAST((f + i) % 4 AS VARCHAR) AS cat,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM((i * 13 + f) % 100) AS BIGINT) AS qty_sum,
           {sql_msum("i + 0.25 + f * 0.5", "price_sum")}
    FROM generate_series(0, {N_FILES - 1}) t(f),
         generate_series(0, {ROWS_PER_FILE - 1}) s(i)
    GROUP BY cat"""
