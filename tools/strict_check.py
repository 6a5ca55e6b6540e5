"""Driver-faithful differential gate (strict dtype-sensitive compare).

The per-round driver runs every ``__spark_entry__.queries()`` entry at
sf=0.01 against its DuckDB oracle and compares row-count + column names
+ an order-insensitive value hash. Round 1 showed the hash is
*numeric-type sensitive* (DuckDB HUGEINT -> float64 ``120670.0`` fails
against Spark bigint ``120670``; TINYINT ``sign`` fails against double
``signum``) but *datetime-representation insensitive* (Spark DATE
arrives as ``datetime.date`` objects, DuckDB DATE as ``datetime64`` —
queries emitting those passed).

This tool reproduces those verdicts locally so every oracle pair can be
validated before the driver sees it:

- cells canonicalize to strings: ints as ``6``, floats as ``repr`` so
  ``6.0`` != ``6`` (bit-exact, no tolerance), all datetime-likes via
  ``pd.Timestamp(...).isoformat()`` (so ``date(1995,3,15)`` ==
  ``Timestamp('1995-03-15 00:00:00')``), NULL/NaN/NaT collapse to one
  marker;
- columns sorted by name, rows sorted as canonical tuples
  (order-insensitive);
- also flags *vacuous* passes (0 rows on both sides) — an empty match
  proves nothing.

Usage:
    python tools/strict_check.py [--sf /root/testdata/sf0.01]
        [--names a,b,c | --skip-green CORRECTNESS_r01.json]
        [--out STRICT.json]

Calibration: ``--calibrate CORRECTNESS_r01.json`` re-runs exactly the
names in that file and diffs this tool's verdicts against the driver's.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import json
import math
import os
import sys
import time

import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

NULL = "∅"


def canon_cell(v) -> str:
    if v is None or v is pd.NaT:
        return NULL
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return NULL if math.isnan(f) else repr(f)
    if isinstance(v, (pd.Timestamp, np.datetime64, dt.datetime, dt.date)):
        ts = pd.Timestamp(v)
        return NULL if ts is pd.NaT else ts.isoformat()
    if isinstance(v, decimal.Decimal):
        # raw DECIMAL output is a portability bug (DuckDB fetchdf gives
        # float64) — make it visible rather than coercing
        return f"DECIMAL({v})"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())
        ) + "}"
    return f"{type(v).__name__}:{v}"


def canon_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    # per-column tolist() preserves cell types; iterrows() would upcast
    # all-numeric rows to float64 and mask int-vs-float diffs
    cols = sorted(pdf.columns)
    col_vals = [pdf[c].tolist() for c in cols]
    out = [tuple(canon_cell(v) for v in cells) for cells in zip(*col_vals)]
    out.sort()
    return out


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> dict:
    res = {
        "rows_match": len(spark_pdf) == len(oracle_pdf),
        "schema_match": sorted(spark_pdf.columns) == sorted(oracle_pdf.columns),
        "hash_match": None,
        "spark_rows": len(spark_pdf),
        "oracle_rows": len(oracle_pdf),
        "vacuous": len(spark_pdf) == 0 and len(oracle_pdf) == 0,
        "err": None,
        "detail": None,
    }
    if not (res["rows_match"] and res["schema_match"]):
        res["hash_match"] = False
        res["detail"] = (
            f"spark_cols={sorted(spark_pdf.columns)} oracle_cols={sorted(oracle_pdf.columns)}"
            if not res["schema_match"] else "row count"
        )
        return res
    a, b = canon_rows(spark_pdf), canon_rows(oracle_pdf)
    res["hash_match"] = a == b
    if not res["hash_match"]:
        cols = sorted(spark_pdf.columns)
        for i, (ra, rb) in enumerate(zip(a, b)):
            if ra != rb:
                j = next(k for k in range(len(ra)) if ra[k] != rb[k])
                res["detail"] = (
                    f"first diff row {i} col {cols[j]}: "
                    f"spark={ra[j]!r} oracle={rb[j]!r}"
                )
                break
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--names", default=None, help="comma-separated subset")
    ap.add_argument("--out", default=None)
    ap.add_argument("--calibrate", default=None,
                    help="CORRECTNESS json to diff verdicts against")
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from etl_xlsx_potgres_spark.session import default_driver_memory

    # emulate the driver: bare session, UTC, no Arrow conf; the heap
    # is the package's host-derived default
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("strict-check")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/derby-home")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    if args.calibrate:
        with open(args.calibrate) as f:
            names = list(json.load(f))
    elif args.names:
        names = [n.strip() for n in args.names.split(",") if n.strip()]
    else:
        names = list(queries)

    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            spark_pdf = queries[name](spark, args.sf).toPandas()
            if name not in oracles:
                results[name] = {
                    "rows_match": None, "schema_match": None,
                    "hash_match": None, "spark_rows": len(spark_pdf),
                    "oracle_rows": None, "vacuous": len(spark_pdf) == 0,
                    "err": "no_oracle", "detail": None,
                }
            else:
                oracle_pdf = con.sql(oracles[name]).fetchdf()
                results[name] = compare(spark_pdf, oracle_pdf)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "vacuous": False,
                "err": f"{type(exc).__name__}: {exc}"[:500], "detail": None,
            }
        r = results[name]
        status = (
            "ERR " if r["err"] not in (None, "no_oracle")
            else "noracle" if r["err"] == "no_oracle"
            else "PASS" if r["hash_match"]
            else "FAIL"
        )
        vac = " VACUOUS" if r.get("vacuous") else ""
        print(f"{status:7s} {name:40s} {time.time()-t0:6.2f}s "
              f"rows={r['spark_rows']}/{r['oracle_rows']}{vac} "
              f"{(r['detail'] or r['err'] or '')[:120]}", flush=True)

    if args.calibrate:
        with open(args.calibrate) as f:
            driver = json.load(f)
        mismatches = []
        for name, d in driver.items():
            mine = results[name]
            if d["err"] == "no_oracle":
                ok = mine["err"] == "no_oracle"
            else:
                ok = mine["hash_match"] == d["hash_match"]
            if not ok:
                mismatches.append(name)
                print(f"CALIBRATION MISMATCH {name}: driver={d['hash_match']} "
                      f"mine={mine['hash_match']} detail={mine['detail']}")
        print(f"calibration: {len(driver) - len(mismatches)}/{len(driver)} verdicts agree")

    n_fail = sum(
        1 for r in results.values()
        if r["err"] != "no_oracle" and not r["hash_match"]
    )
    n_vac = sum(1 for r in results.values() if r.get("vacuous"))
    print(f"TOTAL {len(results)} checked, {n_fail} failing, {n_vac} vacuous")
    if args.out:
        # Record the repo/fixture state the verdicts were earned
        # against, so tools/stamp_green.py can refuse to stamp a name
        # whose source or fixtures changed between sweep and stamping.
        out = dict(results)
        out["_meta"] = {
            "sf": args.sf,
            "fixture": entry_mod.fixture_fingerprint(args.sf),
            "source_hashes": {n: entry_mod._source_hash(n) for n in results},
        }
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
