"""DuckDB oracle frames for a workload's registry queries, computed
once per seed and kept beside the inputs.

Run as ``python3 -m perfbench.oracles <data_dir> <name> [<name> ...]``
from the checkout root: ``run.py`` does so before the Spark session
starts, so neither the oracles' time nor their memory lands in the
measured process, and the package's registry is not imported there
ahead of the timed set-up. A frame's file is named by a hash of its
oracle SQL, so an oracle whose SQL changed is computed again. The
frames are pickles this benchmark wrote.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys


def path(data_dir: str, name: str, sql: str) -> str:
    digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
    return os.path.join(data_dir, "oracle", f"{name}-{digest}.pkl")


def load(data_dir: str, name: str, sql: str):
    with open(path(data_dir, name, sql), "rb") as f:
        return pickle.load(f)


def main(argv: list[str]) -> int:
    from etl_xlsx_potgres_spark import registry

    data_dir, names = argv[0], argv[1:]
    registry.load_all()
    todo = [n for n in names if not os.path.exists(path(data_dir, n, registry.ORACLES[n]))]
    if not todo:
        return 0
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            table = f.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    os.makedirs(os.path.join(data_dir, "oracle"), exist_ok=True)
    for name in todo:
        sql = registry.ORACLES[name]
        frame = con.sql(sql).fetchdf()
        tmp = f"{path(data_dir, name, sql)}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(frame, f)
        os.replace(tmp, path(data_dir, name, sql))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
