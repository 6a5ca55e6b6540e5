#!/usr/bin/env python
"""Benchmark runner: executes the headline query library at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion through the `noop` sink so the
full distributed plan runs without a driver-side collect.

Stability: the whole suite runs $SPARK_GRAFT_BENCH_RUNS (default 3)
full passes in a pinned order and reports the per-query MEDIAN —
single-sample wall times on a shared box swing several x run-to-run
(the r4->r6 "regressions" on unchanged dedup code), and medians make
round-over-round deltas attributable to code, not scheduler noise.
Raw per-pass samples land in BENCH_FULL.json.

Load: ``load_flag`` is true when the busy CPU outside this process tree
(the driver and its JVM), measured from /proc across the run and
reported as ``external_cpu_cores``, averages more than
``LOAD_THRESHOLD`` (0.10) of the host's cores.  It has no other input.
``loadavg_1m`` is recorded beside it; ``ratio_vs_anchor`` compares the
per-query times with the committed BENCH_FULL.json, which this run
overwrites.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_xlsx_potgres_spark import caching, registry
from etl_xlsx_potgres_spark.session import get_spark

# A run is flagged as loaded when the busy CPU outside this process
# tree averages more than this share of the host's cores.
LOAD_THRESHOLD = 0.10


def _busy_jiffies(cpu_line: str) -> int | None:
    """Busy jiffies of the aggregate ``cpu`` line of /proc/stat: user
    through steal minus idle and iowait.  Steal counts as busy; guest
    and guest_nice are left out because the kernel already counts them
    inside user and nice."""
    parts = cpu_line.split()
    if not parts or parts[0] != "cpu":
        return None
    vals = [int(x) for x in parts[1:9]]  # user .. steal
    return sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)


def _system_busy_jiffies() -> int | None:
    """Whole-host busy CPU jiffies from /proc/stat (None off-Linux)."""
    try:
        with open("/proc/stat") as f:
            return _busy_jiffies(f.readline())
    except OSError:
        return None


def _proc_tree_jiffies() -> int | None:
    """utime+stime(+reaped-children cutime/cstime) jiffies summed over
    this process and every live descendant — the bench's python driver
    plus the Spark JVM it launched.  A descendant that exits mid-run
    stays accounted: its time folds into a live ancestor's cutime.
    Known limits: a descendant orphaned and reparented to init folds
    its time into init's cutime, so it reads as external; and the /proc
    walk races with short-lived processes."""
    try:
        pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return None
    info: dict[int, tuple[int, int]] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            continue  # raced with exit
        try:
            rest = s[s.rindex(")") + 2:].split()
            ppid = int(rest[1])
            jif = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        except (ValueError, IndexError):
            continue
        info[pid] = (ppid, jif)
    me = os.getpid()

    def mine(pid: int) -> bool:
        seen = set()
        while pid > 1 and pid not in seen:
            if pid == me:
                return True
            seen.add(pid)
            pid = info.get(pid, (0, 0))[0]
        return False

    return sum(jif for pid, (_, jif) in info.items() if mine(pid))


def external_cpu_probe() -> tuple[int, int, float] | None:
    """(system busy jiffies, own-tree jiffies, wall seconds) snapshot;
    two snapshots bracket a run and :func:`external_cpu_cores` turns
    their deltas into the average busy cores that were not ours."""
    sysj = _system_busy_jiffies()
    ours = _proc_tree_jiffies()
    if sysj is None or ours is None:
        return None
    return sysj, ours, time.perf_counter()


def external_cpu_cores(
    start: tuple[int, int, float] | None,
    end: tuple[int, int, float] | None,
) -> float | None:
    if start is None or end is None:
        return None
    hz = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    elapsed = max(end[2] - start[2], 1e-6)
    ext = (end[0] - start[0]) - (end[1] - start[1])
    return round(max(0.0, ext / hz / elapsed), 3)


def load_flag(ext_cores: float | None, cpus: int) -> bool:
    """True when the run shared its host: the measured external CPU
    (busy cores outside this process tree, averaged over the run)
    exceeds ``LOAD_THRESHOLD * cpus``.  Steal counts as busy in
    :func:`_busy_jiffies`, so a hypervisor taking cycles from this VM
    raises the signal as a neighbour process does.  Without /proc the
    signal is None and the flag false."""
    return ext_cores is not None and ext_cores > LOAD_THRESHOLD * cpus


def load_anchor(anchor_path: str, sf, times: dict[str, float]) -> dict | None:
    """Ratio stats of this run's per-query times against the committed
    anchor at ``anchor_path``.  A missing or malformed anchor, or one
    captured at a different scale factor (whose ratios would be
    meaningless), gives None instead of failing the run."""
    try:
        with open(anchor_path) as f:
            anchor = json.load(f)
        if anchor.get("sf") is not None and sf is not None and anchor["sf"] != sf:
            raise ValueError("anchor sf mismatch")
        aq = anchor.get("queries", {})
        pairs = sorted(
            ((round(times[n] / aq[n], 3), n) for n in times
             if n in aq and isinstance(aq[n], (int, float))
             and aq[n] > 0),
        )
        if not pairs:
            return None
        ratios = [r for r, _ in pairs]
        k = len(ratios)
        return {
            "anchor_total": anchor.get("value"),
            "anchor_n": len(aq),
            "n_common": k,
            "median": round(statistics.median(ratios), 3),
            "iqr": [ratios[k // 4], ratios[(3 * k) // 4]],
            "worst3": [[n, r] for r, n in pairs[-3:][::-1]],
        }
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _reference_equivalent_sec(spark) -> float:
    """Time the reference's observable workload (SURVEY.md §3: clean,
    type, dedup, split into planos/clientes/contratos/contatos) on a
    1200-row workbook clone — the number comparable to BASELINE.md's
    22.31s transform-stage total."""
    import datetime

    import pandas as pd

    from etl_xlsx_potgres_spark.pipelines import build_outputs, transform

    rows = [
        {
            "Nome/Razão Social": f"Cliente {i}",
            "Nome Fantasia": None,
            "CPF/CNPJ": f"{i % 1198:09d}-{i % 97:02d}",
            "Data Nasc.": datetime.datetime(1980, 1, 1),
            "Data Cadastro cliente": datetime.datetime(2020, 1, 1),
            "Celulares": 5581000000000.0 + i,
            "Telefones": 8133330000.0 + i,
            "Emails": f"c{i}@example.com",
            "Endereço": f"Rua {i}",
            "Número": str(i),
            "Complemento": None,
            "Bairro": "Centro",
            "CEP": "50000-000",
            "Cidade": "Recife",
            "UF": "Pernambuco",
            "Plano": f"PLANO_{i % 16}",
            "Plano Valor": 99.9,
            "Vencimento": 10,
            "Status": "Ativo",
            "Isento": None,
        }
        for i in range(1200)
    ]
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.perf_counter()
    raw = spark.createDataFrame(pd.DataFrame(rows))
    # eager localCheckpoint instead of cache(): materializes once AND
    # truncates the lineage, so each of the four downstream writes
    # plans a 1-node scan instead of re-analyzing the whole transform
    # plan; the four independent sink jobs are then submitted from
    # four threads so their fixed per-job overhead overlaps (the
    # reference writes its four tables strictly sequentially).
    # Measured at the 1200-row workbook: 5.1 s sequential+cache ->
    # 1.3 s checkpoint+parallel (n=5 medians). localCheckpoint is
    # executor-local (not fault-tolerant) — the right trade for a
    # driver-bounded workbook frame; checkpoint blocks are freed by
    # the ContextCleaner when the frame goes out of scope.
    cleaned = transform(raw).localCheckpoint(eager=True)
    out = build_outputs(cleaned)
    with ThreadPoolExecutor(4) as ex:
        list(
            ex.map(
                lambda name: out[name]
                .write.format("noop")
                .mode("overwrite")
                .save(),
                ("planos", "clientes", "contratos", "contatos"),
            )
        )
    elapsed = round(time.perf_counter() - t0, 3)
    caching.release_persisted()
    spark.catalog.clearCache()
    return elapsed


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="bench")
    registry.load_all()
    names = sorted(registry.QUERIES)
    # the registered reference_pipeline_1200rows is the ledger twin of
    # the faithful fan-out timed below — skip the summary variant here
    # so the headline number stays the baseline-comparable one
    names = [n for n in names if n != "reference_pipeline_1200rows"]

    # Warm the JVM/codegen path once so per-query numbers measure the
    # queries, not session startup (startup is reported separately).
    t0 = time.perf_counter()
    spark.range(1).count()
    warm = time.perf_counter() - t0

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    samples: dict[str, list[float]] = {n: [] for n in names}

    # Load accounting: per-query spreads up to ~7x across passes
    # tracked host load, so the load a run was measured under is
    # recorded with it. 1-min loadavg is sampled at suite start and
    # after every pass, for the record only; the flag reads the
    # measured external CPU between the two probes.
    cpus = os.cpu_count() or 1
    loadavg_1m: list[float] = [round(os.getloadavg()[0], 2)]
    ext_start = external_cpu_probe()

    def run_once(name: str) -> float:
        df = registry.QUERIES[name](spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        # queries are independent; drop any caches a query pinned so
        # memory pressure (GC storms) from one can't distort the next
        caching.release_persisted()
        spark.catalog.clearCache()
        return round(time.perf_counter() - t0, 3)

    for _ in range(n_runs):
        for name in names:  # pinned order every pass
            samples[name].append(run_once(name))
        loadavg_1m.append(round(os.getloadavg()[0], 2))

    # Noisy-tail escalation: a query whose sample spread exceeds 2x is
    # dominated by suite interleaving, not by its own plan — take extra
    # isolated samples (to N=5 total) so the median stands on its own.
    # The residual max/min spread is reported per query in BENCH_FULL.
    resampled = []
    for name in names:
        v = samples[name]
        if len(v) >= 2 and min(v) > 0 and max(v) / min(v) > 2.0:
            while len(samples[name]) < max(5, n_runs):
                samples[name].append(run_once(name))
            resampled.append(name)

    times = {n: round(statistics.median(v), 3) for n, v in samples.items()}
    spreads = {
        n: round(max(v) / min(v), 2)
        for n, v in samples.items()
        if len(v) >= 2 and min(v) > 0
    }

    # Apples-to-apples with BASELINE.md: the reference's transform
    # stage (1200-row workbook clean+dedup, measured 22.31s there)
    # re-run through this engine's pipeline, including the fan-out to
    # all four normalized outputs the reference computes.
    ref_samples = [_reference_equivalent_sec(spark) for _ in range(n_runs)]
    samples["reference_pipeline_1200rows"] = ref_samples
    times["reference_pipeline_1200rows"] = round(statistics.median(ref_samples), 3)
    loadavg_1m.append(round(os.getloadavg()[0], 2))

    # Ratio-vs-anchor: same-code totals spread ~8% run-to-run, so
    # cross-run comparisons use the PER-QUERY ratio distribution
    # against the committed BENCH_FULL this run is about to overwrite.
    # A genuine regression moves specific queries' ratios far from the
    # median; host drift moves the whole distribution together.
    repo = os.path.dirname(os.path.abspath(__file__))
    ratio_stats = load_anchor(os.path.join(repo, "BENCH_FULL.json"), sf, times)
    ext_cores = external_cpu_cores(ext_start, external_cpu_probe())

    total = round(sum(times.values()), 3)
    payload = {
        "metric": "headline_query_wall_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "n_queries": len(times),
        "warmup_sec": round(warm, 3),
        "bench_runs": n_runs,
        "stat": "median",
        # start + one sample per pass + one after the ref pipeline;
        # recorded, not an input of the flag
        "loadavg_1m": loadavg_1m,
        "host_cpus": cpus,
        # Average cpu-cores of measured non-ours work across the run
        # (/proc accounting; null off-Linux) — the flag's one input.
        "external_cpu_cores": ext_cores,
        "load_flag": load_flag(ext_cores, cpus),
        "ratio_vs_anchor": ratio_stats,
    }

    # Full per-query detail always lands next to this script; the
    # printed line must survive a 2000-char stdout tail capture (the
    # round-1 line was ~5 KB and got head-truncated into unparseable
    # JSON), so trim the inline map to the slowest queries as needed.
    with open(os.path.join(repo, "BENCH_FULL.json"), "w") as f:
        json.dump(
            {
                **payload,
                "samples": samples,
                "spread_max_over_min": spreads,
                "resampled_to_n5": resampled,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1700:
        payload["queries_note"] = "slowest subset; full map in BENCH_FULL.json"
        by_cost = sorted(times, key=times.get, reverse=True)
        keep = len(by_cost)
        while keep > 1:
            subset = dict.fromkeys(by_cost[:keep])
            subset = {n: times[n] for n in subset}
            subset["reference_pipeline_1200rows"] = times[
                "reference_pipeline_1200rows"
            ]
            payload["queries"] = subset
            line = json.dumps(payload, separators=(",", ":"))
            if len(line) <= 1700:
                break
            keep -= max(1, keep // 10)
    print(line, flush=True)


if __name__ == "__main__":
    main()
