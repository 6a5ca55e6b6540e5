"""bench.py's load flag reads one measured signal: the busy CPU outside
the bench's own process tree, averaged over the run
(``external_cpu_cores``), against ``LOAD_THRESHOLD`` of the host's
cores.  Every committed record that carries the signal is replayed
here, and a real sibling load must trip it."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from pathlib import Path

import pytest

import bench

REPO = Path(bench.__file__).resolve().parent
CPUS = 32

# The driver records that print external_cpu_cores.  BENCH_r20_c8 was
# recorded load_flag true by the old start gate (start loadavg 9.62)
# while its measured external CPU was 0.0.
MEASURED_RECORDS = [
    "BENCH_r19.json",
    "BENCH_r20.json",
    "BENCH_r20_c8.json",
    "BENCH_r21.json",
    "BENCH_r21_c8.json",
]


def _printed_line(record: str) -> dict:
    """The JSON line bench.py printed, from the driver's stdout tail."""
    tail = json.loads((REPO / record).read_text())["tail"]
    last = [ln for ln in tail.splitlines() if ln.startswith("{")][-1]
    return json.loads(last)


@pytest.mark.parametrize("record", MEASURED_RECORDS)
def test_driver_record_replay(record):
    line = _printed_line(record)
    assert line["external_cpu_cores"] is not None
    assert bench.load_flag(line["external_cpu_cores"], line["host_cpus"]) is False


# the quiet sf0.1 anchor's measured profile (BENCH_FULL.json at
# eb34c1f), copied here because every bench run rewrites that file
QUIET_ANCHOR = {"external_cpu_cores": 0.0, "host_cpus": 32}


def test_quiet_anchor_profile_not_flagged():
    assert bench.load_flag(
        QUIET_ANCHOR["external_cpu_cores"], QUIET_ANCHOR["host_cpus"]
    ) is False


def test_threshold_edges():
    edge = bench.LOAD_THRESHOLD * CPUS
    assert bench.load_flag(edge, CPUS) is False
    assert bench.load_flag(edge + 0.001, CPUS) is True
    assert bench.load_flag(0.0, CPUS) is False
    # no /proc: no signal, no flag
    assert bench.load_flag(None, CPUS) is False


def test_busy_jiffies_skips_idle_iowait_and_guest():
    # user nice system idle iowait irq softirq steal guest guest_nice:
    # guest time is already inside user/nice, steal counts as busy
    line = "cpu  100 20 30 400 50 6 7 8 90 10"
    assert bench._busy_jiffies(line) == 100 + 20 + 30 + 6 + 7 + 8
    assert bench._busy_jiffies("cpu  1 2 3 4") == 1 + 2 + 3
    assert bench._busy_jiffies("cpu0 1 2 3 4 5 6 7 8 9 10") is None


_PROBE = """
import sys, time
sys.path.insert(0, {repo!r})
import bench
start = bench.external_cpu_probe()
time.sleep(3.0)
print(bench.external_cpu_cores(start, bench.external_cpu_probe()))
"""


def test_sibling_burners_flag_the_run():
    """Busy loops started beside the probing process (not below it,
    where they would count as its own work) read as external load."""
    if bench.external_cpu_probe() is None:
        pytest.skip("no /proc accounting on this host")
    cpus = os.cpu_count() or 1
    burners = []
    try:
        for _ in range(max(1, math.ceil(0.2 * cpus))):
            burners.append(
                subprocess.Popen([sys.executable, "-c", "while True: pass"])
            )
        out = subprocess.run(
            [sys.executable, "-c", _PROBE.format(repo=str(REPO))],
            capture_output=True, text=True, check=True, timeout=60,
        ).stdout
    finally:
        for p in burners:
            p.kill()
            p.wait()
    ext_cores = float(out.strip().splitlines()[-1])
    assert bench.load_flag(ext_cores, cpus) is True, ext_cores


def test_malformed_anchor_values_degrade_to_none(tmp_path):
    """An anchor whose query values are non-numeric yields no ratio
    stats instead of failing the bench run."""
    bad = tmp_path / "anchor.json"
    bad.write_text(json.dumps({"value": 1.0, "queries": {"q1": "oops"}}))
    assert bench.load_anchor(str(bad), None, {"q1": 1.0}) is None


def test_cross_sf_anchor_is_rejected(tmp_path):
    """An anchor captured at a different SF yields no ratio stats:
    cross-SF ratios are meaningless."""
    anchor = tmp_path / "anchor.json"
    anchor.write_text(json.dumps(
        {"value": 1.0, "sf": 0.01, "queries": {"q1": 1.0}}
    ))
    assert bench.load_anchor(str(anchor), 0.1, {"q1": 2.0}) is None
    # the SAME anchor at the matching SF produces ratios
    ratio_stats = bench.load_anchor(str(anchor), 0.01, {"q1": 2.0})
    assert ratio_stats is not None and ratio_stats["median"] == 2.0


def test_malformed_anchor_degrades_quietly(tmp_path):
    assert bench.load_anchor(str(tmp_path / "nope.json"), 0.1, {"q1": 1.0}) is None
    bad = tmp_path / "bad.json"
    bad.write_text('{"queries": "not-a-map"}')
    assert bench.load_anchor(str(bad), 0.1, {"q1": 1.0}) is None


def test_external_cpu_cores_arithmetic():
    real = os.sysconf("SC_CLK_TCK")
    # 10s window, system busy 4000 jiffies, ours 3000 -> 1000 external
    # jiffies = 1 core at hz=100 (scale expectation by the real hz)
    got = bench.external_cpu_cores((10_000, 8_000, 0.0),
                                   (14_000, 11_000, 10.0))
    assert got == round(1000 / real / 10.0, 3)
    assert bench.external_cpu_cores(None, (1, 1, 1.0)) is None
    # ours > system delta (sampling race) clamps at zero
    assert bench.external_cpu_cores((0, 0, 0.0), (100, 200, 1.0)) == 0.0
