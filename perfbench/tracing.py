"""Spans, memory sampling and the collectors of the traced run.

Spans are recorded by the benchmark around each call it makes into a
layer of the package; nothing inside the package is instrumented. The
Spark event log and a streaming-query listener supply what happens
inside the Spark runtime.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from perfbench import procs


class Tracer:
    """In-memory spans: ``{id, name, op, parent, start, end, epoch}``.

    ``start``/``end`` are ``perf_counter`` seconds; ``epoch`` is the
    wall-clock start in ms, used to match Spark jobs to spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {
            "id": len(self.spans), "name": name, "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "epoch": time.time() * 1000.0, "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["epoch_end"] = time.time() * 1000.0
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ memory

def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it. A fork (the JVM spawning Python
    workers, the PySpark daemon forking them) shares its parent's pages
    copy-on-write, so summing RSS would count those pages twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _rss_tree_kb(root_pid: int) -> dict[str, int]:
    """Memory (PSS, kB) of ``root_pid`` and its descendants, summed by
    command name (``python3``, ``java``, ...)."""
    parent, comm = procs.process_table()
    tree = {root_pid} | procs.descendants(root_pid, parent)
    out: dict[str, int] = {}
    for p in tree:
        try:
            kb = _pss_kb(p)
        except OSError:
            continue
        name = "driver" if p == root_pid else comm.get(p, "?")
        out[name] = out.get(name, 0) + kb
    return out


class RssSampler:
    """Background sampler of the peak memory (summed PSS) of this
    process tree: the Python driver, the Spark JVM and its Python
    workers."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        parts = _rss_tree_kb(os.getpid())
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# --------------------------------------------------------- streaming

def streaming_listener():
    """A ``StreamingQueryListener`` that totals micro-batches, input
    rows and trigger time over every query it sees."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches = 0
            self.input_rows = 0
            self.trigger_ms = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches += 1
            self.input_rows += int(p.numInputRows)
            self.trigger_ms += int((p.durationMs or {}).get("triggerExecution", 0))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()


# ---------------------------------------------------------- event log

_BROADCAST_JOINS = {"BroadcastHashJoin", "BroadcastNestedLoopJoin"}
_SHUFFLED_JOINS = {"SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"}


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application from a (rolling, uncompressed) log."""
    files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")))
    files += glob.glob(os.path.join(log_dir, f"{app_id}*"))
    events = []
    for path in files:
        if os.path.isdir(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def reduce_event_log(events: list[dict], keep_job) -> dict[str, float]:
    """Spark-runtime totals over the jobs ``keep_job(job_start_event)``
    accepts: jobs, stages, tasks, executor time, shuffle, spill, GC,
    Python worker I/O, and the join strategies of the final (AQE) plan
    of every SQL execution those jobs belong to."""
    stage_kept: dict[int, bool] = {}
    exec_kept: set[int] = set()
    jobs = 0
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        keep = bool(keep_job(e))
        for sid in e.get("Stage IDs", []):
            stage_kept[sid] = stage_kept.get(sid, False) or keep
        if keep:
            jobs += 1
            exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if exec_id is not None:
                exec_kept.add(int(exec_id))
    out = {
        "jobs": jobs, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "task_overhead_s": 0.0, "gc_s": 0.0,
        "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
        "python_io_mb": 0.0, "broadcast_joins": 0, "shuffled_joins": 0,
    }
    mb = 1024.0 * 1024.0
    final_plan: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            if stage_kept.get(e["Stage Info"]["Stage ID"]):
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if not stage_kept.get(e.get("Stage ID")):
                continue
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            run_ms = m.get("Executor Run Time", 0)
            out["tasks"] += 1
            out["executor_run_s"] += run_ms / 1000.0
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            out["task_overhead_s"] += max(0, wall_ms - run_ms) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
            out["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / mb
            out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / mb
            for acc in info.get("Accumulables", []):
                if "Python worker" in str(acc.get("Name", "")):
                    out["python_io_mb"] += float(acc.get("Update") or 0) / mb
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            final_plan[int(e["executionId"])] = e.get("sparkPlanInfo") or {}
    for exec_id in exec_kept:
        for node in _plan_nodes(final_plan.get(exec_id, {})):
            if node in _BROADCAST_JOINS:
                out["broadcast_joins"] += 1
            elif node in _SHUFFLED_JOINS:
                out["shuffled_joins"] += 1
    return out
