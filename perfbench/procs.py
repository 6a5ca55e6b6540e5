"""The process tree of a run and its teardown.

PySpark launches the JVM as a child of this process, and the JVM forks
the Python workers. The JVM exits by itself once its stdin reaches
EOF, which happens when this process exits; left to that, the JVM and
its workers outlive the run for a few seconds. ``stop_spark`` closes
that pipe itself and waits for the JVM; ``reap_all`` then waits until
every descendant has ended, the orphaned ones included.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time


def process_table() -> tuple[dict[int, int], dict[int, str]]:
    """``(parent pid, command name)`` of every live process, by pid."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        head, tail = stat.rsplit(")", 1)
        parent[int(d)] = int(tail.split()[1])
        comm[int(d)] = head.split("(", 1)[1]
    return parent, comm


def descendants(root_pid: int, parent: dict[int, int] | None = None) -> set[int]:
    """The pids below ``root_pid`` in the process tree."""
    if parent is None:
        parent = process_table()[0]
    tree, frontier = set(), [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def become_subreaper() -> None:
    """Have orphaned descendants (the Python workers of an ended JVM,
    the backends of a stopped Postgres) re-parented to this process
    rather than to init, so that ``reap_all`` can wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def stop_spark(timeout_s: float = 60.0) -> None:
    """Stop the Spark context if one is up and end the JVM, killing it
    if it outlives ``timeout_s``."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            pass  # the JVM is ended below either way
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_all(timeout_s: float = 30.0) -> None:
    """Wait until this process has no children left, collecting each;
    kill every descendant still running after ``timeout_s``. Run it
    after everything this process started has been told to stop."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)
