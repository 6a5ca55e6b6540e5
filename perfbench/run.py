"""Benchmark of the spark-graft engine: closed-loop workloads timed
from the call into the package until the last row reaches the sink.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One client in one process drives a
``local[n]`` session, n half the cores. ``setup_s`` is the run's cold set-up, from
the package import in a fresh process through ``get_spark`` (JVM
launch), ``registry.load_all`` and a first job. Two warm set-ups
follow (after ``spark.stop()`` with the package re-imported; the JVM
stays up), reported in the detail line only. Then passes over the
workload's operations run until ``--seconds`` have elapsed (at least
one). Inputs are generated from ``--seed`` and cached under
``.perfbench/`` in the checkout; generation, the oracles and the
Postgres boot are not timed.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or
the per-layer metrics of a traced run (``--trace 1``: Spark event log,
streaming listener and layer probes on). The line before it holds the
run's details: per-operation seconds, failures, leaked conf keys and
the set-up samples.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["curation", "etl_load"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def check_checkout() -> None:
    """Fail fast outside a full checkout: the benchmark drives the
    package and reuses the oracle comparator from ``tools/``."""
    for rel in ("etl_xlsx_potgres_spark/__init__.py", "tools/strict_check.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; run from the root of a checkout")


def prepare_env(run_tmp: str) -> None:
    os.makedirs(run_tmp, exist_ok=True)
    os.environ["TMPDIR"] = run_tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Spark's task threads get half the cores; the rest is left to the
    # Python driver, the Python workers, the JVM's own threads and the
    # Postgres backends. With every core given to tasks, those run
    # beside the tasks and the figures follow the scheduler (and any
    # CPU steal on a shared host) more than the engine.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    # local mode runs executors in the driver JVM; bound its heap (the
    # package's default is 24g) so the run fits beside other work on a
    # shared host and the JVM's resident size does not drift with lazy
    # collection of a huge heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    import tempfile

    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Context:
    """What the workload runner needs from a set-up session."""

    def __init__(self, workload: str, data_dir: str, tracer, pg) -> None:
        self.workload = workload
        self.data_dir = data_dir
        self.tracer = tracer
        self.pg = pg
        self.spark = None
        self.session = self.registry = self.caching = None


def set_up(ctx: Context, conf: dict[str, str], first: bool) -> float:
    """One set-up: import the package, ``get_spark``, ``load_all`` and
    a first job. Later set-ups stop the session and re-import the
    package so its import-time work is paid again."""
    import importlib

    tr = ctx.tracer
    if not first:
        ctx.spark.stop()
        for mod in [m for m in sys.modules if m.split(".")[0] == "etl_xlsx_potgres_spark"]:
            del sys.modules[mod]
    with tr.span("harness.setup") as span:
        with tr.span("session.import"):
            ctx.session = importlib.import_module("etl_xlsx_potgres_spark.session")
        with tr.span("session.get_spark"):
            ctx.spark = ctx.session.get_spark(app_name="perfbench", extra_conf=conf)
        with tr.span("registry.load_all"):
            ctx.registry = importlib.import_module("etl_xlsx_potgres_spark.registry")
            ctx.registry.load_all()
        with tr.span("session.first_job"):
            ctx.spark.range(1000).selectExpr("sum(id)").collect()
    ctx.caching = importlib.import_module("etl_xlsx_potgres_spark.caching")
    return span["end"] - span["start"]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    check_checkout()
    # turn SIGTERM into SystemExit so the finally below ends the JVM and
    # its workers, tears down the Postgres cluster and removes the run's
    # scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    prepare_env(run_tmp)

    import shutil

    from perfbench import inputs, procs, tracing, workloads

    procs.become_subreaper()
    from perfbench.pg import Postgres

    data_dir = inputs.ensure_inputs(
        os.path.join(WORK, "inputs"), args.seed, workloads.INPUTS[args.workload])
    import subprocess

    subprocess.run([sys.executable, "-m", "perfbench.oracles", data_dir,
                    *workloads.QUERIES[args.workload]], cwd=ROOT, check=True, timeout=600)
    tracer = tracing.Tracer()
    pg = None
    try:
        if args.workload == "etl_load":
            pg = Postgres()
        ctx = Context(args.workload, data_dir, tracer, pg)
        event_dir = os.path.join(run_tmp, "eventlog")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(run_tmp, "warehouse"),
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={run_tmp}/derby -Djava.io.tmpdir={run_tmp}",
        }
        if args.trace:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            })
        with tracing.RssSampler() as rss:
            setups = [set_up(ctx, conf, first=(i == 0)) for i in range(3)]
            listener = None
            if args.trace:
                listener = tracing.streaming_listener()
                ctx.spark.streams.addListener(listener)
            runner = workloads.Runner(ctx)
            passes, results = [], []
            t_measure = time.perf_counter()
            while True:
                with tracer.span("harness.pass") as pspan:
                    for i, name in enumerate(runner.order()):
                        results.append(runner.run_op(name, f"p{len(passes)}o{i}"))
                passes.append(pspan)
                if time.perf_counter() - t_measure >= args.seconds:
                    break
            probes = run_probes(ctx, runner) if args.trace else {}
            app_id = ctx.spark.sparkContext.applicationId
            ctx.spark.stop()
        report(args, ctx, runner, setups, passes, results, rss, listener,
               probes, app_id, event_dir)
        return 0
    finally:
        procs.stop_spark()
        if pg is not None:
            pg.close()
        procs.reap_all()
        shutil.rmtree(run_tmp, ignore_errors=True)


# ------------------------------------------------------------ probes

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int = 3) -> float:
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[len(samples) // 2]


def run_probes(ctx: Context, runner) -> dict[str, float]:
    """Direct calls into single layers, after the pass, noop-sunk:
    ``load_table`` with and without the intake respread, and the
    operator kernels the workload's queries are built from."""
    from pyspark.sql import functions as F

    from etl_xlsx_potgres_spark.operators import edit_distance, joins, text
    from etl_xlsx_potgres_spark.operators.ids import surrogate_ids
    from etl_xlsx_potgres_spark.sources import load_table

    from perfbench import workloads

    spark, d = ctx.spark, ctx.data_dir
    spark.sparkContext.setJobGroup("probe", "layer probes")
    out = {"sources.load_table_s": 0.0, "sources.respread_s": 0.0}
    for t in workloads.TABLES[ctx.workload]:
        default = load_table(spark, d, t)
        plain = load_table(spark, d, t, widen=False)
        t_default = _timed(lambda: _noop(default))
        out["sources.load_table_s"] += t_default
        respread = (
            default._jdf.queryExecution().logical().toString()
            != plain._jdf.queryExecution().logical().toString()
        )
        if respread:
            out["sources.respread_s"] += t_default - _timed(lambda: _noop(plain))
    docs = load_table(spark, d, "documents", widen=False)
    out["operators.text.minhash_signature_s"] = _timed(
        lambda: _noop(docs.select("doc_id", *text.minhash_signature("text"))))
    out["operators.text.tokens_s"] = _timed(
        lambda: _noop(docs.select("doc_id", text.tokens("text").alias("t"))))
    cust = load_table(spark, d, "customer").filter(F.col("c_custkey") < 600)
    out["operators.edit_distance.levenshtein_pairs_blocked_s"] = _timed(
        lambda: _noop(edit_distance.levenshtein_pairs_blocked(cust, "c_custkey", "c_name", 2)))
    out["operators.ids.surrogate_ids_s"] = 0.0
    out["operators.joins.fk_lookup_s"] = 0.0
    if runner.etl:
        cleaned = runner.etl["cleaned"]
        out["operators.ids.surrogate_ids_s"] = _timed(
            lambda: _noop(surrogate_ids(cleaned.select("cpf_cnpj"), ["cpf_cnpj"], "id")))
        ids = runner.etl["cliente_ids"].withColumnRenamed("id", "cliente_id")
        out["operators.joins.fk_lookup_s"] = _timed(
            lambda: _noop(joins.fk_lookup(cleaned, ids, "cpf_cnpj", broadcast=False)[0]))
    spark.sparkContext.setJobGroup(None, None)
    return out


# ------------------------------------------------------------ report

def _within(ts_ms: float, spans: list[dict]) -> bool:
    return any(s["epoch"] <= ts_ms <= s["epoch_end"] for s in spans)


def report(args, ctx, runner, setups, passes, results, rss, listener,
           probes, app_id, event_dir) -> None:
    from perfbench import stats

    tr = ctx.tracer
    attempted = len(results)
    raised = sum(1 for r in results if r.raised)
    wrong = sum(1 for r in results if r.wrong)
    pass_s = [p["end"] - p["start"] for p in passes]
    # a pass's time is its operations' time; checks and guards between
    # operations are the harness's and excluded
    op_pass_s = []
    for p in passes:
        ops = [s for s in tr.spans if s["name"] == "harness.op" and s["parent"] == p["id"]]
        op_pass_s.append(sum(s["end"] - s["start"] for s in ops))
    per_op: dict[str, list[float]] = {}
    for r in results:
        if r.seconds is not None:
            per_op.setdefault(r.name, []).append(r.seconds)
    op_medians = {n: stats.median(v) for n, v in per_op.items()}
    pass_median = stats.median(op_pass_s)
    # a run whose operations failed still prints a result (correct:
    # false); its throughput figures then read 0
    rows_per_s = 0.0
    if args.workload == "etl_load" and "load_s" in runner.etl:
        rows_per_s = runner.etl["rows"] / runner.etl["load_s"]
    elif args.workload == "curation" and pass_median > 0:
        corpus = sum(
            _rows(os.path.join(ctx.data_dir, f"{t}.parquet")) for t in ("documents", "embeddings")
        )
        rows_per_s = corpus * len(op_medians) / pass_median
    detail = {
        "workload": args.workload, "seed": args.seed, "passes": len(passes),
        "pass_wall_s": pass_s, "op_pass_s": op_pass_s,
        "op_median_s": op_medians,
        "setup_samples_s": setups,  # cold, warm, warm
        "failed_frac": stats.failed_frac(attempted, raised, wrong),
        "failures": {r.name: r.raised or r.wrong for r in results if not r.ok},
        "session.conf_leaks": runner.guard.conf_leaks,
        "leaked_conf_keys": sorted(runner.guard.leaked_keys),
        "pg_boot_s": ctx.pg.boot_s if ctx.pg else None,
        "peak_rss_parts_mb": {k: v / 1024.0 for k, v in rss.peak_parts.items()},
        "spark_cores": ctx.session.default_parallelism(),
    }
    if args.trace:
        metrics = traced_metrics(ctx, runner, passes, listener, probes,
                                 app_id, event_dir)
        last = os.path.join(WORK, "last", f"{args.workload}-{args.seed}.json")
        if os.path.exists(last):
            with open(last) as f:
                detail["tracing_overhead_s"] = pass_median - json.load(f)["pass_s"]
        tr.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {
            "setup_s": (setups[0], "s"),
            "pass_s": (pass_median, "s"),
            "op_geomean_s": (stats.geomean(op_medians.values()) if op_medians else 0.0, "s"),
            "rows_per_s": (rows_per_s, "1/s"),
            "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
        }
        os.makedirs(os.path.join(WORK, "last"), exist_ok=True)
        with open(os.path.join(WORK, "last", f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"pass_s": pass_median}, f)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": raised + wrong == 0,
        "attempted": attempted,
        "failed": raised + wrong,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def traced_metrics(ctx, runner, passes, listener, probes,
                   app_id, event_dir) -> dict[str, tuple[float, str]]:
    """The per-layer metrics: spans of the pass, the event log of the
    final session (jobs submitted during the pass), the streaming
    listener, the guard's counts and the layer probes."""
    from perfbench import stats, tracing

    tr = ctx.tracer
    events = tracing.read_event_log(event_dir, app_id)
    spark_m = tracing.reduce_event_log(
        events, lambda e: _within(e.get("Submission Time", 0), passes))
    build_spans = [s for s in tr.spans if s["name"] == "plans.build"]
    exec_spans = [s for s in tr.spans if s["name"] == "plans.exec"]
    job_times = [e.get("Submission Time", 0) for e in events
                 if e["Event"] == "SparkListenerJobStart"]
    pass_ids = {p["id"] for p in passes}
    in_pass = [s for s in tr.spans if _under(s, pass_ids, tr.spans)]
    selfs = stats.self_times(in_pass)
    # the cold set-up, the one setup_s reports
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (tr.durations("session.get_spark")[0], "s"),
        "session.first_job_s": (tr.durations("session.first_job")[0], "s"),
        "registry.load_all_s": (tr.durations("registry.load_all")[0], "s"),
        "session.conf_leaks": (runner.guard.conf_leaks, "count"),
        "plans.build_s": (tr.total("plans.build"), "s"),
        "plans.build_jobs": (sum(_within(t, build_spans) for t in job_times), "count"),
        "plans.exec_s": (tr.total("plans.exec"), "s"),
        "plans.exec_jobs": (sum(_within(t, exec_spans) for t in job_times), "count"),
        "sources.read_workbook_s": (tr.total("sources.read_workbook"), "s"),
        "pipelines.transform_s": (tr.total("pipelines.transform"), "s"),
        "pipelines.build_outputs_s": (tr.total("pipelines.build_outputs"), "s"),
        "sinks.upsert_s": (tr.total("sinks.upsert"), "s"),
        "sinks.copy_s": (tr.total("sinks.copy"), "s"),
        "sinks.rerun_upsert_s": (tr.total("sinks.rerun_upsert"), "s"),
        "sinks.pg_rows_inserted": (runner.etl.get("pg_rows_inserted", 0), "count"),
        "sinks.pg_commits": (runner.etl.get("pg_commits", 0), "count"),
        "streaming.batches": (listener.batches, "count"),
        "streaming.input_rows": (listener.input_rows, "count"),
        "streaming.trigger_s": (listener.trigger_ms / 1000.0, "s"),
        "caching.persisted_frames": (runner.guard.persisted_frames, "count"),
        "hints.broadcast_joins": (spark_m.pop("broadcast_joins"), "count"),
        "hints.shuffled_joins": (spark_m.pop("shuffled_joins"), "count"),
    }
    for k, v in probes.items():
        m[k] = (v, "s")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (spark_m.pop(k), "count")
    for k, v in spark_m.items():
        m[f"spark.{k}"] = (v, "MB" if k.endswith("_mb") else "s")
    for layer in ("harness", "plans", "sources", "pipelines", "operators", "sinks"):
        m[f"{layer}.self_s"] = (selfs.get(layer, 0.0), "s")
    return m


def _under(span: dict, roots: set[int], spans: list[dict]) -> bool:
    while span is not None:
        if span["id"] in roots:
            return True
        span = spans[span["parent"]] if span["parent"] is not None else None
    return False


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
