"""SparkSession factory.

The reference builds a bare session with all defaults
(``/root/reference/etl_process.py:202``): no Arrow, 200 shuffle
partitions, no AQE. This factory is the engine's single entry point
for sessions and encodes the scale posture:

- AQE on (runtime partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion at runtime);
- Arrow on for any pandas interchange (Pandas UDFs, createDataFrame);
- shuffle partitions sized to the local core count instead of the
  200 default (on a real cluster this is overridden to ~2-3x total
  cores, and AQE coalesces down from there);
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-location-independent;
- parquet TIMESTAMP(NANOS) columns read as int64 nanos
  (``spark.sql.legacy.parquet.nanosAsLong``) so the events intake can
  truncate them to micros (``sources/tables.py``); set here once, not
  by the readers, so no query changes session conf.

Streams run at this same core-count width. A stateful stream fixes
its state partitioning at its first checkpoint and AQE cannot coalesce
it, so each micro-batch runs one task and commits one state store per
shuffle partition; no stream runner sets a width of its own. Against
a fixed width of 8 on the ``etl_load`` benchmark's ``local[2]``
session, the session's width took the operations' geometric mean from
1.50 to 1.28 s (medians of 10 interleaved pairs, 4 vCPU),
``streaming_stateful_profile`` from 2.50 to 1.84 s and
``streaming_tumbling_agg`` from 0.91 to 0.64 s.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "etl_xlsx_potgres_spark"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 4


def default_driver_memory() -> str:
    """The heap of a JVM this factory launches: $SPARK_GRAFT_DRIVER_MEM,
    else a quarter of physical memory in whole GiB, clamped to
    [1g, 24g].  In local mode that heap is the only executor's, and it
    grows lazily toward its bound; a quarter leaves room for a second
    session's JVM, their Python workers and a DuckDB oracle on one
    host (a fixed 24g got the JVM OOM-killed on a 16 GB host running
    the tests beside a strict sweep).  Unknown physical memory gets
    the floor."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        phys = 0
    return f"{min(24, max(1, phys // 4 // 2**30))}g"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode = single JVM: driver memory IS executor memory
        # (only applies when this call launches the JVM)
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # scan-parallelism FLOOR (r20, guide §6): map-only passes have
        # no shuffle to spread them, so their width is the file split
        # count — a small input (one row group) runs row-local scoring
        # on 1-2 cores while the rest idle. The floor is derived from
        # the core count (scale-adaptive, like shuffle width above)
        # and is a no-op at cluster scale where splits >> cores.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config(NANOS_AS_LONG, "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # keep metastore/warehouse artifacts (derby, saveAsTable output
        # for bucketed tables) out of the repo working directory
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/derby-home")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Settings applied when a session is handed to us by the driver.

    The driver owns session creation for verify runs; we only set
    conf that is safe to change at runtime. Shuffle width matters even
    at oracle SF: a bare session's 200-partition default turns the
    multi-stage pipeline queries into thousands of near-empty tasks
    whose scheduling overhead dwarfs the compute — the engine's
    posture (core-count width + AQE coalescing) applies to verify
    runs the same as to bench runs. Results are width-independent by
    policy (decimal sums, fixed-point, total orders), so this is a
    pure wall-clock change."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    # scan-parallelism floor for map-only passes (see get_spark)
    spark.conf.set(
        "spark.sql.files.minPartitionNum", str(default_parallelism())
    )
    return spark
