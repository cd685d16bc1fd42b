"""SparkSession factory tuned for the scipi-spark engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores this
process may run on), with a driver heap sized to the host; the same
configuration is designed to hold on a multi-executor cluster: AQE handles
runtime coalescing and skew joins, shuffle partition count scales with
parallelism, and broadcast thresholds keep dimension joins shuffle-free.
PySpark's DataFrame call-site capture is off: an analysis error loses
its Python call site, and building a plan makes 2.3x fewer JVM round
trips.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the ``scipi_spark`` package
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def host_sizing(
    env_cpus: str | None, affinity_cpus: int, mem_total_kib: int
) -> tuple[int, str]:
    """Cores and driver heap for a local session on this host.

    Cores come from ``SPARK_GRAFT_CPUS`` when it is set, else from the
    process's CPU affinity. The heap is a sixth of ``MemTotal``, between
    1g and 8g: in local mode the driver is every executor, and the
    host's memory is shared with the Python workers and other processes.
    """
    cores = int(env_cpus) if env_cpus else affinity_cpus
    heap_gb = max(1, min(8, int(mem_total_kib / 2**20 / 6)))
    return cores, f"{heap_gb}g"


def _mem_total_kib() -> int:
    with open("/proc/meminfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(
    app_name: str = "scipi-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    - AQE on (coalesce + skew-join): at 100 TB the static partition count is
      always wrong somewhere; AQE re-plans from runtime statistics.
    - ``spark.sql.shuffle.partitions``: 2x cores locally; on a real cluster
      this should be ~2-3x total executor cores (AQE coalesces the excess).
    - Arrow enabled: every pandas UDF path ships columnar batches.
    - session timezone UTC: deterministic timestamp semantics matching the
      DuckDB oracle (naive timestamps).
    - cores (when ``cpus`` is None) and the driver heap from
      :func:`host_sizing`; ``extra_conf`` may set ``spark.driver.memory``.
    - ``spark.python.sql.dataFrameDebugging.enabled`` false: PySpark 4
      otherwise records the Python call site on the JVM around every
      Column function, about four extra round trips each. An analysis
      error then names no Python line; plans are built with 2.3x fewer
      round trips (42.4k to 18.3k over a ``graph_community`` pass).
      ``extra_conf`` may turn it back on.
    - ``spark.executorEnv.PYTHONPATH`` starts with the directory that
      holds ``scipi_spark``, so a Python worker imports the package from
      any working directory; a value from ``extra_conf`` follows it.
    """
    host_cpus, heap = host_sizing(
        os.environ.get("SPARK_GRAFT_CPUS"),
        len(os.sched_getaffinity(0)),
        _mem_total_kib(),
    )
    if cpus is None:
        cpus = host_cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        # with no minimum partition count set, AQE coalesces toward
        # defaultParallelism partitions (cpus on local[cpus]), so small-
        # input/large-compute stages (shingle self-joins, band-bucket
        # joins) are not collapsed onto one task by byte size alone
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the events table stores TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and convert in sources.load_events
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # no Python call site in analysis errors, for 2.3x fewer py4j
        # round trips while plans are built
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    extra = dict(extra_conf or {})
    worker_path = [_PACKAGE_PARENT, extra.pop(_WORKER_PATH, "")]
    builder = builder.config(
        _WORKER_PATH, os.pathsep.join(filter(None, worker_path))
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
