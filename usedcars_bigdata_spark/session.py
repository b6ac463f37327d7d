"""SparkSession factory with scale-aware defaults.

The reference creates ad-hoc sessions with near-default configs
(``notebook_to_py/data-understanding.py:38-40`` sets only executor/driver
memory). We centralize session construction and turn on the Catalyst/AQE
features the reference silently relied on, plus the ones it should have used
(SURVEY.md §4): AQE partition coalescing + skew-join handling, Arrow for
any Python exchange, a shuffle-partition count sized to the machine rather
than the Spark default of 200, and a pinned UTC session timezone so results
are comparable across engines (DuckDB oracle) and clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "usedcars-bigdata-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. ``spark.sql.shuffle.partitions`` is a
    *starting* value — AQE coalesces it at runtime, so slight overshoot is
    cheap while undershoot (huge partitions → spill) is not. At 100 TB scale
    the same code runs with shuffle_partitions sized to ~2-3× total cores and
    maxPartitionBytes keeping scan tasks ~128-256 MB.

    ``spark.sql.streaming.stateStore.maintenanceInterval`` is 1 s, not
    Spark's 60 s. Every stream here is a one-shot ``availableNow`` run
    (``streaming.events.run_stream``) that is never restarted under the
    same run id, so a stopped run's state stores are dead. Spark keeps
    them loaded, each holding the run's whole final state on the heap,
    until the next maintenance tick unloads them; the interval bounds
    how long that is. The maintenance task is one per JVM and takes its
    interval from the first store loaded, so it is set here with the
    other engine defaults rather than per query.
    """
    # Spark's Python WORKERS are separate processes that must import this
    # package too (applyInPandasWithState / mapInPandas pickle functions by
    # module reference). A driver-side sys.path tweak doesn't reach them —
    # export the package root via PYTHONPATH before the JVM launches.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Read INT64 TIMESTAMP(NANOS) parquet columns (Spark has no nanos
        # timestamp type) as raw longs; sources.io converts to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "1s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
