"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: all cores), but
every knob here is chosen as it would be on a 1000-executor cluster reading
100 TB: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to the parallelism actually available
(not the 200 default), Arrow for any pandas interchange, and vectorized
parquet reading.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def graft_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def get_session(
    app_name: str = "etl-housing-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the core count: at the tested scale
    factors (≤ sf0.1, ~600k rows) 200 shuffle partitions would mean ~200
    tiny tasks per exchange — pure scheduler overhead. On a real cluster
    this is raised to 2-3× total executor cores; AQE coalescing makes the
    exact figure forgiving.
    """
    n = cpus or graft_cpus()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        # readable stderr: no console progress bars
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the testdata events table stores TIMESTAMP(NANOS) parquet, which
        # Spark only reads via this legacy flag (as int64 nanoseconds):
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.maxResultSize", "4g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_ENSURED_APPS: set[str] = set()


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Set the runtime-settable confs this engine's plans rely on.

    Called at the top of every catalog loader so that queries also work in a
    session we did not create (the correctness driver passes us its own).
    All of these are SQLConf runtime entries, safe to set post-creation.
    Memoized per applicationId: a multi-query session (the 50-query driver
    sweep, the bench) calls this hundreds of times and the conf RPCs are
    idempotent.
    """
    app = spark.sparkContext.applicationId
    if app in _ENSURED_APPS:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    _ENSURED_APPS.add(app)
