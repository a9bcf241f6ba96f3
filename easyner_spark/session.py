"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled-down local runs:
  - AQE on (runtime coalesce + skew-join splitting; the input is
    Common-Crawl-style with URL-host skew, SURVEY.md section 4.3).
  - Arrow on for all pandas-UDF exchange (no per-row Python anywhere).
  - local cores = SPARK_GRAFT_CPUS, else the CPUs this process may run
    on; shuffle partitions ~ cores locally (on a real cluster this is
    set per-job to ~2-3x total cores via spark-submit conf).
  - UTC session timezone so timestamps compare exactly against the
    DuckDB oracle (duckdb timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "easyner-spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        # default: the CPUs in this process's affinity mask (honours taskset)
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs every task inside the driver JVM: the 1g
        # default heap GC-thrashes at high parallelism. On a cluster
        # this knob moves to spark-submit --executor-memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
