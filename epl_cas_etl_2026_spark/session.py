"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the same conf carries to a real cluster where ``master`` comes
from spark-submit.  Scale-relevant defaults:

  * AQE on (runtime shuffle coalescing, skew-join splitting, broadcast
    demotion) — at 100 TB the static ``spark.sql.shuffle.partitions``
    is always wrong for *some* stage; AQE repairs it.
  * shuffle.partitions fixed at 32, which AQE coalesces down for the
    local core counts tests and benchmarks run at; on a 1000-executor
    cluster this should be ~2-3× total cores (set via submit conf, not
    here).
  * Arrow enabled so any Pandas-UDF path is batch-vectorized.
  * UTC session timezone — parquet timestamps compare deterministically
    against the DuckDB oracle.
  * DataFrame call-site capture off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it
    on, every ``functions.*`` or Column call in PySpark 4 makes extra
    py4j round trips (active session, conf read, origin set and clear)
    and tries to import IPython; building one dashboard endpoint made
    ~2.6× the py4j calls. What it drops: a Spark error no longer
    carries the ``== DataFrame ==`` fragment naming the Python line
    that built the failing expression; the error class, message and
    JVM stack are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "epl-cas-etl-2026-spark",
    cpus: str | int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``*``.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        # dims/catalogs here are tiny (≤ thousands of rows); raise the
        # broadcast ceiling so every dim⋈fact join is a broadcast hash
        # join even at sf where dims grow. 64 MiB is still safe per
        # executor at cluster scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # 14+ headline queries × multi-stage plans evict the default
        # 100-entry compiled-codegen cache mid-benchmark; observed as
        # multi-second Janino recompiles on re-run. Entries are small
        # (compiled classes) — a larger cache is pure win locally and
        # on long-lived cluster executors alike.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
