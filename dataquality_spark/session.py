"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import config as C


def get_spark(app_name: str = "dataquality_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build a session with AQE, Arrow, and skew handling enabled.

    `master` defaults to local[$SPARK_GRAFT_CPUS] (env, fallback all cores);
    on a real cluster pass master=None with a spark-submit-provided master.
    `shuffle_partitions` defaults to the session's defaultParallelism (its
    task slots), so a shuffle of a small frame runs one wave of tasks
    instead of many near-empty ones; AQE still coalesces below that.
    """
    # Arrow's bundled jemalloc pool mmaps/releases kernel pages on its
    # own decay schedule; on lazily-backed VMs the vectorized UDFs'
    # per-batch temporaries then fault fresh pages every batch. The
    # glibc pool inherits the mallopt sbrk-reuse tuning applied in
    # dataquality_spark.functions (measured at 32 slots: 149k → 193k
    # docs/s on the fused model stage). Env must be set BEFORE the JVM
    # (and its forked python workers) start; setdefault respects an
    # operator's explicit choice. executorEnv covers real clusters
    # where the driver env does not propagate to executors.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(C.ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL",
                os.environ["ARROW_DEFAULT_MEMORY_POOL"])
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        spark.conf.set("spark.sql.shuffle.partitions", str(
            shuffle_partitions or spark.sparkContext.defaultParallelism))
    return spark
