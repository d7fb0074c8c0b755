"""SparkSession factory tuned for this engine.

Local test mode runs ``local[N]``; the same config scales to a real
cluster because everything here is declarative (AQE, Arrow, shuffle
partitions). At 100 TB the only knobs expected to change are
``spark.sql.shuffle.partitions`` (to ~2-3x total cores) and
``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache (the static
# ``spark.sql.codegen.cache.maxEntries``, default 100). One sequential
# pass over the whole registry generates about 4,170 distinct classes
# and the 9 perfbench query_mix queries about 250; with the default
# the LRU cache evicts them, so every pass re-runs Janino and the JIT
# recompiles the new classes. About twice the registry's count, so
# added queries do not start evicting (SCALING.md, "Global posture").
CODEGEN_CACHE_ENTRIES = 8192


def spark_cpus() -> int:
    """Core count from ``SPARK_GRAFT_CPUS`` (default 32): the local
    master's thread count, the shuffle partition count and the scan
    floor's cap. Anything but a positive integer is an error that
    names the variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus <= 0:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer core count, got {raw!r}")
    return cpus


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far. Only cache misses
    compile, so a delta of 0 over a repeated query means its generated
    classes were all still cached."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(app_name: str = "det_module_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    AQE is on so runtime statistics re-plan skewed joins and coalesce
    post-shuffle partitions; Arrow is on so every pandas_udf crossing
    is batched, not row-at-a-time. The generated-class cache holds the
    engine's whole working set (``CODEGEN_CACHE_ENTRIES``).
    """
    cpus = spark_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/det_module_spark_warehouse"
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark_with_retries(
    app_name: str = "det_module_spark",
    master: str | None = None,
    attempts: int = 5,
    backoff_s: float = 1.0,
) -> SparkSession:
    """Bootstrap with bounded retries (reference parity: the ≤5-attempt
    config retry loop, queue/processing.py:37-42) — transient JVM/port
    contention at startup shouldn't fail a cron-style run."""
    import time

    last: Exception | None = None
    for i in range(attempts):
        try:
            return get_spark(app_name, master)
        except Exception as e:  # noqa: BLE001 - bootstrap only
            last = e
            time.sleep(backoff_s * (i + 1))
    raise RuntimeError(f"SparkSession bootstrap failed after {attempts} attempts") from last
