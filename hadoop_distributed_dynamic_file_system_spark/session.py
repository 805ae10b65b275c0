"""SparkSession factory.

Defaults are chosen for the 100 TB design point but work on local[N]:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized from the environment, Arrow enabled for the
Pandas-UDF slow path, UTC session timezone so results are comparable
across engines (the DuckDB oracle is UTC-naive).

Reference analog: JobConf defaults in mapred-default.xml (io.sort.mb,
io.sort.factor, parallel copies) — all subsumed by Spark's shuffle; the
knobs that remain meaningful are partition counts and AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """`spark.driver.memory`: SPARK_GRAFT_DRIVER_MEM, else half the host's
    physical memory in whole GiB, at most 24g and at least 1g.

    In local mode the driver JVM IS the executor; Spark's 1g default
    heap starves 32 concurrent tasks (observed: MemoryManager >95%
    warnings during bulk writes, OOM on 20M-row sorts). A fixed 24g on a
    16 GiB host lets two JVMs exhaust its memory. Only effective at
    first JVM launch — a live session keeps its heap."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(24, half_gib))}g"


def get_spark(
    app_name: str = "hddfs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes: `spark.sql.shuffle.partitions` here is a *floor*; with
    AQE enabled Spark coalesces small shuffles and splits skewed ones at
    runtime, so the same plan survives sf0.001 → 100 TB. On a real
    cluster, set it to 2-3× total executor cores.
    """
    # On a real cluster these scale with executor count; locally with cores.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read nanos as long engine-wide (queries
        # rebuild TIMESTAMP_NTZ micros from it — see queries._events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
