"""Read Spark's own accounting through py4j: per-job-group stage metrics,
Catalyst phase times, and storage held by cached relations.

Every request runs under its own job group, so the stages it launched
can be found again after it returns. The status store is filled by the
listener bus asynchronously; `group_metrics` drains the bus first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

MB = 1e6

STAGE_FIELDS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.input_mb",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
)


def group_metrics(spark: SparkSession, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage-level totals of one job group.

    Skipped stages (their shuffle output was reused) ran no tasks and
    are not counted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    tracker = sc.statusTracker()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        out["spark.jobs"] += 1
        for stage in (info.stageIds if info else []):
            attempts = store.stageData(stage, False, no_status, False, no_quantiles).iterator()
            while attempts.hasNext():
                s = attempts.next()
                if s.numCompleteTasks() == 0:
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += s.numCompleteTasks()
                out["spark.executor_run_s"] += s.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["spark.gc_s"] += s.jvmGcTime() / 1e3
                out["spark.input_mb"] += s.inputBytes() / MB
                out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / MB
                out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                out["spark.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
    return out


PHASES = ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms")


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Analysis, optimization and planning ms from the query's tracker."""
    phases = df._jdf.queryExecution().tracker().phases().iterator()
    out = dict.fromkeys(PHASES, 0.0)
    while phases.hasNext():
        kv = phases.next()
        key = f"catalyst.{kv._1()}_ms"
        if key in out:
            out[key] = float(kv._2().durationMs())
    return out


def storage(spark: SparkSession) -> dict[str, float]:
    """Storage held right now.

    `used_mb` is storage memory in use as the hot set's capacity probe
    reads it (cached relations and broadcast blocks), plus the disk
    bytes of cached relations; `max_mb` is the storage memory budget.
    `cached_rdds` counts relations with at least one cached partition."""
    jsc = spark.sparkContext._jsc.sc()
    mem_max = mem_used = 0
    status = jsc.getExecutorMemoryStatus().iterator()
    while status.hasNext():
        max_rem = status.next()._2()
        mem_max += max_rem._1()
        mem_used += max_rem._1() - max_rem._2()
    rdd_mem = rdd_disk = 0
    cached = 0
    for info in jsc.getRDDStorageInfo():
        rdd_mem += info.memSize()
        rdd_disk += info.diskSize()
        cached += info.numCachedPartitions() > 0
    return {
        "used_mb": (mem_used + rdd_disk) / MB,
        "max_mb": mem_max / MB,
        "rdd_mb": (rdd_mem + rdd_disk) / MB,
        "cached_rdds": cached,
    }
