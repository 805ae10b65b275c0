"""One benchmark run: set-up, the timed closed loop, checks and metrics.

Set-up runs SETUPS times in the process (only the first launches the
JVM) and `setup_s` is their median. The workload then warms up once,
off the clock, so that compiling each plan shape falls outside both
`setup_s` and the timed passes. The loop then runs whole passes of
the workload's request set until at least `seconds` of request time and
the workload's MIN_REQUESTS requests have been measured. Checks run between requests,
off the clock.

With tracing on, every pass is traced, the per-layer numbers are per
pass, and `trace.wall_s` is the traced pass wall: tracing overhead is
`trace.wall_s` minus the untraced run's `wall_s` on the same seed.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time
from dataclasses import dataclass

from .trace import Tally, Tracer, median, self_times, tail_percentile

clock = time.perf_counter

SETUPS = 3  # set-ups per run; setup_s is their median

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cache_peak_mb": "MB",
}

# per-layer metric -> unit; per traced pass unless the name says set-up
PER_LAYER = {
    "session.start_s": "s",
    "catalog.setup_register_s": "s",
    "catalog.register_s": "s",
    "catalog.register_calls": "count",
    "engine.table_s": "s",
    "engine.table_calls": "count",
    "engine.sql_s": "s",
    "hotset.promotions": "count",
    "hotset.demotions": "count",
    "hotset.cached_read_ratio": "ratio",
    "hotset.reuse_ratio": "ratio",
    "hotset.stale_persists": "count",
    "fileops.publish_s": "s",
    "fileops.ops": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "cache.tracked_persists": "count",
    "cache.internal_mb": "MB",
    "cache.release_s": "s",
    "execute.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_frac": "ratio",
    "trace.wall_s": "s",
}

# span name -> (seconds metric, calls metric)
SPAN_METRICS = {
    "catalog.register": ("catalog.register_s", "catalog.register_calls"),
    "engine.table": ("engine.table_s", "engine.table_calls"),
    "engine.sql": ("engine.sql_s", None),
    "fileops": ("fileops.publish_s", None),
    "queries.build": ("queries.build_s", None),
    "cache.release": ("cache.release_s", None),
    "execute": ("execute.s", None),
}
COUNTERS = ("hotset.promotions", "hotset.demotions", "fileops.ops", "queries.build_jobs",
            "cache.tracked_persists", "cache.internal_mb")


@dataclass
class LoopResult:
    tally: Tally
    latencies: list[float]
    walls: list[float]  # one per pass


def closed_loop(workload, spark, tracer: Tracer, seconds: float, begin, finish,
                recover=lambda: None, pass_done=lambda: None) -> LoopResult:
    """Run whole passes until `seconds` of request time and
    `workload.MIN_REQUESTS` requests.

    A request that raises, or whose output fails `workload.check`, is
    counted as failed; its latency still counts. `begin(rid, req)` runs
    before a request and `finish(rid, out)` after one that returned, both
    off the clock; `recover()` runs after a request that raised."""
    tally = Tally()
    latencies: list[float] = []
    walls: list[float] = []
    rid = 0
    while sum(walls) < seconds or len(latencies) < workload.MIN_REQUESTS:
        wall = 0.0
        for req in workload.pass_requests():
            rid += 1
            begin(rid, req)
            out, reason = None, None
            t0 = clock()
            try:
                with tracer.span("request", request=rid, req=str(req)):
                    out = workload.run(spark, req, tracer)
                dt = clock() - t0
                reason = workload.check(req, out)
            except Exception as exc:  # a failed request is counted, not fatal
                dt = clock() - t0
                reason = f"{req}: raised {type(exc).__name__}: {str(exc)[:200]}"
                recover()
            tally.record(reason is None, reason or "")
            latencies.append(dt)
            wall += dt
            if out is not None:
                finish(rid, out)
        pass_done()
        walls.append(wall)
    return LoopResult(tally, latencies, walls)


def configure(workload, cpus: int, run_dir: str) -> dict[str, str]:
    """Environment and Spark settings that keep one run inside `run_dir`."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = workload.driver_mem
    os.environ.pop("SPARK_GRAFT_CONF", None)
    os.environ.pop("SPARK_GRAFT_UI", None)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)
    return {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        **workload.spark_conf,
    }


def run(workload, seed: int, seconds: float, traced: bool, cpus: int, run_dir: str,
        data_root: str, trace_dir: str, idle: dict) -> dict:
    name = workload.name
    conf = configure(workload, cpus, run_dir)

    from hadoop_distributed_dynamic_file_system_spark import cache
    from hadoop_distributed_dynamic_file_system_spark.session import get_spark

    from . import sparkstats

    workload.prepare(data_root, run_dir, seed)
    tracer = Tracer(traced)
    setups: list[float] = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
            cache.release_all()
        t0 = clock()
        with tracer.span("setup"):
            with tracer.span("session.start"):
                spark = get_spark("perfbench", extra_conf=conf)
            workload.setup(spark, tracer)
        setups.append(clock() - t0)
    t0 = clock()
    with tracer.span("warmup"):
        workload.warm(spark, tracer)
    warmup_s = clock() - t0

    sc = spark.sparkContext
    storage_max_mb = sparkstats.storage(spark)["max_mb"]
    layer = dict.fromkeys(sparkstats.STAGE_FIELDS, 0.0)
    layer.update(dict.fromkeys(sparkstats.PHASES, 0.0))
    peak = {"mb": 0.0, "stale": 0}

    def begin(rid: int, req) -> None:
        sc.setJobGroup(f"req-{rid}", str(req)[:100])

    def finish(rid: int, out: dict) -> None:
        peak["mb"] = max(peak["mb"], out["storage"]["rdd_mb"])
        if traced:
            for k, v in sparkstats.group_metrics(spark, f"req-{rid}").items():
                layer[k] += v
            for k, v in sparkstats.catalyst_phases(out["df"]).items():
                layer[k] += v

    def pass_done() -> None:
        if traced and hasattr(workload, "stale_persists"):
            peak["stale"] = max(peak["stale"], workload.stale_persists())

    try:
        loop = closed_loop(workload, spark, tracer, seconds, begin, finish,
                           recover=cache.release_all, pass_done=pass_done)
    finally:
        stop_spark(spark)

    tally = loop.tally
    record = {
        "workload": name, "seed": seed, "cpus": cpus, "driver_mem": workload.driver_mem,
        "spark_conf": workload.spark_conf, "storage_max_mb": storage_max_mb,
        "pass_walls_s": [round(w, 3) for w in loop.walls], "requests": len(loop.latencies),
        "setups_s": setups,
        "warmup_s": warmup_s,
        **idle, "failed_frac": tally.failed_frac, "failures": tally.reasons[:5],
    }
    if traced:
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{name}-seed{seed}.json"))
        values = per_layer(tracer, layer, loop.walls, peak["stale"], cpus)
        record["self_time_residual_s"] = self_time_residual(tracer)
        units = PER_LAYER
    else:
        tail, pct, n = tail_percentile(loop.latencies)
        record.update(tail_percentile=pct, tail_samples=n)
        values = {
            "setup_s": median(setups),
            "wall_s": median(loop.walls),
            "latency_p50_s": median(loop.latencies),
            "latency_tail_s": tail,
            "cache_peak_mb": peak["mb"],
        }
        units = END_TO_END
    print("perfbench:", record, flush=True)
    for k, v in values.items():
        print(f"  {k:28s} {v:.6g} {units[k]}")
    print(f"  {'failed_frac':28s} {tally.failed_frac:.6g} ratio")
    return {"correct": tally.failed == 0, "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(tracer: Tracer, layer: dict, walls: list[float], stale: int,
              cpus: int) -> dict[str, float]:
    """Per-layer values from the spans and counters of a traced run."""
    n = len(walls)
    v = dict.fromkeys(PER_LAYER, 0.0)
    setup_spans = [s for s in tracer.spans if s.request is None]
    v["session.start_s"] = median([s.duration for s in setup_spans if s.name == "session.start"])
    v["catalog.setup_register_s"] = sum(
        s.duration for s in setup_spans if s.name == "catalog.register") / SETUPS
    for s in tracer.spans:
        if s.request is None:
            continue
        secs, calls = SPAN_METRICS.get(s.name, (None, None))
        if secs:
            v[secs] += s.duration / n
        if calls:
            v[calls] += 1 / n
    c = tracer.counters
    for k in COUNTERS:
        v[k] = c.get(k, 0) / n
    reads = c.get("hotset.reads", 0)
    v["hotset.cached_read_ratio"] = c.get("hotset.cached_reads", 0) / reads if reads else 0.0
    promos = c.get("hotset.promotions", 0)
    v["hotset.reuse_ratio"] = c.get("hotset.reused_promotions", 0) / promos if promos else 0.0
    v["hotset.stale_persists"] = stale
    for k, x in layer.items():
        v[k] = x / n
    v["spark.busy_frac"] = layer["spark.executor_run_s"] / (sum(walls) * cpus)
    v["trace.wall_s"] = median(walls)
    return v


def self_time_residual(tracer: Tracer) -> float:
    """Largest |sum of a request's span self times - request duration|."""
    st = self_times(tracer.spans)
    sums: dict[int, float] = {}
    for s in tracer.spans:
        if s.request is not None:
            sums[s.request] = sums.get(s.request, 0.0) + st[s.id]
    return max((abs(sums[s.request] - s.duration) for s in tracer.spans
                if s.name == "request"), default=0.0)
