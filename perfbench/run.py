"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see workloads.py) from the root of a checkout of the
repository and prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones (BENCHMARK.json `end_to_end`); with
`--trace 1` they are the per-layer ones, taken from spans recorded
around each call into a layer, and the spans are written to
`.perfbench/traces/`.

Every run works in its own directory under `.perfbench/runs/` (the Spark
warehouse, local and temp directories land there) and removes it when
it ends. Generated inputs are kept under `.perfbench/data/`, one
directory per seed and size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

IDLE_LOAD_PER_CPU = 0.75  # idle when the 1-minute load average is below this x cpus
IDLE_WAIT_S = 2.0  # longest wait for an idle machine before a run
KEEP_INPUTS = 3  # generated input directories kept between runs


def wait_for_idle(cpus: int) -> dict:
    """Wait, at most IDLE_WAIT_S, for the load average to fall."""
    start = os.getloadavg()[0]
    t0 = time.monotonic()
    load = start
    while load >= IDLE_LOAD_PER_CPU * cpus and time.monotonic() - t0 < IDLE_WAIT_S:
        time.sleep(0.5)
        load = os.getloadavg()[0]
    return {"loadavg_start": start, "waited_s": round(time.monotonic() - t0, 2),
            "idle": load < IDLE_LOAD_PER_CPU * cpus}


def prune_inputs(data_root: str) -> None:
    """Keep only the most recently used generated input directories."""
    if not os.path.isdir(data_root):
        return
    dirs = sorted((os.path.join(data_root, d) for d in os.listdir(data_root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hadoop_distributed_dynamic_file_system_spark")):
        print(f"perfbench: the program is not in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    cpus = os.cpu_count() or 1
    idle = wait_for_idle(cpus)
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = harness.run(workload, args.seed, args.seconds, bool(args.trace),
                             cpus, run_dir, os.path.join(STATE, "data"),
                             os.path.join(STATE, "traces"), idle)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        prune_inputs(os.path.join(STATE, "data"))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
