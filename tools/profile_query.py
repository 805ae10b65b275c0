"""Per-query profiler for the optimization rounds.

For each named query: run it through the bench's measurement loop
(measure.py: warm once at sf0.001, then N timed reps at the target SF),
report per-rep wall seconds, the number of Spark jobs per rep
(scheduling overhead is the local-mode tax; fewer jobs = fewer serial
barriers), and optionally dump `.explain("formatted")` to a file.

Usage:
  python tools/profile_query.py [--sf DIR] [--reps N] [--plan-dir DIR] q1 q2 ...
  python tools/profile_query.py --top 15          # the 15 slowest from BENCH_LOCAL
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hadoop_distributed_dynamic_file_system_spark.session import get_spark  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark import cache, measure  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark import queries as q  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark import queries_llm  # noqa: E402,F401


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps, plan_dir, top_n = 3, None, None
    names: list[str] = []
    while argv:
        a = argv.pop(0)
        if a == "--sf":
            sf_dir = argv.pop(0)
        elif a == "--reps":
            reps = int(argv.pop(0))
        elif a == "--plan-dir":
            plan_dir = argv.pop(0)
        elif a == "--top":
            top_n = int(argv.pop(0))
        else:
            names.append(a)
    if top_n:
        import bench

        with open(bench.newest_record(REPO)) as f:
            d = json.load(f)
        names += [k for k, _ in sorted(
            d["queries"].items(), key=lambda kv: -kv[1])[:top_n]
            if k in q.QUERIES]

    spark = get_spark("profile")

    out = {}
    for name in names:
        fn = q.QUERIES.get(name)
        if fn is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        run = measure.query(spark, name)
        measure.warm_small(name, run, sf_dir)
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            try:
                df = fn(spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                    f.write(plan)
            except Exception as exc:  # noqa: BLE001
                print(f"!! plan {name}: {exc}", file=sys.stderr)
            cache.release_all()
        t = measure.time_reps(spark, lambda: run(sf_dir), reps, name)
        times = [round(x, 3) for x in t.reps]
        out[name] = {"reps": times, "min": min(times), "jobs": t.jobs}
        print(f"{name:40s} min={min(times):7.3f}  reps={times}  jobs={t.jobs}",
              flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
