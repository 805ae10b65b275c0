"""Interleaved A/B of a code variant against the code as it is, in one
session: the only comparison that ambient machine load cannot bias
toward one side.

VARIANT.py is any Python file that defines

    PATCHES = {"package.module:attr": replacement, ...}

Side A runs the code as it is, side B with PATCHES applied (see
measure.patched: only call sites that look the attribute up on its
module at call time see the replacement). For each query both sides
warm once at sf0.001, then `--reps` rounds run A and B, alternating
which goes first; every rep is timed, job-counted and released by
measure.py, the same loop bench.py uses.

Usage: python tools/ab.py VARIANT.py [--sf DIR] [--reps N] q1 q2 ...
"""

from __future__ import annotations

import os
import runpy
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_distributed_dynamic_file_system_spark import measure  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark.session import get_spark  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    if not argv or argv[0].startswith("-"):
        sys.exit(__doc__)
    variant = argv.pop(0)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", f"{measure.TESTDATA}/sf0.1")
    reps = 4
    names: list[str] = []
    while argv:
        a = argv.pop(0)
        if a == "--sf":
            sf_dir = argv.pop(0)
        elif a == "--reps":
            reps = int(argv.pop(0))
        else:
            names.append(a)
    patches = runpy.run_path(variant)["PATCHES"]
    spark = get_spark("ab")
    for name in names:
        run = measure.query(spark, name)
        for side in ({}, patches):
            with measure.patched(side):
                measure.warm_small(name, run, sf_dir)
        a, b = measure.ab(spark, lambda: run(sf_dir), patches, reps, name)
        for side, t in (("A", a), ("B", b)):
            print(f"{name:40s} {side} min={min(t.reps):7.3f} "
                  f"reps={[round(x, 2) for x in t.reps]} jobs={t.jobs}")
        print(f"{name:40s} B/A min ratio {min(b.reps) / min(a.reps):.3f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
