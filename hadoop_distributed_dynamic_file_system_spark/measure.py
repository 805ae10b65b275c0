"""One measurement loop for bench.py and the timing tools.

Every timed number in the repo (the bench headline and IO tier,
profile_query, scaling, stress, the A/B tool) comes from `time_reps`,
so warm-up, release and rep statistics cannot drift apart between them:

- `warm` runs a thunk once off the clock (whole-stage-codegen JIT and
  the plan shape's first compile) and reports a failure on stderr;
  `warm_small` does it at the smallest shipped SF;
- each rep runs under its own Spark job group on a monotonic clock, and
  the group's jobs are counted after the listener bus drains, so the
  count covers every job the rep launched;
- `cache.release_all()` runs after every rep, outside the timed region:
  one rep's engine persists must not tax the next;
- `statistic` is min-of-2 (the steady-state cost the plan has; single
  shots swing 2-3x under GC and scheduling) and the median for 3 or
  more reps (absorbs one contaminated rep);
- `ab` interleaves code as it is (A) with a `{"module:attr":
  replacement}` patch set (B), alternating which side runs first, and
  restores the patches even when the thunk raises.
"""

from __future__ import annotations

import importlib
import itertools
import os
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from . import cache

TESTDATA = "/root/testdata"
WARM_DIR = f"{TESTDATA}/sf0.001"

_GROUPS = itertools.count()


def materialize(df: DataFrame) -> None:
    """Full execution through the noop sink, no driver-side collect."""
    df.write.mode("overwrite").format("noop").save()


def query(spark: SparkSession, name: str) -> Callable[[str], None]:
    """`run(sf_dir)`: build registry query `name` and materialize it."""
    from . import queries, queries_llm  # noqa: F401  (registers the LLM family)

    fn = queries.QUERIES[name]
    return lambda sf_dir: materialize(fn(spark, sf_dir))


def statistic(reps: list[float]) -> float:
    """Min of fewer than 3 reps, median of 3 or more."""
    return sorted(reps)[len(reps) // 2] if len(reps) >= 3 else min(reps)


@dataclass
class Timing:
    reps: list[float] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)

    @property
    def value(self) -> float:
        return statistic(self.reps)

    @property
    def spread(self) -> list[float]:
        return [round(min(self.reps), 3), round(max(self.reps), 3)]


def time_once(
    spark: SparkSession, thunk: Callable[[], object], label: str
) -> tuple[float, int]:
    """(wall seconds, Spark jobs) of one run of `thunk`."""
    sc = spark.sparkContext
    group = f"measure-{next(_GROUPS)}-{label}"
    sc.setJobGroup(group, label)
    try:
        t0 = time.perf_counter()
        thunk()
        seconds = time.perf_counter() - t0
    finally:
        sc._jsc.clearJobGroup()
        cache.release_all()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return seconds, len(sc.statusTracker().getJobIdsForGroup(group))


def time_reps(
    spark: SparkSession, thunk: Callable[[], object], reps: int = 2,
    label: str = "measure",
) -> Timing:
    t = Timing()
    for _ in range(reps):
        seconds, jobs = time_once(spark, thunk, label)
        t.reps.append(seconds)
        t.jobs.append(jobs)
    return t


def warm(label: str, thunk: Callable[[], object]) -> None:
    """Run `thunk` once off the clock. A failure is reported, not
    raised: the timed reps that follow surface a real error."""
    try:
        thunk()
    except Exception as exc:  # noqa: BLE001
        first = (str(exc).strip().splitlines() or [""])[0]
        print(f"!! warm {label}: {type(exc).__name__}: {first}", file=sys.stderr)
    finally:
        cache.release_all()


def warm_small(label: str, run: Callable[[str], None], sf_dir: str) -> None:
    """`warm` with `run(WARM_DIR)`, unless WARM_DIR is missing or is
    the target itself."""
    if os.path.isdir(WARM_DIR) and os.path.realpath(sf_dir) != os.path.realpath(WARM_DIR):
        warm(label, lambda: run(WARM_DIR))


@contextmanager
def patched(patches: dict[str, object]) -> Iterator[None]:
    """Apply `{"module:attr": replacement}` for the block; always
    restore. Only call sites that look the attribute up on its module
    at call time see the replacement."""
    saved = []
    try:
        for spec, new in patches.items():
            mod_name, attr = spec.split(":")
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, new)
        yield
    finally:
        for mod, attr, old in reversed(saved):
            setattr(mod, attr, old)


def ab(
    spark: SparkSession, thunk: Callable[[], object],
    patches: dict[str, object], reps: int, label: str = "ab",
) -> tuple[Timing, Timing]:
    """Interleaved A/B: A runs the code as it is, B under `patches`.
    Rep i runs A first when i is even and B first when it is odd, so
    neither side always inherits the other's JVM state."""
    a, b = Timing(), Timing()
    sides = [(a, {}, "A"), (b, patches, "B")]
    for i in range(reps):
        for t, p, side in sides if i % 2 == 0 else sides[::-1]:
            with patched(p):
                seconds, jobs = time_once(spark, thunk, f"{label}-{side}")
            t.reps.append(seconds)
            t.jobs.append(jobs)
    return a, b
