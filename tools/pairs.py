"""Paired benchmark runs of a parent and a change checkout, with the
verdict on each end-to-end metric.

    python tools/pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed S

Each pair runs `perfbench/run.py --trace 0` once in each checkout,
through a subprocess with the checkout as its working directory, for
the run length (`run_seconds`) in the change's BENCHMARK.json; pairs
alternate which side runs first. The tool prints every run's metrics,
then per metric each side's quartiles (q1/median/q3), the pairs the
change won, its median shift against the bound in the change's
BENCHMARK.json, and the verdict:

- gain: at least 10 pairs ran, the change won at least 9 of every 10
  (ties count for neither side) and its median is better than the
  parent's by more than the parent's interquartile range;
- loss: the same with the sides swapped;
- unresolved: anything else, and always for fewer than 10 pairs (5
  pairs once read +22.8 % where the next 10 read +1.6 %);
- invalid: any run on either side failed a request. Every metric then
  reads invalid and the tool exits 1, since a run that failed requests
  did not do the work its metrics time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

WIN_SHARE = 0.9
MIN_PAIRS = 10


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent: list[float], change: list[float], better: str) -> dict:
    """Pairwise wins and the verdict for one metric; `parent[i]` and
    `change[i]` are the two runs of pair i, `better` 'lower' or 'higher'."""
    sign = -1.0 if better == "lower" else 1.0
    diffs = [sign * (c - p) for p, c in zip(parent, change, strict=True)]
    wins, losses = sum(d > 0 for d in diffs), sum(d < 0 for d in diffs)
    pq1, pmed, pq3 = quartiles(parent)
    cmed = quartiles(change)[1]
    gain = sign * (cmed - pmed)  # > 0: the change's median is better
    need = WIN_SHARE * len(parent)
    if len(parent) < MIN_PAIRS:
        out = "unresolved"
    elif wins >= need and gain > pq3 - pq1:
        out = "gain"
    elif losses >= need and -gain > pq3 - pq1:
        out = "loss"
    else:
        out = "unresolved"
    return {"wins": wins, "losses": losses, "parent_median": pmed, "change_median": cmed,
            "parent_iqr": pq3 - pq1, "verdict": out}


def last_json(stdout: str) -> dict:
    """The JSON object on the last non-empty line of a run's stdout."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("run printed nothing")
    return json.loads(lines[-1])


def value(result: dict, metric: str) -> float:
    """A metric's value in a run's result (`{"value": v, "unit": u}`)."""
    return result["metrics"][metric]["value"]


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, check=False)
    if proc.returncode != 0:
        raise RuntimeError(f"{checkout}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return last_json(proc.stdout)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)

    with open(os.path.join(args.change_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    sides = {"parent": args.parent_dir, "change": args.change_dir}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], args.workload, args.seed, seconds)
            runs[side].append(res)
            shown = " ".join(f"{m['name']}={value(res, m['name']):.3f}" for m in metrics)
            print(f"pair {i + 1} {side}: {shown} failed={res['failed']}/{res['attempted']}",
                  flush=True)

    failed = {side: sum(r["failed"] for r in rs) for side, rs in runs.items()}
    print(f"\n{args.workload} seed {args.seed}, {args.pairs} pairs "
          f"(q1/median/q3; wins = pairs the change won)")
    for m in metrics:
        name = m["name"]
        parent = [value(r, name) for r in runs["parent"]]
        change = [value(r, name) for r in runs["change"]]
        v = verdict(parent, change, m["better"])
        if any(failed.values()):
            v["verdict"] = "invalid"
        shift = (v["change_median"] / v["parent_median"] - 1.0) if v["parent_median"] else 0.0
        worse = shift if m["better"] == "lower" else -shift
        bound = "OVER BOUND" if worse > m["bound"] else "within bound"
        fmt = "/".join
        print(f"{name}: parent {fmt(f'{x:.3f}' for x in quartiles(parent))}, "
              f"change {fmt(f'{x:.3f}' for x in quartiles(change))}, "
              f"shift {shift:+.1%} ({bound} {m['bound']:.0%}), wins {v['wins']}/{args.pairs}, "
              f"losses {v['losses']}, parent IQR {v['parent_iqr']:.3f}: {v['verdict']}")
    print(f"failed requests: parent {failed['parent']}, change {failed['change']}")
    return 1 if any(failed.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
