"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The statistics, failure accounting, span arithmetic and request-trace
reproducibility are tested without Spark. `test_run_leaves_checkout_clean`
runs the benchmark once, briefly, and checks `git status --porcelain`.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.harness import closed_loop
from perfbench.trace import TAIL_BEYOND, Span, Tally, Tracer, self_times, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- tail percentile
def test_tail_leaves_exactly_tail_beyond_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail_percentile(samples)
    assert (value, pct, n) == (100.0 - TAIL_BEYOND, 100.0 - TAIL_BEYOND, 100)
    assert sum(s > value for s in samples) == TAIL_BEYOND


def test_tail_is_order_independent_and_uses_all_samples():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    value, pct, n = tail_percentile(samples)
    k = 12 - TAIL_BEYOND
    assert n == 12 and value == float(k) and pct == pytest.approx(100 * k / 12)
    assert sum(s > value for s in samples) == TAIL_BEYOND


def test_tail_needs_more_than_tail_beyond_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * TAIL_BEYOND)
    n = TAIL_BEYOND + 1
    assert tail_percentile([1.0] * n) == (1.0, pytest.approx(100 / n), n)


def test_min_requests_put_the_tail_above_the_80th_percentile():
    w = pytest.importorskip("perfbench.workloads")
    for workload in w.WORKLOADS.values():
        _, pct, _ = tail_percentile([float(i) for i in range(workload.MIN_REQUESTS)])
        assert pct > 80.0


# ------------------------------------------------------------ failure accounting
def test_tally_counts_failures_against_attempts():
    t = Tally()
    for ok in (True, False, True, True):
        t.record(ok, "" if ok else "bad")
    assert (t.attempted, t.failed, t.failed_frac, t.reasons) == (4, 1, 0.25, ["bad"])


class _FakeWorkload:
    """Requests 0..4 per pass; 1 raises, 3 returns output that fails its check."""

    MIN_REQUESTS = 16

    def pass_requests(self):
        return list(range(5))

    def run(self, spark, req, tracer):
        if req == 1:
            raise RuntimeError("boom")
        return {"value": req}

    def check(self, req, out):
        return "wrong" if req == 3 else None


def test_closed_loop_counts_raised_and_wrong_outputs_as_failed():
    finished, recovered = [], []
    loop = closed_loop(_FakeWorkload(), None, Tracer(False), 0.0,
                       begin=lambda rid, req: None,
                       finish=lambda rid, out: finished.append(out["value"]),
                       recover=lambda: recovered.append(1))
    passes = len(loop.walls)
    assert loop.tally.attempted == 5 * passes >= _FakeWorkload.MIN_REQUESTS
    assert loop.tally.failed == 2 * passes
    assert loop.tally.failed_frac == pytest.approx(0.4)
    assert len(loop.latencies) == loop.tally.attempted
    assert len(recovered) == passes  # only the raising request recovers
    assert 1 not in finished and 3 in finished
    assert any("raised RuntimeError: boom" in r for r in loop.tally.reasons)


# --------------------------------------------------------------- span self time
class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_times_sum_to_the_request_duration():
    clock = _Clock()
    tr = Tracer(True, clock=clock)
    with tr.span("request", request=1):
        clock.t += 1.0
        with tr.span("engine.table"):
            clock.t += 2.0
            with tr.span("catalog"):
                clock.t += 0.5
        with tr.span("execute"):
            clock.t += 3.0
        clock.t += 0.25
    st = self_times(tr.spans)
    by_name = {s.name: st[s.id] for s in tr.spans}
    assert by_name == {"request": 1.25, "engine.table": 2.0, "catalog": 0.5, "execute": 3.0}
    request = next(s for s in tr.spans if s.name == "request")
    assert sum(st[s.id] for s in tr.spans if s.request == 1) == pytest.approx(request.duration)
    assert all(s.request == 1 for s in tr.spans)


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(0, "parent", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 5.0, 0, 1),
        Span(2, "b", 4.0, 7.0, 0, 1),  # overlaps a by one second
        Span(3, "c", 9.0, 12.0, 0, 1),  # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("request", request=1):
        tr.count("x")
    assert tr.spans == [] and tr.counters == {}


# ------------------------------------------------------- trace reproducibility
def _workloads():
    return pytest.importorskip("perfbench.workloads")


def test_replay_trace_is_a_function_of_the_seed():
    w = _workloads()
    r = w.ReplayWorkload
    tables = [f"t{i:02d}" for i in range(24)]
    args = (tables, 200, r.ZIPF_S, r.MIX, r.SHAPE_SEED)
    a, b, c = (w.make_replay_trace(s, *args) for s in (7, 7, 8))
    assert a == b and a != c
    assert {k for k, _, _ in a} == {"read", "sql", "write"}
    counts = sorted((sum(t == x for _, t, _ in a) for x in tables), reverse=True)
    assert counts[0] > 4 * counts[len(counts) // 2]  # Zipf: a few tables dominate


def test_replay_trace_shape_is_the_same_on_every_seed():
    w = _workloads()
    r = w.ReplayWorkload
    tables = [f"t{i:02d}" for i in range(r.N_TABLES)]

    def shape(seed):
        trace = w.make_replay_trace(seed, tables, r.PASS_REQUESTS, r.ZIPF_S, r.MIX,
                                    r.SHAPE_SEED)
        first = {}
        return [(k, first.setdefault(t, len(first))) for k, t, _ in trace]

    assert shape(1) == shape(2) == shape(3)
    reads = [t for k, t in shape(1) if k == "read"]
    assert len(reads) == 14 and len(set(reads)) == 8


def test_registry_pass_order_is_a_function_of_the_seed(tmp_path):
    w = _workloads()

    def order(seed):
        wl = w.WORKLOADS["registry"]()
        wl.prepare(str(tmp_path), str(tmp_path), seed)
        return [wl.pass_requests() for _ in range(3)]

    assert order(5) == order(5)
    assert order(5) != order(6)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    datagen = pytest.importorskip("perfbench.datagen")
    import pyarrow.parquet as pq

    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        datagen.write_tpch(str(tmp_path / sub), 0.001, seed)
    read = lambda sub: pq.read_table(str(tmp_path / sub / "lineitem.parquet"))  # noqa: E731
    assert read("a").equals(read("b"))
    assert not read("a").equals(read("c"))


# ------------------------------------------------------------------ isolation
def _git_status():
    return subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                          cwd=ROOT, capture_output=True, text=True, check=True).stdout


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, ".git")),
                    reason="needs a git checkout to compare status")
def test_run_leaves_checkout_clean():
    before = _git_status()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
         "registry", "--seed", "11", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {"setup_s", "wall_s", "latency_p50_s",
                                      "latency_tail_s", "cache_peak_mb"}
    assert _git_status() == before
    assert os.listdir(os.path.join(ROOT, ".perfbench", "runs")) == []
