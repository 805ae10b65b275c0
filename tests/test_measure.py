"""The measurement core (measure.py) that bench.py and the timing tools
share: rep statistic, interleaved A/B order, patch restoration, and one
Spark rep's job count and cache release."""

import pytest

from hadoop_distributed_dynamic_file_system_spark import cache, measure


def test_statistic_is_min_of_two_and_median_of_three():
    assert measure.statistic([3.0, 1.0]) == 1.0
    assert measure.statistic([2.0]) == 2.0
    assert measure.statistic([5.0, 1.0, 3.0]) == 3.0
    t = measure.Timing(reps=[0.4, 9.0, 0.5])
    assert t.value == 0.5 and t.spread == [0.4, 9.0]


# the patch target: this module's own `side`, looked up at call time
side = "A"


@pytest.fixture
def fake_timer(monkeypatch):
    """time_once without Spark: run the thunk, report 1 s and 0 jobs."""
    def time_once(spark, thunk, label):
        thunk()
        return 1.0, 0

    monkeypatch.setattr(measure, "time_once", time_once)


def test_ab_alternates_which_side_runs_first(fake_timer):
    seen = []
    a, b = measure.ab(None, lambda: seen.append(side), {f"{__name__}:side": "B"}, 4)
    assert seen == ["A", "B", "B", "A", "A", "B", "B", "A"]
    assert a.reps == b.reps == [1.0] * 4 and side == "A"


def test_ab_restores_patches_when_the_thunk_raises(fake_timer):
    def boom():
        if side == "B":
            raise RuntimeError("variant failed")

    with pytest.raises(RuntimeError, match="variant failed"):
        measure.ab(None, boom, {f"{__name__}:side": "B"}, 2)
    assert side == "A"


def test_warm_failure_is_reported_not_raised(capsys):
    def boom():
        raise RuntimeError("no such table\nstack trace line")

    measure.warm("q_missing", boom)
    assert capsys.readouterr().err == "!! warm q_missing: RuntimeError: no such table\n"


def test_spark_rep_counts_jobs_and_releases_persists(spark):
    cache.release_all()
    at_start = []

    def rep():
        at_start.append(cache.tracked_count())
        cache.tracked_persist(spark.range(100))  # eager: one count job
        measure.materialize(spark.range(100))

    t = measure.time_reps(spark, rep, reps=3, label="noop")
    assert at_start == [0, 0, 0] and cache.tracked_count() == 0
    assert len(t.reps) == 3 and all(j >= 1 for j in t.jobs)
