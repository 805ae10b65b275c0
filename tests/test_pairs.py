"""tools/pairs.py: the gain verdict on canned pair results."""

import json
import os

import pytest

from tools import pairs
from tools.pairs import last_json, quartiles, value, verdict

PARENT = [2.8, 2.9, 2.7, 3.0, 2.85, 2.75, 2.95, 2.8, 2.9, 2.7]  # q1 2.7625, q3 2.9: IQR 0.1375


def test_quartiles_interpolate_linearly():
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([1.0, 2.0]) == (1.25, 1.5, 1.75)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_clear_gain():
    change = [p / 2 for p in PARENT]
    v = verdict(PARENT, change, "lower")
    assert (v["wins"], v["losses"], v["verdict"]) == (10, 0, "gain")
    assert v["parent_iqr"] == pytest.approx(0.1375)


def test_nine_wins_and_a_tie_is_a_gain():
    change = [p - 1.0 for p in PARENT[:9]] + [PARENT[9]]
    v = verdict(PARENT, change, "lower")
    assert (v["wins"], v["losses"], v["verdict"]) == (9, 0, "gain")


def test_eight_wins_is_unresolved():
    change = [p - 1.0 for p in PARENT[:8]] + [p + 0.5 for p in PARENT[8:]]
    assert verdict(PARENT, change, "lower")["verdict"] == "unresolved"


def test_shift_inside_parent_iqr_is_unresolved():
    change = [p - 0.05 for p in PARENT]  # wins every pair by less than the IQR
    v = verdict(PARENT, change, "lower")
    assert v["wins"] == 10
    assert v["verdict"] == "unresolved"


def test_higher_is_better_and_loss():
    ratios = [0.5, 0.52, 0.48, 0.5, 0.51, 0.49, 0.5, 0.5, 0.52, 0.48]
    assert verdict(ratios, [r + 0.2 for r in ratios], "higher")["verdict"] == "gain"
    assert verdict(ratios, [r - 0.2 for r in ratios], "higher")["verdict"] == "loss"
    assert verdict(PARENT, [p + 1.0 for p in PARENT], "lower")["verdict"] == "loss"


def test_fewer_than_ten_pairs_is_unresolved():
    """5 pairs, each won by half the parent's time: too few to judge."""
    v = verdict(PARENT[:5], [p / 2 for p in PARENT[:5]], "lower")
    assert (v["wins"], v["verdict"]) == (5, "unresolved")
    assert verdict(PARENT[:9], [p * 2 for p in PARENT[:9]], "lower")["verdict"] == "unresolved"


def test_unequal_pair_lists_raise():
    with pytest.raises(ValueError):
        verdict(PARENT, PARENT[:9], "lower")


def test_last_json_skips_log_lines():
    result = {"failed": 0, "metrics": {"wall_s": {"value": 1.5, "unit": "s"}}}
    out = "perfbench: {\"cpus\": 4}\n" + json.dumps(result) + "\n\n"
    assert value(last_json(out), "wall_s") == 1.5
    with pytest.raises(ValueError):
        last_json("\n")


def _checkouts(tmp_path):
    bench = {"run_seconds": 10, "end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.24},
    ]}
    parent, change = str(tmp_path / "parent"), str(tmp_path / "change")
    os.makedirs(change)
    with open(os.path.join(change, "BENCHMARK.json"), "w") as f:
        json.dump(bench, f)
    return parent, change


def test_main_alternates_sides_and_prints_verdicts(tmp_path, monkeypatch, capsys):
    parent, change = _checkouts(tmp_path)
    calls = []

    def fake_run(checkout, workload, seed, seconds):
        assert seconds == 10  # the benchmark's run length
        calls.append(checkout)
        setup = 1.0 if checkout == change else 2.0 + 0.01 * len(calls)
        return {"failed": 0, "attempted": 48, "metrics": {
            "setup_s": {"value": setup, "unit": "s"},
            "wall_s": {"value": 9.0 if checkout == change else 8.0, "unit": "s"}}}

    monkeypatch.setattr(pairs, "run_once", fake_run)
    assert pairs.main([parent, change, "--workload", "w", "--pairs", "10", "--seed", "7"]) == 0
    assert calls == [parent, change, change, parent] * 5
    out = capsys.readouterr().out
    assert "setup_s:" in out and out.split("setup_s:")[1].split("\n")[0].endswith(": gain")
    wall = out.split("wall_s:")[-1].split("\n")[0]
    assert "OVER BOUND" not in wall and wall.endswith(": loss")


def test_failed_run_voids_every_verdict(tmp_path, monkeypatch, capsys):
    """One parent run that failed a request makes every metric invalid,
    even where the change would otherwise win every pair."""
    parent, change = _checkouts(tmp_path)
    runs = {parent: 0, change: 0}

    def fake_run(checkout, workload, seed, seconds):
        runs[checkout] += 1
        failed = 3 if checkout == parent and runs[checkout] == 2 else 0
        return {"failed": failed, "attempted": 48, "metrics": {
            "setup_s": {"value": 1.0 if checkout == change else 2.0, "unit": "s"},
            "wall_s": {"value": 8.0 if checkout == change else 9.0, "unit": "s"}}}

    monkeypatch.setattr(pairs, "run_once", fake_run)
    assert pairs.main([parent, change, "--workload", "w", "--pairs", "10", "--seed", "7"]) == 1
    out = capsys.readouterr().out
    for name in ("setup_s", "wall_s"):
        assert out.split(f"{name}:")[-1].split("\n")[0].endswith(": invalid")
    assert "gain" not in out
    assert "failed requests: parent 3, change 0" in out
