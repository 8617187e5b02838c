"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_the_declaration(declared):
    for section, emitted in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        rows = declared[section]
        assert {m["name"]: m["unit"] for m in rows} == emitted
        for m in rows:
            assert NAME.match(m["name"]) and UNIT.match(m["unit"])
            assert m["better"] in ("higher", "lower")
    names = [m["name"] for s in ("end_to_end", "per_layer") for m in declared[s]]
    names += [w["name"] for w in declared["workloads"]]
    assert len(names) == len(set(names))
    setup = {m["name"]: m for m in declared["end_to_end"]}["setup_s"]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in declared["end_to_end"])
    assert {w["name"] for w in declared["workloads"]} <= set(run.WORKLOADS)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.tail_quantile([float(i) for i in range(1, 101)], 0.9) == pytest.approx(90.1)
    # 90 samples leave only nine beyond their p90
    assert stats.tail_quantile([float(i) for i in range(1, 91)], 0.9) is None
    assert stats.tail_quantile([1.0] * 200, 0.9) is None  # ties: none strictly beyond
    assert stats.tail_quantile([], 0.9) is None


def _stat_line(steal: int, idle: int, busy: int) -> str:
    # user nice system idle iowait irq softirq steal guest guest_nice
    return f"cpu  {busy} 0 0 {idle} 0 0 0 {steal} 0 0\ncpu0 0 0 0 0 0 0 0 0 0 0\n"


def test_quiet_pass_filter_on_a_synthetic_steal_trace(tmp_path):
    # cumulative (steal, idle, busy) jiffies at each pass boundary:
    # pass 0 steals 2%, pass 1 40%, pass 2 exactly the threshold, pass 3 none
    trace = [(0, 0, 0), (2, 8, 90), (42, 18, 140), (47, 28, 225), (47, 38, 315)]
    readings = []
    for i, (steal, idle, busy) in enumerate(trace):
        p = tmp_path / f"stat{i}"
        p.write_text(_stat_line(steal, idle, busy))
        readings.append(stats.read_cpu_times(str(p)))
    passes = []
    for i, wall in enumerate((10.0, 25.0, 11.0, 12.0)):
        w = stats.cpu_window(readings[i], readings[i + 1])
        passes.append({"wall_s": wall, "latency_s": {"q": wall}, **w})
    assert stats.QUIET_STEAL_FRAC == 0.05
    assert [round(p["steal_frac"], 2) for p in passes] == [0.02, 0.4, 0.05, 0.0]
    assert [p["wall_s"] for p in stats.quiet(passes)] == [10.0, 12.0]
    # the loud passes stay out of the throughput figures ...
    assert run.throughput(passes, 1)["queries_per_s"] == pytest.approx(1 / 11.0)
    # ... unless no pass was quiet: then the run is unsteady and uses all
    loud = [passes[1], passes[2]]
    assert not stats.quiet(loud)
    assert run.throughput(loud, 1)["queries_per_s"] == pytest.approx(1 / 18.0)


def _fake_setups(monkeypatch, steal: list[float], child_s: float = 40.0) -> tuple[list, list]:
    """Run run.setups() against fake set-up children whose steal
    shares come from ``steal``; return the verify flag of each spawn
    and the set-up records."""
    spawned: list[bool] = []
    clock = [run.T_PROCESS]

    def spawn(args, verify_results):
        spawned.append(verify_results)
        clock[0] += child_s
        i = len(spawned) - 1
        return {"setup": {"setup_s": 30.0 + i, "child_s": child_s, "steal_frac": steal[i]}}

    monkeypatch.setattr(run, "spawn_setup", spawn)
    monkeypatch.setattr(run.time, "monotonic", lambda: clock[0])
    args = type("Args", (), {"seconds": 20})
    done = [r["setup"] for r in run.setups(args)]
    return spawned, done


def test_a_loud_setup_is_repeated_in_a_fresh_child(monkeypatch):
    # quiet at once: one set-up, which verifies
    spawned, done = _fake_setups(monkeypatch, [0.01])
    assert spawned == [True]
    assert run.setup_figure(done) == (30.0, True)
    # loud, then quiet: the loud one stays out of the figure
    spawned, done = _fake_setups(monkeypatch, [0.3, 0.0])
    assert spawned == [True, False]
    assert run.setup_figure(done) == (31.0, True)
    # loud up to the cap: median of all, not steady
    spawned, done = _fake_setups(monkeypatch, [0.3, 0.2, 0.06])
    assert len(spawned) == run.SETUP_MAX == 2
    assert run.setup_figure(done) == (30.5, False)
    # a set-up that could end past the deadline is not started
    spawned, done = _fake_setups(monkeypatch, [0.3, 0.3, 0.3], child_s=80.0)
    assert len(spawned) == 1
    assert run.setup_figure(done) == (30.0, False)


def test_stationarity_flags_drift_between_thirds():
    assert stats.stationarity([10.0])["stationary"] is None
    assert stats.stationarity([10.0, 10.4]) == {"drift": pytest.approx(0.4 / 10.2), "stationary": True}
    assert not stats.stationarity([10.0, 14.0])["stationary"]
    assert stats.stationarity([10.0, 10.2, 9.9, 10.1, 10.0, 10.1])["stationary"]
    drift = stats.stationarity([10.0, 10.5, 11.0, 12.5, 13.0, 13.5])
    assert not drift["stationary"] and drift["drift"] > stats.STATIONARITY_BOUND


def test_rows_digest_ignores_row_order():
    rows = [(1, "a"), (2, "b"), (2, "b")]
    assert stats.rows_digest(rows) == stats.rows_digest(rows[::-1])
    assert stats.rows_digest(rows) != stats.rows_digest(rows[:2])


def test_query_order_ignores_verified_history(monkeypatch):
    sys.path.insert(0, ROOT)
    from linux_logs_spark import registry

    def resolved():
        return {
            w: [registry.get_query(n).name for n in names]
            for w, names in run.WORKLOADS.items()
        }

    before, registry_before = resolved(), list(registry.all_queries())
    # a new signing round in VERIFIED_HISTORY.json re-ranks the registry
    monkeypatch.setattr(registry, "_FP_CHANGED", set())
    monkeypatch.setattr(
        registry, "_last_verified_round",
        lambda: {n: i % 7 for i, n in enumerate(reversed(registry_before))},
    )
    assert list(registry.all_queries()) != registry_before
    assert resolved() == before
    for w, names in run.WORKLOADS.items():
        assert before[w] == list(names)
        assert run.pass_order(names, 3, 1) == run.pass_order(names, 3, 1)
        assert sorted(run.pass_order(names, 3, 1)) == sorted(names)
        # each pass and each seed has its own order
        assert run.pass_order(names, 3, 1) != run.pass_order(names, 3, 2)
        assert run.pass_order(names, 3, 1) != run.pass_order(names, 4, 1)
