"""bench.py's protocols, driven with fakes (no Spark).

run_scaling's pairing/stopping rules are outcome-INDEPENDENT (ADVICE r3):
resampling may be triggered only by congestion evidence (total-time drift
between pairs, or a raw host probe under 0.75), never by the engine's own
efficiency reading.  timing_loop runs pass by pass between two control
readings."""

from types import SimpleNamespace

import bench


def _leg(elapsed, n_urls=600_000):
    return {"elapsed_sec": elapsed, "urls_per_sec": round(n_urls / elapsed, 1)}


def _run(monkeypatch, legs, probes, cpus=8, **kw):
    """legs: [(lo_elapsed, hi_elapsed), ...]; probes: host_eff per pair;
    cpus: the CPUs this process may run on."""
    monkeypatch.setattr(bench.os, "sched_getaffinity",
                        lambda pid: set(range(cpus)))
    it_legs = iter([e for pair in legs for e in pair])
    it_probes = iter(probes)
    monkeypatch.setattr(
        bench, "_scaling_leg",
        lambda cores, n, mode, timeout_cap=None: _leg(next(it_legs)))
    monkeypatch.setattr(bench, "host_parallel_capacity",
                        lambda lo, hi: {"efficiency": next(it_probes)})
    # protocol tests are budget-neutral unless a test sets budget_s:
    # the stopping rules under test are drift/probe, not wall budget
    # (the effective budget is min(env, budget_s), so lift both)
    monkeypatch.setenv("KIT_BENCH_SCALE_BUDGET", "100000")
    kw.setdefault("budget_s", 100_000)
    return bench.run_scaling(600_000, 8, **kw)


def test_two_clean_pairs_stop(monkeypatch):
    r = _run(monkeypatch, [(640, 180), (650, 182)], [0.9, 0.92])
    assert len(r["pairs"]) == 2
    assert r["efficiency"] == r["pairs"][0]["efficiency"]  # min-total pair


def test_total_drift_triggers_third_pair(monkeypatch):
    # totals 820 vs 873 drift 6.5% > 5% -> third pair measured; and a
    # LOW efficiency alone (pair 2's 0.885-ish vs pair 1) never triggers
    r = _run(monkeypatch, [(640, 180), (683, 190), (645, 181)],
             [0.9, 0.92, 0.95])
    assert len(r["pairs"]) == 3


def test_low_engine_efficiency_alone_never_resamples(monkeypatch):
    # both pairs tight + clean probes but engine efficiency ~0.5:
    # outcome-independence demands NO extra pair
    r = _run(monkeypatch, [(640, 320), (642, 322)], [0.95, 0.96])
    assert len(r["pairs"]) == 2
    assert r["efficiency"] < 0.6


def test_congested_probe_triggers_extra_pair(monkeypatch):
    r = _run(monkeypatch, [(640, 180), (641, 181), (642, 180)],
             [0.5, 0.9, 0.91])
    assert len(r["pairs"]) == 3


def test_single_pair_with_clean_probe_stops(monkeypatch):
    r = _run(monkeypatch, [(640, 180)], [0.9], pairs=1)
    assert len(r["pairs"]) == 1


def test_single_pair_congested_probe_takes_its_extra(monkeypatch):
    # the congested first pair stays in the measured set, so it keeps
    # asking for pairs up to the cap: two extra pairs
    r = _run(monkeypatch, [(640, 180), (650, 182), (645, 181)],
             [0.6, 0.9, 0.92], pairs=1)
    assert len(r["pairs"]) == 3


def test_budget_stops_before_unaffordable_pair(monkeypatch):
    # a congested probe WANTS a third pair, but the last pair's own cost
    # says it won't fit the remaining wall budget -> stop at two and
    # report what was measured (the driver capture must never time out)
    r = _run(monkeypatch, [(640, 180), (650, 182)], [0.5, 0.9],
             budget_s=2000)
    assert len(r["pairs"]) == 2


def test_span_capped_at_the_cpus_this_process_may_use(monkeypatch):
    # taskset onto CPUs 0-7 succeeds on a 4-CPU host but pins the
    # "8-core" leg to 4 CPUs: the span run, and recorded, is 2 -> 4
    spans = []
    monkeypatch.setattr(bench.os, "sched_getaffinity",
                        lambda pid: set(range(4)))
    monkeypatch.setattr(
        bench, "_scaling_leg",
        lambda cores, n, mode, timeout_cap=None: (spans.append(cores),
                                                  _leg(100.0))[1])
    monkeypatch.setattr(bench, "host_parallel_capacity",
                        lambda lo, hi: {"efficiency": 0.95})
    r = bench.run_scaling(600_000, 8, pairs=1, budget_s=100_000)
    assert (r["cores_n"], r["cores_4n"]) == (2, 4)
    assert set(spans) == {2, 4}


def test_timing_loop_runs_pass_by_pass_between_controls(monkeypatch):
    calls = []
    ticks = iter(range(1000))
    clock = {"t": 0.0}

    def run_one(name):
        calls.append(name)
        clock["t"] += {"a": 1.0, "b": 2.0}[name] * (1 + next(ticks) % 3)

    monkeypatch.setattr(bench, "time",
                        SimpleNamespace(perf_counter=lambda: clock["t"]))
    out = bench.timing_loop(
        ["a", "b"], run_one, lambda: calls.append("control"), repeats=3)
    assert calls == ["control", "a", "b", "a", "b", "a", "b", "control"]
    assert out["control_s"] == [0.0, 0.0]
    a, b = out["queries"]["a"], out["queries"]["b"]
    assert a["samples"] == [1.0, 3.0, 2.0] and b["samples"] == [4.0, 2.0, 6.0]
    assert (a["min"], a["median"], a["spread"]) == (1.0, 2.0, 2.0)
    assert (b["min"], b["median"], b["spread"]) == (2.0, 4.0, 4.0)


def test_headline_names_are_catalog_entries():
    from kit_spark.queries import QUERIES

    assert [n for n in bench.HEADLINE if n not in QUERIES] == []
