"""Unit checks for the benchmarking helpers (no Spark needed)."""

import json
import sys

from .conftest import REPO_ROOT


def test_bw_at_reports_median_of_valid_readings(monkeypatch):
    """Round-6 advice: bw_at must not keep the MAX of its probe readings
    (upward bias on the attainable-speedup denominator) — it filters
    sub-10 GB/s transients, returns the median of the valid readings,
    and exposes the raw readings for the campaign JSON."""
    sys.path.insert(0, str(REPO_ROOT))
    import bench_scaling as bs

    canned = iter([2.1, 30.0, 70.0])

    class FakeOut:
        stdout = ""

    def fake_run(*_a, **_k):
        out = FakeOut()
        out.stdout = json.dumps({"width": 1, "bw_gbps": next(canned)})
        return out

    monkeypatch.setattr(bs.subprocess, "run", fake_run)
    v = bs.bw_at(1, tries=3)
    assert v == 50.0  # median of the two valid readings, not max 70
    assert bs.bw_at.last_readings == [2.1, 30.0, 70.0]


def test_bw_at_all_transient_returns_best_transient(monkeypatch):
    sys.path.insert(0, str(REPO_ROOT))
    import bench_scaling as bs

    canned = iter([0.1, 2.0, 1.5])

    class FakeOut:
        stdout = ""

    def fake_run(*_a, **_k):
        out = FakeOut()
        out.stdout = json.dumps({"width": 1, "bw_gbps": next(canned)})
        return out

    monkeypatch.setattr(bs.subprocess, "run", fake_run)
    assert bs.bw_at(1, tries=3) == 2.0


def test_bench_quiet_gate(monkeypatch):
    """bench.wait_for_quiet: proceeds gated the moment the canary clears
    0.85x the (CPUS-scaled) floor, polls while it doesn't, and falls
    through ungated at the deadline — recording the last reading."""
    sys.path.insert(0, str(REPO_ROOT))
    import bench

    monkeypatch.setattr(bench, "CPUS", 32)
    monkeypatch.setattr(bench, "CANARY_FLOOR", 200.0)
    monkeypatch.setattr(bench.time, "sleep", lambda _s: None)

    readings = iter([120.0, 150.0, 180.0])  # third clears 0.85*200=170
    monkeypatch.setattr(bench, "canary_mips", lambda: next(readings))
    gated, canary, waits = bench.wait_for_quiet()
    assert (gated, canary, waits) == (True, 180.0, 2)

    # never quiet: bounded by the deadline, reports ungated + last canary
    monkeypatch.setattr(bench, "canary_mips", lambda: 100.0)
    t = iter([0.0, 1.0, 2.0, 999.0, 1000.0, 1001.0, 1002.0])
    monkeypatch.setattr(bench.time, "time", lambda: next(t))
    monkeypatch.setattr(bench, "QUIET_WAIT_SEC", 50.0)
    gated, canary, waits = bench.wait_for_quiet()
    assert gated is False and canary == 100.0

    # an explicit budget overrides QUIET_WAIT_SEC (the shorter re-gate
    # used by collapse retries)
    t = iter([0.0, 1.0, 2.0, 700.0, 701.0])
    monkeypatch.setattr(bench.time, "time", lambda: next(t))
    gated, canary, _w = bench.wait_for_quiet(budget_sec=600.0)
    assert gated is False


def test_bench_merge_attempts():
    """Round-7 collapse-retry protocol: per-query minimum across
    attempts (a mid-run host collapse inflates only the attempt it hit),
    and the e2e bracket (run list, routed) follows the attempt owning
    the combat_e2e minimum."""
    sys.path.insert(0, str(REPO_ROOT))
    import bench

    collapsed = {"queries": {"combat_e2e": 13.5, "doc_minhash_lsh_pairs": 12.0,
                             "emb_ivf_ann": 1.1},
                 "e2e_runs": [19.4, 13.5, 15.7], "routed": 790349,
                 "gated": True, "canary_pre": 187.1, "canary_post": 163.4,
                 "gate_waits": 13}
    quiet = {"queries": {"combat_e2e": 10.4, "doc_minhash_lsh_pairs": 4.4,
                         "emb_ivf_ann": 1.3},
             "e2e_runs": [14.8, 10.4, 10.9], "routed": 790349,
             "gated": True, "canary_pre": 210.0, "canary_post": 206.0,
             "gate_waits": 0}
    queries, best, owners = bench.merge_attempts([collapsed, quiet])
    assert queries == {"combat_e2e": 10.4, "doc_minhash_lsh_pairs": 4.4,
                       "emb_ivf_ann": 1.1}
    assert best is quiet  # owns the combat_e2e min -> coherent run list
    # round-8 advice: each reported minimum is traceable to the attempt
    # (= canary bracket) it was measured in — emb_ivf_ann's minimum came
    # from the COLLAPSED attempt and says so
    assert owners == {"combat_e2e": 1, "doc_minhash_lsh_pairs": 1,
                      "emb_ivf_ann": 0}
