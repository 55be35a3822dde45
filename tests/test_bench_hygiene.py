"""bench.py load gate: the recorded evidence must not silently degrade.

The r07/r08 driver benches were taken at 1-min load 6.9/9.5 and the
headline drifted 7.6 -> 9.8 s with zero plan changes; `_settle_load`
is the fix (wait for idle, flag contamination into the JSON). These
tests pin its contract without running Spark.
"""

from __future__ import annotations

import importlib.util
import os
import sys


# The bench.py of the checkout this test file belongs to.
_BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_settle_load_returns_immediately_when_idle(monkeypatch):
    bench = _load_bench()
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 1.0, 1.0))
    sleeps: list[float] = []
    monkeypatch.setattr(bench.time, "sleep", sleeps.append)
    initial, settled, contaminated = bench._settle_load(2.0, 600.0)
    assert (initial, settled, contaminated) == (0.5, 0.5, False)
    assert sleeps == []  # no polling when already idle


def test_settle_load_waits_until_load_drops(monkeypatch):
    bench = _load_bench()
    readings = iter([(8.0, 0, 0), (5.0, 0, 0), (1.4, 0, 0)])
    monkeypatch.setattr(bench.os, "getloadavg", lambda: next(readings))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    initial, settled, contaminated = bench._settle_load(2.0, 600.0)
    assert initial == 8.0
    assert settled == 1.4
    assert contaminated is False


def test_settle_load_flags_contamination_on_timeout(monkeypatch):
    bench = _load_bench()
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.0, 9.0, 9.0))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    # Drive the monotonic clock past the deadline after the first poll
    # so the loop exits with load still high.
    ticks = iter([0.0, 1000.0, 2000.0])
    monkeypatch.setattr(bench.time, "monotonic", lambda: next(ticks))
    initial, settled, contaminated = bench._settle_load(2.0, 500.0)
    assert initial == 9.0
    assert settled == 9.0
    assert contaminated is True


def test_adaptive_rep_policy():
    """v3 agreement reps: minimum reps always run; disagreement beyond
    10% between the two fastest keeps adding reps up to the cap; close
    agreement stops immediately at the minimum."""
    bench = _load_bench()
    need = bench._needs_another_rep
    # below the minimum -> always another rep
    assert need([], 3, 6) and need([1.0, 1.01], 3, 6)
    # agreement at the minimum -> stop
    assert not need([1.0, 1.05, 2.0], 3, 6)
    # disagreement -> continue (mins are 1.0 and 1.2)
    assert need([1.2, 1.0, 3.0], 3, 6)
    # ... until a rep lands within 10% of the floor
    assert not need([1.2, 1.0, 3.0, 1.04], 3, 6)
    # hard cap wins even while still disagreeing
    assert not need([3.0, 2.0, 1.0, 5.0, 4.0, 6.0], 3, 6)


def test_output_summary_survives_tail_truncation():
    """The grading driver keeps only the LAST 2000 chars of bench
    stdout (one recorded run lost its headline totals when rep_detail
    grew past that). `_assemble_output` must emit every summary key
    AFTER the bulky diagnostic blobs so the truncated tail is always
    self-contained — simulate a rep_detail far larger than any real
    round's and assert the summary parses out of the tail alone."""
    import json

    bench = _load_bench()
    fat_detail = {
        f"q_{i:03d}": {
            "n_reps": 6,
            "spread": 0.0123,
            "warm_sec": 1.2345,
            "times": [1.2345, 1.2346, 1.2347, 1.2348, 1.2349, 1.235],
        }
        for i in range(40)  # ~2.5x the real headline+extras count
    }
    out = bench._assemble_output(
        rep_detail=fat_detail,
        extras_detail=fat_detail,
        load_before=0.5,
        load_initial=0.5,
        contaminated=False,
        timings={f"q_{i:03d}": 1.0 for i in range(15)},
        extras={f"x_{i:02d}": 5.0 for i in range(10)},
        shared_edge_build=2.9,
        steal_pct=0.03,
        calib=0.3246,
        sf=0.1,
    )
    line = json.dumps(out)
    tail = line[-2000:]
    for key in (
        "metric",
        "value",
        "unit",
        "queries",
        "extras",
        "graph_shared_cache_build_sec",
        "cpu_steal_pct",
        "cpu_calib_sec",
        "sf",
        "harness_version",
    ):
        assert f'"{key}"' in tail, f"summary key {key!r} fell off the tail"
    # The whole per-query timings dict must be intact in the tail, not
    # just its opening brace: reconstruct it from the tail substring.
    frag = "{" + tail[tail.index('"metric"') :]
    parsed = json.loads(frag)
    assert parsed["value"] == 15.0
    assert len(parsed["queries"]) == 15 and len(parsed["extras"]) == 10
    assert parsed["cpu_calib_sec"] == 0.3246


def test_steal_and_calibration_probes():
    bench = _load_bench()
    steal, total = bench._steal_jiffies()
    assert total > 0 and 0 <= steal <= total
    calib = bench._cpu_calibration()
    assert 0.01 < calib < 30.0  # fixed workload, sane wall on any host
