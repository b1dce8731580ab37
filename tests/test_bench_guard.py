"""The bench regression guard must catch real slowdowns and ignore noise —
pure-logic tests over bench.find_regressions and bench.pick_baseline (no
Spark)."""

from __future__ import annotations

import json

from bench import find_regressions, is_regressed, pick_baseline


def _record(dir_, name, sf, cpus, queries=None):
    """A wrapped bench record: the JSON line sits inside ``tail``."""
    line = json.dumps({"metric": "m", "value": 1.0, "queries": queries or {"q": 1.0}, "sf": sf})
    (dir_ / name).write_text(json.dumps({"n": 1, "rc": 0, "cpus": cpus, "sf": sf, "tail": line}))


def test_real_regression_is_flagged_after_confirmation():
    # a genuinely slowed query: 1.0s baseline -> 5.0s now, confirmation
    # run agrees (still 4.8s) -> flagged
    times = {"q": 5.0}
    out = find_regressions(times, {"q": 1.0}, rerun=lambda q: 4.8)
    assert out == {"q": {"now": 4.8, "baseline": 1.0}}


def test_noise_sample_cleared_by_confirmation_run():
    # round-4 false-positive shape: 0.37s baseline, one 0.98s sample, but
    # the confirmation run measures 0.29s -> not flagged
    times = {"q": 0.98}
    out = find_regressions(times, {"q": 0.372}, rerun=lambda q: 0.29)
    assert out == {}
    assert times["q"] == 0.29  # best-of-3 recorded


def test_sub_second_jitter_below_floor_never_flags():
    # 2.6x ratio but only 0.33s absolute delta -> below the 0.5s floor
    assert not is_regressed(0.53, 0.2)
    # huge ratio on a micro-query baseline (<=50ms) is ignored entirely
    assert not is_regressed(3.0, 0.04)
    # both thresholds exceeded -> flagged
    assert is_regressed(2.6, 1.0)


def test_r14_tightened_ratio_catches_systematic_drift():
    # the r13 escape: v1_variant_rollup drifted 0.59 -> 1.16s (1.97x) and
    # the old 2x gate never asked for a confirmation run.  The 1.5x gate
    # flags it (delta 0.57s > 0.5s floor).
    assert is_regressed(1.16, 0.59)
    # just under the ratio, or under the absolute floor -> still quiet
    assert not is_regressed(0.85, 0.59)
    assert not is_regressed(1.4, 1.0)


def test_confirmation_failure_keeps_original_sample():
    def boom(q):
        raise RuntimeError("query crashed on rerun")

    times = {"q": 5.0}
    out = find_regressions(times, {"q": 1.0}, rerun=boom)
    assert out == {"q": {"now": 5.0, "baseline": 1.0}}


def test_baseline_matches_core_count_not_just_sf(tmp_path):
    # the newest same-sf record ran on 32 cores; a 4-core run must not
    # compare against it, but against the older 4-core record
    _record(tmp_path, "BENCH_r03.json", 0.1, 4, {"q": 0.5})
    _record(tmp_path, "BENCH_r16.json", 0.1, 32)
    name, rec = pick_baseline(str(tmp_path), 0.1, 4)
    assert name == "BENCH_r03.json"
    assert rec["queries"] == {"q": 0.5}
    assert pick_baseline(str(tmp_path), 0.1, 32)[0] == "BENCH_r16.json"


def test_baseline_considers_core_suffixed_records(tmp_path):
    _record(tmp_path, "BENCH_r15_c8.json", 0.1, 8)
    _record(tmp_path, "BENCH_r16.json", 0.1, 32)
    _record(tmp_path, "BENCH_r16_c8.json", 0.1, 8)
    assert pick_baseline(str(tmp_path), 0.1, 8)[0] == "BENCH_r16_c8.json"


def test_baseline_newest_round_by_number(tmp_path):
    # round 100 sorts before round 99 as text; the pick is numeric
    _record(tmp_path, "BENCH_r99.json", 0.1, 4)
    _record(tmp_path, "BENCH_r100.json", 0.1, 4)
    assert pick_baseline(str(tmp_path), 0.1, 4)[0] == "BENCH_r100.json"


def test_no_matching_baseline_means_no_guard(tmp_path):
    _record(tmp_path, "BENCH_r16.json", 0.1, 32)
    _record(tmp_path, "BENCH_r17.json", 1.0, 4)  # right cpus, wrong sf
    (tmp_path / "BENCH_r18.json").write_text("{not json")
    (tmp_path / "BENCH_r19.json").write_text(
        json.dumps({"n": 19, "rc": 1, "cpus": 4, "sf": 0.1, "tail": "Traceback ..."})
    )
    (tmp_path / "BENCH_sf1_r20.json").write_text("{}")  # not a ledger name
    assert pick_baseline(str(tmp_path), 0.1, 4) is None
