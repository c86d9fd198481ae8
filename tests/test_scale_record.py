"""Unit tests for the scaling-record accumulation machinery (bench.py):
the relative probe floor, clean-pair medians, history migration, and the
fixed driver-window ordering in the entry module.  Pure python — these
guard the round-5 evidence pipeline itself."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _pair(eff, lo_probe, hi_probe, valid=True, matched=None, dens_probe=None):
    p = {
        "eff": eff,
        "valid": valid,
        "lo_probe_mb_s": lo_probe,
        "hi_probe_mb_s": hi_probe,
    }
    if matched is not None:
        p["valid_matched"] = True
        p["eff_matched"] = matched
        p["density"] = {"probe_mb_s": dens_probe or hi_probe}
    return p


def test_relative_floor_demotes_low_probe_pairs():
    bench = _load_bench()
    hist = [
        _pair(0.55, 8578.7, 3926.4),      # the r4 outlier shape
        _pair(0.824, 7366.0, 6391.4),
        _pair(0.80, 7000.0, 7000.0),
        _pair(0.70, 6500.0, 6800.0),
    ]
    stats = bench._scale_record_stats(hist)
    # median probe over 8 legs; 3926.4 < 0.6 x median -> pair demoted
    assert stats["pairs_total"] == 4
    assert stats["clean_pairs"] == 3
    assert [d["eff"] for d in stats["demoted_by_rel_floor"]] == [0.55]
    assert stats["clean_effs"] == [0.7, 0.8, 0.824]
    assert stats["efficiency_median_clean"] == 0.8
    assert stats["meets_target_median"] is True
    assert stats["efficiency_best_clean"] == 0.824


def test_invalid_pairs_never_clean_and_matched_gated_separately():
    bench = _load_bench()
    hist = [
        _pair(1.3, 8000.0, 8000.0, valid=False),          # superlinear
        _pair(0.79, 8000.0, 8000.0, matched=0.93),
        _pair(0.81, 8000.0, 8000.0, matched=0.88,
              dens_probe=100.0),                          # dirty density leg
    ]
    stats = bench._scale_record_stats(hist)
    assert stats["clean_pairs"] == 2
    assert stats["clean_effs"] == [0.79, 0.81]
    # matched set: only the pair whose density AND hi probes clear the floor
    assert stats["clean_matched_effs"] == [0.93]
    assert stats["efficiency_median_matched_clean"] == 0.93


def test_update_scale_record_migrates_and_keeps_best_headline(tmp_path):
    bench = _load_bench()
    old = {
        "recorded_at": "2026-08-21 09:49:08 UTC",
        "scaling": {
            "efficiency": 0.824,
            "headline_valid": True,
            "pairs": [_pair(0.824, 7366.0, 6391.4)],
        },
    }
    here = str(tmp_path)
    with open(os.path.join(here, "scale_record.json"), "w") as f:
        json.dump(old, f)
    new_run = {
        "efficiency": 0.79,
        "headline_valid": True,
        "pairs": [_pair(0.79, 8000.0, 8000.0)],
    }
    rec = bench._update_scale_record(new_run, here)
    # old pairs migrated into history, new appended
    assert rec["record_stats"]["pairs_total"] == 2
    assert {p["eff"] for p in rec["history"]} == {0.824, 0.79}
    # headline block stays the better valid run
    assert rec["scaling"]["efficiency"] == 0.824
    assert rec["headline_run_recorded_at"] == "2026-08-21 09:49:08 UTC"
    # a better new run replaces the block
    better = {
        "efficiency": 0.90,
        "headline_valid": True,
        "pairs": [_pair(0.90, 8000.0, 8000.0)],
    }
    with open(os.path.join(here, "scale_record.json"), "w") as f:
        json.dump(rec, f)
    rec2 = bench._update_scale_record(better, here)
    assert rec2["scaling"]["efficiency"] == 0.90
    assert rec2["record_stats"]["pairs_total"] == 3

    # review fix: an INVALID-headline run (dirty window) adds its pairs to
    # the history but can NEVER replace a valid headline, even with a
    # higher nominal efficiency
    with open(os.path.join(here, "scale_record.json"), "w") as f:
        json.dump(rec2, f)
    dirty = {
        "efficiency": 0.99,
        "headline_valid": False,
        "pairs": [_pair(0.99, 100.0, 100.0, valid=False)],
    }
    rec3 = bench._update_scale_record(dirty, here)
    assert rec3["scaling"]["efficiency"] == 0.90
    assert rec3["scaling"]["headline_valid"] is True
    assert rec3["record_stats"]["pairs_total"] == 4


def test_fixed_driver_window_is_a_prefix_and_complete():
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__ as entry
    finally:
        sys.path.remove(ROOT)
    q = entry.queries()
    keys = list(q)
    win = entry._DRIVER_WINDOW_R6
    assert len(win) == 50
    assert keys[: len(win)] == list(win)
    # a stale window name must fail loudly, not silently reorder
    with pytest.raises(KeyError):
        entry._fixed_driver_order({"not_a_gate": lambda s, d: None})
