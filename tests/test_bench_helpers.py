"""Unit tests for bench.py's graded-output machinery (no Spark).

The per-round BENCH_r{N}.json is ONE run in ONE steal window on a host
whose wall times swing 2-3x; the `history` block and the collapse-rescue
merge are what keep that graded line representative, so they get their own
tests: a wrong median or a botched best-of merge would silently misreport
the repo's headline evidence.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def _pair(sec_lo, sec_hi, ctl_lo, ctl_hi, turns=1000):
    out = {"turns": turns, "levels": [8, 32]}
    for k, sec in ((8, sec_lo), (32, sec_hi)):
        out[f"local[{k}]"] = {
            "sec": sec,
            "turns_per_sec": round(turns / sec, 1),
            "all_runs_sec": [sec],
        }
    out["scaling_efficiency"] = round(
        out["local[32]"]["turns_per_sec"] / (4 * out["local[8]"]["turns_per_sec"]), 3
    )
    ctl = {}
    for k, sec in ((8, ctl_lo), (32, ctl_hi)):
        ctl[f"mp[{k}]"] = {
            "sec": sec,
            "turns_per_sec": round(turns / sec, 1),
            "all_runs_sec": [sec],
        }
    ctl["efficiency"] = round(
        ctl["mp[32]"]["turns_per_sec"] / (4 * ctl["mp[8]"]["turns_per_sec"]), 3
    )
    out["control"] = ctl
    out["normalized_efficiency"] = round(
        out["scaling_efficiency"] / ctl["efficiency"], 3
    )
    return out


def test_merge_pair_takes_best_of_each_series():
    a = _pair(10.0, 8.0, 10.0, 4.0)  # collapsed wide run (8s at 32 cores)
    b = _pair(9.0, 3.0, 9.0, 3.5)  # rescue rep catches an uncollapsed window
    m = bench._merge_pair(a, b, 8, 32)
    assert m["local[8]"]["sec"] == 9.0
    assert m["local[32]"]["sec"] == 3.0
    # all rep times stay visible, in order
    assert m["local[32]"]["all_runs_sec"] == [8.0, 3.0]
    assert m["control"]["mp[32]"]["sec"] == 3.5
    # efficiency recomputed from the merged bests, not carried over
    assert m["scaling_efficiency"] == 0.75
    assert m["rescue_reps"] == 1


def test_merge_pair_ignores_failed_rescue():
    a = _pair(10.0, 8.0, 10.0, 4.0)
    m = bench._merge_pair(a, {"error": "all scaling worker reps failed"}, 8, 32)
    assert m is a


def test_history_summary_filters_cutoff_and_contamination(tmp_path):
    rows = [
        # pre-cutoff row: measured against the OLD plan, must be excluded
        "| 2026-08-17 08:12 | 0.9 | 0.9 | 0.8 | 0.9 | 0.9 | 99999.0 |",
        # contaminated row: flagged in-line, must be excluded
        "| 2026-08-18 01:24 | 0.178 | 0.222 | 0.803 | 0.658 | 0.782 | "
        "contaminated (concurrent job) |",
        "| 2026-08-17 13:00 | 0.54 | 0.734 | 0.736 | 0.673 | 0.691 | 57113.6 |",
        "| 2026-08-17 14:38 | 0.65 | 0.881 | 0.738 | 0.813 | 0.939 | 58290.1 |",
        "| 2026-08-18 02:22 | 0.15 | 0.192 | 0.781 | 0.674 | 0.786 |  |",
    ]
    # one headline row (run ts | total | 9 per-query cells)
    hl = "| 2026-08-17 18:39 | 13.54 | " + " | ".join(["1.0"] * 9) + " |"
    md = tmp_path / "BENCH.md"
    md.write_text("\n".join(rows + [hl]) + "\n")
    s = bench._history_summary(str(md))
    ex = s["extraction"]
    # 3 valid post-cutoff rows (pre-cutoff + contaminated excluded)
    assert ex["primary_raw"]["n"] == 3
    assert ex["primary_raw"]["best"] == 0.65
    assert ex["primary_raw"]["median"] == 0.54
    assert ex["primary_norm"]["best"] == 0.881
    # empty peak cell is skipped, not parsed as 0
    assert ex["peak_turns_per_sec"]["n"] == 2
    assert ex["peak_turns_per_sec"]["best"] == 58290.1
    assert s["headline"]["n"] == 1
    assert s["headline"]["total_best"] == 13.54


def test_history_summary_missing_file_returns_none(tmp_path):
    assert bench._history_summary(str(tmp_path / "nope.md")) is None


def test_scaling_levels_fit_the_machine(monkeypatch):
    """The scaling pairs use levels the machine has: 1->4 on 4 cores,
    8->32 plus 2->8 on 32."""
    monkeypatch.delenv("SPARK_GRAFT_SCALE_N", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SCALE_N2", raising=False)
    assert bench._levels(4) == (1, None)
    assert bench._levels(8) == (2, None)
    assert bench._levels(32) == (8, 2)
    assert bench._levels(2) == (None, None)
    # an override that does not fit is skipped; one equal to the
    # secondary runs once
    monkeypatch.setenv("SPARK_GRAFT_SCALE_N", "2")
    assert bench._levels(4) == (None, None)
    assert bench._levels(32) == (2, None)


def test_pin_cores_stays_inside_the_machine():
    import pytest

    assert bench._pin_cores(1, 4) == range(3, 4)
    assert bench._pin_cores(4, 4) == range(0, 4)
    assert bench._pin_cores(8, 32) == range(24, 32)
    assert bench._pin_cores(32, 32) == range(0, 32)
    for k in (0, 8):
        with pytest.raises(ValueError):
            bench._pin_cores(k, 4)
