"""Unit tests for bench.py's measuring machinery: the scaling levels and
core pins it picks on the machine it lands on, and the --worker run of the
shipped job, whose failure must drop the rep instead of reporting a time.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def test_scaling_levels_fit_the_machine():
    """The scaling pair uses levels the machine has: 1->4 on 4 cores,
    8->32 on 32, none on 2."""
    assert bench._levels(4) == 1
    assert bench._levels(8) == 2
    assert bench._levels(32) == 8
    assert bench._levels(2) is None


def test_pin_cores_stays_inside_the_machine():
    assert bench._pin_cores(1, 4) == range(3, 4)
    assert bench._pin_cores(4, 4) == range(0, 4)
    assert bench._pin_cores(8, 32) == range(24, 32)
    assert bench._pin_cores(32, 32) == range(0, 32)
    for k in (0, 8):
        with pytest.raises(ValueError):
            bench._pin_cores(k, 4)


def test_worker_times_the_job_and_fails_closed(tmp_path):
    """``bench.py --worker`` runs ``jobs/extract_job.main``: a good input
    yields a parsable time; a job that fails yields no time, so
    ``_worker_sec`` drops the rep."""
    from ocr_spark import synth

    path = str(tmp_path / "t.parquet")
    synth.write_transcripts_parquet(synth.generate_local(20), path)

    def run(parquet):
        return subprocess.run(
            [sys.executable, bench.__file__, "--worker", "1", parquet],
            capture_output=True, text=True, timeout=600,
        )

    ok = run(path)
    assert ok.returncode == 0, ok.stderr[-2000:]
    assert "'complete': True" in ok.stdout  # the job's own audit line
    assert bench._worker_sec(ok) > 0

    bad = run(str(tmp_path / "missing.parquet"))
    assert bad.returncode != 0
    assert bench._worker_sec(bad) is None
