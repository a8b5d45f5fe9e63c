"""update_mixed must stay steady across run length: with checkpoint_index
every step, the read-after-write latency of the last steps must not trend
above that of the first steps. Runs the real workload (about two minutes)."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

import stats

pytest.importorskip("pyspark")

ROOT = Path(__file__).resolve().parents[2]
MAX_TREND = 1.25


def test_update_mixed_read_after_write_does_not_drift():
    seed = 9
    subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "update_mixed", "--seed", str(seed), "--seconds", "75", "--trace", "0"],
        cwd=ROOT,
        check=True,
        capture_output=True,
        timeout=600,
    )
    record = json.loads((ROOT / ".perfbench" / "records" / f"update_mixed-seed{seed}-trace0.json").read_text())
    assert record["failed"] == 0, record["failures"]
    series = record["series"]["range_count"]
    assert len(series) >= 6
    assert stats.trend_ratio(series) <= MAX_TREND, series
