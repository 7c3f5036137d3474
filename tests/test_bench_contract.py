"""Driver-contract guard for bench.py: one JSON line with the required
keys, runnable as a subprocess exactly the way the driver invokes it, and
a subset run leaves the repo root untouched."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _root_files() -> dict[str, int]:
    return {
        e.name: e.stat().st_mtime_ns for e in os.scandir(REPO) if e.is_file()
    }


def test_bench_emits_driver_contract_json():
    before = _root_files()
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--only",
         "pricing_summary,sessionize_events"],
        env=env, capture_output=True, text=True, cwd=REPO, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    after = _root_files()
    touched = sorted(n for n, m in after.items() if before.get(n) != m)
    assert not touched, f"--only run created or rewrote {touched}"
    json_lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert len(json_lines) == 1, "exactly ONE JSON line required"
    d = json.loads(json_lines[0])
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in d, key
    assert d["unit"] == "sec"
    assert d["sf"] == 0.001
    assert set(d["queries"]) == {"pricing_summary", "sessionize_events"}
    assert all(t >= 0 for t in d["queries"].values())
    assert abs(d["value"] - sum(d["queries"].values())) < 0.01
