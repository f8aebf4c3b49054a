"""scripts/bench_compare.py over synthetic bench sidecars: runs are
min-merged per side, a jobs or stages rise is flagged exactly, and
wall time only outside the 25% + 0.2 s band."""

from __future__ import annotations

import json

from scripts.bench_compare import main


def _sidecar(path, wall: dict, jobs: dict, stages: int = 3):
    counts = {q: {"jobs": j, "stages": stages, "tasks": 8} for q, j in jobs.items()}
    path.write_text(json.dumps({
        "metric": "headline_queries_detail", "queries": wall, "counts": counts,
    }))
    return str(path)


def test_jobs_rise_is_flagged(tmp_path):
    old = _sidecar(tmp_path / "old.json", {"a": 1.0, "b": 2.0}, {"a": 3, "b": 5})
    new = _sidecar(tmp_path / "new.json", {"a": 1.0, "b": 2.0}, {"a": 4, "b": 5})
    assert main([old, "--", new]) == 1


def test_equal_counts_and_wall_inside_band_pass(tmp_path):
    old = _sidecar(tmp_path / "old.json", {"a": 1.0, "b": 2.0}, {"a": 3, "b": 5})
    new = _sidecar(tmp_path / "new.json", {"a": 1.19, "b": 2.4}, {"a": 3, "b": 5})
    assert main([old, new]) == 0


def test_runs_are_min_merged_per_side(tmp_path):
    old = _sidecar(tmp_path / "old.json", {"a": 1.0}, {"a": 3})
    slow = _sidecar(tmp_path / "slow.json", {"a": 2.0}, {"a": 4})
    fast = _sidecar(tmp_path / "fast.json", {"a": 1.1}, {"a": 3})
    assert main([old, "--", slow]) == 1
    assert main([old, "--", slow, fast]) == 0
