"""bench.py as a subset floor + stages run: one JSON line on stdout with
every named query's floor and layer split, and no committed bench file
touched."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_FILES = ("bench_queries.json", "bench_warm.json", "bench_layers.json")


def _snapshot() -> dict[str, bytes | None]:
    out = {}
    for name in BENCH_FILES:
        path = os.path.join(REPO, name)
        out[name] = open(path, "rb").read() if os.path.exists(path) else None
    return out


def test_subset_floor_stages_run(sf_smoke):
    before = _snapshot()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_smoke, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "bench.py", "--reps", "2", "--stages", "daily_orders", "delta_export_roundtrip"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout
    out = json.loads(lines[0])

    assert set(out["queries"]) == {"daily_orders", "delta_export_roundtrip"}
    assert all(sec > 0 for sec in out["queries"].values())
    assert out["n_queries"] == 2
    assert out["queries_file"] is None
    # delta_export_roundtrip stages its data and proves equality before
    # it returns: that work runs in the construct window.
    assert out["layers"]["delta_export_roundtrip"]["construct_jobs"] >= 1
    assert _snapshot() == before
