"""Stability mode: sets of benchmark runs of the same commit, each run
with its own seed, and every end-to-end metric's spread against the
bound in ``BENCHMARK.json``.

For each workload and metric it prints, per set, the median and the
spread (distance between the first and third quartile as a share of the
median, from ``statistics.quantiles(values, n=4)``), and from the second
set on, how much worse the set's median is than the first set's. A
spread or a drift above the metric's bound is flagged (``setup_s`` is
judged on drift only).

It runs every workload of ``BENCHMARK.json`` for its ``run_seconds``,
ten runs per workload in each of two sets. Usage (from the repository
root)::

    python3 perfbench/stability.py

Runs of different workloads are interleaved, so slow drift of the host
spreads over all of them. The raw values go to
``.perfbench/stability.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10  # per workload per set
SETS = 2


def _run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]

    values: dict[str, list[dict[str, list[float]]]] = {w: [] for w in workloads}
    failures = 0
    for s in range(SETS):
        for w in workloads:
            values[w].append({m["name"]: [] for m in metrics})
        for i in range(RUNS):
            seed = 1000 * (s + 1) + i
            for w in workloads:
                res = _run(w, seed, bench["run_seconds"])
                failures += res["failed"]
                for m in metrics:
                    values[w][s][m["name"]].append(res["metrics"][m["name"]]["value"])
                print(f"set {s + 1} run {i + 1} {w}: " + ", ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.4g}" for m in metrics
                ), file=sys.stderr, flush=True)

    ok = failures == 0
    print(f"{'workload':<24} {'metric':<14} {'bound':>6}  per set: median / spread   drift vs set 1")
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cells, drifts = [], []
            first = statistics.median(values[w][0][name])
            for s, per_set in enumerate(values[w]):
                med, sp = statistics.median(per_set[name]), spread(per_set[name])
                bad = name != "setup_s" and sp > bound
                ok &= not bad
                cells.append(f"{med:.4g} / {sp:.3f}{'!' if bad else ''}")
                if s:
                    worse = (med - first) / first if m["better"] == "lower" else (first - med) / first
                    ok &= worse <= bound
                    drifts.append(f"{worse:+.3f}{'!' if worse > bound else ''}")
            print(f"{w:<24} {name:<14} {bound:>6}  {'   '.join(cells)}   {' '.join(drifts)}")
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "stability.json"), "w") as fh:
        json.dump(values, fh, indent=1)
    print(f"failed queries: {failures}; {'all within bounds' if ok else 'OUT OF BOUNDS (!)'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
