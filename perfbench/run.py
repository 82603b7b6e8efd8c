"""Lakehouse benchmark: one workload per fresh process, or all of them.

Usage (from the repository root)::

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

A run sets up a session (timed as ``setup_s``), runs a first pass, an
untimed pass that checks every query's row count and value hash against
``expected.json``, and then warm passes of the workload's queries until
``--seconds`` have been measured. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``). A readable
summary goes to stderr, and the full per-query record to
``.perfbench/results/<workload>-seed<n>-trace<t>.json``.

With ``--trace 1`` the run enables the Spark event log, forces planning
of each returned relation, times calls into the package's layers, and
alternates traced with untraced warm passes so that it can report its
own overhead (``trace.overhead_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

#: Two warm passes, not more: a run (set-up, first pass, check pass,
#: warm passes) must stay near a minute so that the 4 + 22 x 2 runs of a
#: benchmark round fit in an hour even on a loaded host.
MIN_WARM_PASSES = 2


def _bench_spec() -> dict:
    with open(os.path.join(harness.repo_root(), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _trace_metrics(runs: list[harness.QueryRun], log_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics per traced pass (mean over traced passes) and
    per query (mean over its traced executions)."""
    import eventlog

    traced = [r for r in runs if r.traced and r.ok]
    windows = []
    for i, r in enumerate(traced):
        t0, t1, t2, t3 = r.phases_ms
        windows += [
            eventlog.Window(f"{i}:construct", t0, t1),
            eventlog.Window(f"{i}:plan", t1, t2),
            eventlog.Window(f"{i}:execute", t2, t3),
        ]
    spark_by_window = eventlog.replay(eventlog.read_events(log_dir), windows)

    def record(i: int, r: harness.QueryRun) -> dict[str, float]:
        t0, t1, t2, t3 = r.phases_ms
        phases = [spark_by_window[f"{i}:{p}"] for p in ("construct", "plan", "execute")]
        rec = {
            "queries.wall_s": r.wall_s,
            "queries.construct_s": (t1 - t0) / 1000.0,
            "queries.plan_s": (t2 - t1) / 1000.0,
            "queries.execute_s": (t3 - t2) / 1000.0,
            "queries.construct_jobs": phases[0]["jobs"],
        }
        rec.update(r.layers)
        rec.update(r.session)
        for metric in eventlog.METRICS:
            rec[f"spark.{metric}"] = sum(p[metric] for p in phases)
        rec["streaming.batches"] = rec.pop("spark.stream_batches")
        rec["streaming.state_rows"] = rec.pop("spark.state_rows")
        return rec

    records = [(r, record(i, r)) for i, r in enumerate(traced)]
    names = list(records[0][1]) if records else []
    n_passes = max(1, len({r.pass_no for r, _ in records}))
    per_pass = {m: sum(rec[m] for _, rec in records) / n_passes for m in names}
    tasks = per_pass.get("spark.tasks", 0.0)
    per_pass["spark.empty_task_frac"] = per_pass.pop("spark.empty_tasks", 0.0) / tasks if tasks else 0.0
    per_query: dict[str, dict[str, float]] = {}
    for r, rec in records:
        slot = per_query.setdefault(r.query, {"executions": 0})
        slot["executions"] += 1
        for m, v in rec.items():
            slot[m] = slot.get(m, 0.0) + v
    for slot in per_query.values():
        n = slot["executions"]
        for m in list(slot):
            if m != "executions":
                slot[m] /= n
        slot["queries.phase_residual_s"] = slot["queries.wall_s"] - (
            slot["queries.construct_s"] + slot["queries.plan_s"] + slot["queries.execute_s"]
        )
    return per_pass, per_query


def check_pass(runner: harness.Runner, expected: dict) -> list[dict]:
    """Untimed pass: each query's row count and value hash against the
    committed expectation."""
    import check

    results = []
    for name in sorted(runner.names):
        exp = expected[name]
        try:
            got = check.digest(runner.fns[name](runner.spark, runner.sf_dir).toPandas())
            ok = check.matches(exp, got)
            err = None if ok else f"expected {exp}, got {got}"
        except Exception as exc:  # counted as a failed query
            ok, err = False, f"{type(exc).__name__}: {exc}"[:500]
        runner.spark.catalog.clearCache()
        runner.guard.restore()
        if not ok:
            print(f"  check {name}: MISMATCH {err}", file=sys.stderr, flush=True)
        results.append({"query": name, "ok": ok, "error": err})
    return results


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import check

    spec = harness.load_workloads()[name]
    expected = check.load_expected()[name]
    env = harness.RunEnv.create(harness.repo_root(), trace)
    try:
        sf_dir = env.data_dir(spec["sf"])
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = env.start_session()
            harness.warm_up(spark, sf_dir)
            setup_s = time.perf_counter() - t0

            tracer = harness.Tracer() if trace else None
            runner = harness.Runner(spark, sf_dir, spec["queries"], seed, tracer)
            if tracer is not None:
                tracer.install()  # after Runner has imported every query module
            start = time.perf_counter()
            first_pass_s = runner.run_pass(1)
            first_wall_s = time.perf_counter() - start
            # The untimed check pass runs here, not last: it then doubles
            # as warm-up, so the warm passes no longer absorb the JIT
            # compilation the first warm pass otherwise carried (olap_sf0.1,
            # 4 runs: first warm passes 5.6-8.3 s, second ones 4.6-5.2 s).
            checks = check_pass(runner, expected)
            check_s = time.perf_counter() - start - first_wall_s
            warm_start = time.perf_counter()
            untraced: list[float] = []
            traced: list[float] = []
            pass_no = 2
            while (
                len(untraced) < (1 if trace else MIN_WARM_PASSES)
                or (trace and not traced)
                or first_wall_s + time.perf_counter() - warm_start < seconds
            ):
                use_trace = trace and len(traced) <= len(untraced)
                (traced if use_trace else untraced).append(runner.run_pass(pass_no, use_trace))
                pass_no += 1
            measured_s = first_wall_s + time.perf_counter() - warm_start
        peak_rss_mb = rss.peak_kb / 1024.0
        if trace:
            env.stop_session()
            per_pass, per_query = _trace_metrics(runner.runs, env.path("events"))
            per_pass["trace.overhead_s"] = median(traced) - median(untraced)
    finally:
        env.close()

    runs = runner.runs
    # p50/p90 are taken over each query's median warm latency: over the
    # raw latencies of a few unequal queries the order statistic jumped
    # from one query to the next under host noise (lakehouse_writes_sf0.01,
    # ten runs: spread 0.27 over raw latencies, 0.20 over the medians).
    warm: dict[str, list[float]] = {}
    warm_cpu: dict[str, list[float]] = {}
    pass_cpu: dict[int, float] = {}
    for r in runs:
        pass_cpu[r.pass_no] = pass_cpu.get(r.pass_no, 0.0) + r.cpu_s
        if r.pass_no >= 2 and r.ok and not r.traced:
            warm.setdefault(r.query, []).append(r.wall_s)
            warm_cpu.setdefault(r.query, []).append(r.cpu_s)
    deciles = quantiles([median(v) for v in warm.values()], n=10, method="inclusive")
    cpu_deciles = quantiles([median(v) for v in warm_cpu.values()], n=10, method="inclusive")
    untraced_nos = {r.pass_no for r in runs if r.pass_no >= 2 and not r.traced}
    failed = sum(not r.ok for r in runs) + sum(not c["ok"] for c in checks)
    attempted = len(runs) + len(checks)
    report = {
        "workload": name,
        "seed": seed,
        "trace": trace,
        "sf_dir": os.path.relpath(sf_dir, harness.repo_root()),
        "queries": spec["queries"],
        "measured_s": measured_s,
        "check_s": check_s,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": setup_s,
            "first_pass_s": first_pass_s,
            "pass_s": median(untraced),
            "query_p50_s": deciles[4],
            "query_p90_s": deciles[8],
            "first_pass_cpu_s": pass_cpu[1],
            "pass_cpu_s": median(pass_cpu[n] for n in untraced_nos),
            "query_cpu_p50_s": cpu_deciles[4],
            "query_cpu_p90_s": cpu_deciles[8],
            "failed_frac": failed / attempted,
            "peak_rss_mb": peak_rss_mb,
        },
        "samples": {
            "warm_passes": len(untraced),
            "traced_passes": len(traced),
            "query_latencies": sum(len(v) for v in warm.values()),
            "queries": len(warm),
        },
        "passes_s": {"untraced": untraced, "traced": traced},
        "query_runs": [
            {
                "query": r.query, "pass": r.pass_no, "traced": r.traced, "wall_s": r.wall_s,
                "cpu_s": r.cpu_s, "ok": r.ok, "error": r.error, "leaked_confs": r.leaked_confs,
            }
            for r in runs
        ],
        "checks": checks,
    }
    if trace:
        report["per_layer"] = per_pass
        report["per_query"] = per_query
    return report


UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s", "first_pass_cpu_s": "cpu-s", "pass_cpu_s": "cpu-s", "query_cpu_p50_s": "cpu-s", "query_cpu_p90_s": "cpu-s", "failed_frac": "ratio", "peak_rss_mb": "MB"}


def _summary(report: dict) -> str:
    s = report["samples"]
    e = report["end_to_end"]
    counts = {
        "setup_s": "1 set-up",
        "first_pass_s": "1 pass",
        "pass_s": f"median of {s['warm_passes']} warm passes",
        "query_p50_s": f"over {s['queries']} per-query medians of {s['query_latencies']} latencies",
        "query_p90_s": f"over {s['queries']} per-query medians of {s['query_latencies']} latencies",
        "first_pass_cpu_s": "1 pass, process tree",
        "pass_cpu_s": f"median of {s['warm_passes']} warm passes, process tree",
        "query_cpu_p50_s": f"over {s['queries']} per-query medians",
        "query_cpu_p90_s": f"over {s['queries']} per-query medians",
        "failed_frac": f"{report['failed']} of {report['attempted']} attempted",
        "peak_rss_mb": "anonymous RSS, sampled every 0.2 s, held over 2 samples",
    }
    lines = [f"== {report['workload']} (seed {report['seed']}, trace {int(report['trace'])})"]
    lines += [f"  {k:<14} {v:>12.4f} {UNITS[k]:<6} {counts[k]}" for k, v in e.items()]
    if report.get("per_layer"):
        lines.append("  per layer (mean per traced pass):")
        lines += [f"    {k:<28} {v:>12.4f}" for k, v in sorted(report["per_layer"].items())]
    return "\n".join(lines)


def _write_report(report: dict) -> str:
    out_dir = os.path.join(harness.repo_root(), ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{report['workload']}-seed{report['seed']}-trace{int(report['trace'])}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    return path


def result_line(report: dict, spec: dict, trace: bool) -> dict:
    values = report["per_layer"] if trace else report["end_to_end"]
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in spec["per_layer" if trace else "end_to_end"]
    }
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def run_all(args) -> int:
    """Each workload in its own fresh process; prints every workload's
    end-to-end metrics, then one JSON line keyed by workload."""
    results = {}
    for name in harness.load_workloads():
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            return proc.returncode
        results[name] = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, res in results.items():
        print(f"{name}: attempted {res['attempted']}, failed {res['failed']}")
        for metric, v in res["metrics"].items():
            print(f"  {metric:<24} {v['value']:>12.4f} {v['unit']}")
    print(json.dumps(results))
    return 0 if all(r["correct"] for r in results.values()) else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = harness.repo_root()
    if not os.path.isdir(os.path.join(root, harness.PACKAGE)):
        print(f"package {harness.PACKAGE} not found under {root}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in harness.load_workloads():
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = _bench_spec()
    report = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    path = _write_report(report)
    print(_summary(report), file=sys.stderr)
    print(f"  full record: {os.path.relpath(path, root)}", file=sys.stderr)
    print(json.dumps(result_line(report, spec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
