"""Run environment, timing loop and layer tracing for the benchmark.

One run = one fresh process, one workload (``workloads.json``), one
closed-loop client: a single driver thread calls a query function,
materialises the result with a ``noop`` write, clears the cache and
restores the session, then issues the next query. The seed permutes
the query order of every pass but the first; the tables themselves are fixed
(``datagen.py``) so that results can be checked against
``expected.json``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import pandas as pd  # module level: the warm-up UDF's type hints resolve against it

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "olist_lakehouse_2_0_spark"
#: Driver heap for a 15 GB host shared with other jobs; the session
#: default (48g) would let the JVM grow past what the host can give.
#: The heap is also its initial size (-Xms): with a growing heap the
#: RSS peak depended on when G1 chose to expand (run-to-run spread
#: 0.21 against 0.04 with a fixed heap, olap_sf0.1 on 4 cores).
DRIVER_MEM = "2g"


def repo_root() -> str:
    return os.path.dirname(HERE)


def load_workloads() -> dict[str, dict]:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


# --------------------------------------------------------------------------
# processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parens: fields resume after the last ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _anon_rss_kb(pid: int) -> int:
    """Resident anonymous memory (heap, stacks, arenas) of one process.
    File-backed resident pages (jars, shared libraries) are left out: the
    kernel drops them under memory pressure from other jobs on the host,
    and with them in, two sets of the write workload's runs spread by
    0.10 and 0.01 (they were about 300 MB of a 3.2 GB peak)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("RssAnon:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU seconds (user + system) used by this process and its
    descendants: Python driver, JVM, Python workers.

    Each process's last reading is kept after it exits, so the work of a
    Python worker that ends is not lost: its parent may never reap it
    into its own cutime (a first version that relied on cutime saw the
    tree's total drop by 7 s within one query). Only a process that
    starts and ends between two readings is missed; ``RssSampler`` reads
    every 0.2 s."""

    def __init__(self):
        self._ticks: dict[tuple[int, str], int] = {}  # (pid, start time) -> ticks
        self._lock = threading.Lock()

    def observe(self, pids) -> None:
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            with self._lock:
                self._ticks[(pid, fields[19])] = int(fields[11]) + int(fields[12])

    def read(self) -> float:
        """The tree's CPU seconds so far. This process is read last, so
        the walk over /proc is charged to the next interval at most."""
        me = os.getpid()
        self.observe([*descendants(me), me])
        with self._lock:
            return sum(self._ticks.values()) * _TICK_S


CPU = CpuMeter()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Samples the summed anonymous RSS of this process and all its
    descendants (Python driver, JVM, Python workers) every 0.2 s and
    keeps the peak that held over two consecutive samples; it also hands
    each sample's processes to ``CPU``.

    A descendant counts only once it has been seen in two consecutive
    samples, and a sample counts only up to the one after it. The JVM
    starts helper processes by forking (without the native Hadoop library
    every local-file chmod is one): until the child calls exec it shares
    the JVM's pages and reports the JVM's whole RSS again (seen as
    +2.5 GB peaks in 4 of 20 write-workload runs; such children live for
    milliseconds)."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        seen: set[int] = set()
        last = 0
        while not self._stop.is_set():
            now = set(descendants(me))
            CPU.observe(now)
            total = _anon_rss_kb(me) + sum(_anon_rss_kb(p) for p in now & seen)
            self.peak_kb = max(self.peak_kb, min(last, total))
            seen, last = now, total
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# run environment


@dataclass
class RunEnv:
    """Per-run scratch directories under ``<root>/.perfbench`` and the
    Spark session's lifetime. ``close()`` stops the JVM, waits for every
    process it started and removes the run's directories."""

    root: str
    trace: bool
    work: str = ""
    run_dir: str = ""
    spark: object = None

    @classmethod
    def create(cls, root: str, trace: bool) -> RunEnv:
        env = cls(root=root, trace=trace)
        env.work = os.path.join(root, ".perfbench")
        env.run_dir = os.path.join(env.work, f"run-{os.getpid()}")
        for sub in ("tmp", "local", "events", "warehouse"):
            os.makedirs(os.path.join(env.run_dir, sub), exist_ok=True)
        return env

    def path(self, sub: str) -> str:
        return os.path.join(self.run_dir, sub)

    def data_dir(self, sf: str) -> str:
        """The workload's tables, generated on first use in this checkout
        (in a child process, so generation never counts as set-up)."""
        out = os.path.join(self.work, "data", f"sf{sf}")
        if not os.path.isdir(out):
            os.makedirs(os.path.dirname(out), exist_ok=True)
            subprocess.run(
                [sys.executable, os.path.join(HERE, "datagen.py"), out, sf], check=True
            )
        return out

    def start_session(self):
        """Export the run's environment and build the session."""
        import tempfile

        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # no hsperfdata files under /tmp from the launcher or driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        tempfile.tempdir = None
        if self.root not in sys.path:
            sys.path.insert(0, self.root)
        from olist_lakehouse_2_0_spark import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -Xms{DRIVER_MEM}",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and the JVM; wait until every descendant process
        has exited (SIGKILL after a grace period)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        procs = descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 10
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        while any(_alive(p) for p in procs):
            time.sleep(0.05)

    def close(self) -> None:
        try:
            self.stop_session()
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)


def warm_up(spark, sf_dir: str) -> None:
    """The warm-up ``bench.py`` runs: one tiny scan, then a pandas UDF
    over 32 partitions so the Python worker pool exists."""
    from pyspark.sql.functions import col, pandas_udf

    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.asarray(s, dtype="int64"))

    spark.range(0, 1000, 1, 32).select(_warm(col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()


# --------------------------------------------------------------------------
# session state


class SessionGuard:
    """Snapshots confs, active streams, temp views and persisted RDDs
    before a query, and after it counts and undoes what the query left
    behind, so a leak cannot change a later query's time."""

    def __init__(self, spark):
        self.spark = spark
        self.base_conf = dict(spark.conf.getAll)
        self.leaked_keys: list[str] = []  # conf keys the last query changed

    def restore(self) -> dict[str, int]:
        from pyspark.errors import AnalysisException

        spark = self.spark
        conf = dict(spark.conf.getAll)
        leaked = [k for k in conf.keys() | self.base_conf.keys() if conf.get(k) != self.base_conf.get(k)]
        for key in leaked:
            try:
                if key in self.base_conf:
                    spark.conf.set(key, self.base_conf[key])
                else:
                    spark.conf.unset(key)
            except AnalysisException:
                pass
        streams = spark.streams.active
        for q in streams:
            q.stop()
        views = [t.name for t in spark.catalog.listTables() if t.isTemporary]
        for v in views:
            spark.catalog.dropTempView(v)
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        n_rdds = rdds.size()
        for rdd in list(rdds.values()):
            rdd.unpersist(False)
        self.leaked_keys = sorted(leaked)
        return {
            "session.leaked_confs": len(leaked),
            "session.active_streams": len(streams),
            "session.temp_views": len(views),
            "session.persisted_rdds": n_rdds,
        }


# --------------------------------------------------------------------------
# layer tracing


@dataclass(frozen=True)
class Layer:
    """A package layer timed from outside: ``targets`` are module-level
    function names or ``Class.method`` names; ``None`` means every
    public function and public method defined in the module."""

    time_metric: str
    calls_metric: str
    module: str
    targets: tuple[str, ...] | None


LAYERS = (
    Layer("catalog.load_s", "catalog.load_calls", f"{PACKAGE}.catalog", ("load", "spread_scan", "Catalog.read")),
    Layer("delta_export.s", "delta_export.calls", f"{PACKAGE}.delta_export", None),
    Layer("pipeline.run_s", "pipeline.runs", f"{PACKAGE}.plans.pipeline", ("Pipeline.run",)),
    Layer("operators.cdc_s", "operators.cdc_calls", f"{PACKAGE}.operators.cdc", None),
    Layer("operators.merge_s", "operators.merge_calls", f"{PACKAGE}.operators.merge", None),
    Layer("operators.dedup_s", "operators.dedup_calls", f"{PACKAGE}.operators.dedup", None),
    Layer("operators.similarity_s", "operators.similarity_calls", f"{PACKAGE}.operators.similarity", None),
    Layer("operators.text_s", "operators.text_calls", f"{PACKAGE}.operators.text", None),
    Layer(
        "streaming.drain_s",
        "streaming.drains",
        "pyspark.sql.streaming.query",
        ("StreamingQuery.awaitTermination", "StreamingQuery.processAllAvailable"),
    ),
)


def _public_targets(mod) -> list[str]:
    """Public functions of ``mod`` and the public plain methods (plus
    ``__call__``) of the classes it defines."""
    names = []
    for name, obj in vars(mod).items():
        if getattr(obj, "__module__", None) != mod.__name__ or name.startswith("_"):
            continue
        if inspect.isclass(obj):
            names += [
                f"{name}.{m}"
                for m, fn in vars(obj).items()
                if inspect.isfunction(fn) and (m == "__call__" or not m.startswith("_"))
            ]
        elif inspect.isfunction(obj):
            names.append(name)
    return names


class Tracer:
    """Records spans around calls into the package's layers.

    Each layer's time is inclusive and counts only its outermost call
    per thread, so a layer calling itself is not counted twice; calls
    from worker threads add their own time. Spans are kept in memory
    and summed per query."""

    def __init__(self):
        self.query: str | None = None
        self.spans: list[tuple[str, str, float]] = []  # (query, layer, seconds)
        self.staged: list[tuple[str, str]] = []  # (query, staging root)
        self._depth = threading.local()

    def _wrap(self, layer: Layer, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            depth = getattr(tracer._depth, layer.time_metric, 0)
            setattr(tracer._depth, layer.time_metric, depth + 1)
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(tracer._depth, layer.time_metric, depth)
                if depth == 0 and tracer.query is not None:
                    tracer.spans.append((tracer.query, layer.time_metric, time.perf_counter() - start))

        return traced

    def install(self) -> None:
        """Patch every layer target, and every alias of a target that a
        package module imported by name."""
        aliases: dict[int, list[tuple[object, str]]] = {}
        for name, m in list(sys.modules.items()):
            if name.startswith(PACKAGE) and m is not None:
                for alias, val in vars(m).items():
                    if inspect.isfunction(val):
                        aliases.setdefault(id(val), []).append((m, alias))
        for layer in LAYERS:
            mod = importlib.import_module(layer.module)
            for target in layer.targets or _public_targets(mod):
                owner_name, _, attr = target.rpartition(".")
                owner = getattr(mod, owner_name) if owner_name else mod
                orig = vars(owner)[attr]
                wrapped = self._wrap(layer, orig)
                setattr(owner, attr, wrapped)
                if not owner_name:
                    for m, alias in aliases.get(id(orig), []):
                        setattr(m, alias, wrapped)

        staging = importlib.import_module(f"{PACKAGE}.staging")
        orig_staging_dir = staging.staging_dir

        @functools.wraps(orig_staging_dir)
        def staging_dir(tag: str) -> str:
            root = orig_staging_dir(tag)
            if self.query is not None:
                self.staged.append((self.query, root))
            return root

        staging.staging_dir = staging_dir

    def take(self, query: str) -> dict[str, float]:
        """Layer totals of one query execution; clears its records."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            out[layer.time_metric] = 0.0
            out[layer.calls_metric] = 0
        for q, metric, seconds in self.spans:
            if q == query:
                out[metric] += seconds
                out[_calls_of[metric]] += 1
        roots = [root for q, root in self.staged if q == query]
        out["staging.roots"] = len(roots)
        out["staging.mb"] = sum(_tree_bytes(r) for r in roots) / (1024.0 * 1024.0)
        self.spans = [s for s in self.spans if s[0] != query]
        self.staged = [s for s in self.staged if s[0] != query]
        return out


_calls_of = {layer.time_metric: layer.calls_metric for layer in LAYERS}


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# --------------------------------------------------------------------------
# the timing loop


@dataclass
class QueryRun:
    """One execution of one query in one pass."""

    query: str
    pass_no: int
    traced: bool
    wall_s: float
    ok: bool
    cpu_s: float = 0.0  # CPU seconds of the process tree over wall_s
    error: str | None = None
    phases_ms: tuple[float, float, float, float] | None = None  # epoch ms: t0, t1, t2, t3
    layers: dict[str, float] = field(default_factory=dict)
    session: dict[str, int] = field(default_factory=dict)
    leaked_confs: list[str] = field(default_factory=list)


class Runner:
    """Issues queries one at a time against one session."""

    def __init__(self, spark, sf_dir: str, names: list[str], seed: int, tracer: Tracer | None):
        from olist_lakehouse_2_0_spark.queries import all_queries

        self.spark = spark
        self.sf_dir = sf_dir
        self.names = list(names)
        self.rng = random.Random(seed)
        self.tracer = tracer
        registry = all_queries()
        self.fns = {n: registry[n] for n in self.names}
        self.guard = SessionGuard(spark)
        self.runs: list[QueryRun] = []

    def _one(self, name: str, pass_no: int, traced: bool) -> QueryRun:
        spark = self.spark
        fn = self.fns[name]
        if traced:
            self.tracer.query = name
        phases = None
        c0 = CPU.read()
        try:
            w0 = time.time()
            t0 = time.perf_counter()
            df = fn(spark, self.sf_dir)
            if traced:
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            t3 = time.perf_counter()
            if traced:
                phases = (w0 * 1000, (w0 + t1 - t0) * 1000, (w0 + t2 - t0) * 1000, (w0 + t3 - t0) * 1000)
            run = QueryRun(name, pass_no, traced, t3 - t0, True, CPU.read() - c0, phases_ms=phases)
        except Exception as exc:  # a failing query is counted, not fatal
            spark.catalog.clearCache()
            run = QueryRun(name, pass_no, traced, 0.0, False, error=f"{type(exc).__name__}: {exc}"[:500])
            print(f"  {name}: FAILED {run.error}", file=sys.stderr, flush=True)
        finally:
            if traced:
                self.tracer.query = None
        if traced:
            run.layers = self.tracer.take(name)
        run.session = self.guard.restore()
        run.leaked_confs = self.guard.leaked_keys
        return run

    def run_pass(self, pass_no: int, traced: bool = False) -> float:
        """One pass; returns the summed query time. The first pass keeps
        the workload's order: whichever query runs first pays most of the
        shared cold start (3.3 s vs 6-7 s for the stateful profile on the
        write workload), so a permuted first pass made ``first_pass_s``
        depend on the seed. Later passes run in seed-permuted order."""
        order = list(self.names)
        if pass_no > 1:
            self.rng.shuffle(order)
        total = 0.0
        for name in order:
            run = self._one(name, pass_no, traced)
            self.runs.append(run)
            total += run.wall_s
        return total

