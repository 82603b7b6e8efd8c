"""SparkSession factory tuned for this engine.

Defaults target the driver's harness (single JVM ``local[N]``), but every
knob is chosen so the same code runs unchanged on a multi-executor
cluster: AQE handles runtime re-planning (broadcast conversion, skew
splitting, partition coalescing), the session timezone is pinned to UTC
so timestamp semantics match the DuckDB oracle, and Arrow is enabled for
the (rare) pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "olist-lakehouse-2.0-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    At 100 TB scale these settings carry over: AQE coalesces the
    statically-chosen shuffle partition count to the real data size,
    skew-join splitting protects large joins, and advisory partition
    sizes keep post-shuffle partitions in the 64–128 MB sweet spot.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- determinism for oracle comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: the scale-out workhorse ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- vectorized python boundary (pandas UDF paths only) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- local-mode hygiene ---
        .config("spark.ui.enabled", "false")
        # keep stderr readable (no \r-animated stage bars interleaving
        # with per-query progress lines / the driver's tail capture)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # --- compile once: hold the working set of generated classes ---
        # Spark's default cache holds 100 entries. One pass over all
        # registered queries at sf0.01 compiles 3040 distinct entries
        # (99 of them differ on every run), so at 100 a repeated query
        # recompiled through Janino and the JIT re-warmed the new
        # classes. An entry is about 2.3 generated classes of about
        # 2.7 KB bytecode each; keeping that pass's entries cost +24 MB
        # metaspace and +13 MB heap (~12 KB an entry) against the
        # 100-entry cache. The cache is per JVM: the driver and every
        # executor keep their own.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Two known-benign WARN sources would otherwise dominate stderr
    # (the driver's bench tail capture is 2,000 chars): FileStreamSink
    # logs a full FileNotFoundException stack trace whenever a BATCH
    # read resolves a glob path (it probes for a streaming-sink
    # _spark_metadata dir first), and WindowExec warns on every
    # global-order window — a pattern this repo uses only on tiny
    # already-aggregated frames (months, rule lists); the plan census
    # (tests/plan_census.json) counts every query's Window nodes, so a
    # new one fails a test. Both stay at ERROR; real failures surface.
    # The suppression is session-WIDE, so a genuinely large global
    # window added later would warn silently too (ADVICE r4).
    try:
        configurator = (
            spark.sparkContext._jvm.org.apache.logging.log4j.core.config
            .Configurator
        )
        error_level = spark.sparkContext._jvm.org.apache.logging.log4j.Level.ERROR
        for noisy in (
            "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
            "org.apache.spark.sql.execution.window.WindowExec",
        ):
            configurator.setLevel(noisy, error_level)
    except Exception:
        pass  # non-log4j2 deployments: keep default verbosity
    return spark
