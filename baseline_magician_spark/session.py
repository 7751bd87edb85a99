"""SparkSession bootstrap tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-plan, skew-join handling, partition coalescing),
UTC session timezone (required for oracle comparison vs DuckDB),
Arrow for the pandas interchange used by Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_MAX_DRIVER_MEM_MB = 16 * 1024


def default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 16g: a heap larger
    than the RAM it runs in can grow until the OS kills the JVM."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(_MAX_DRIVER_MEM_MB, phys_mb // 2)}m"


def get_spark(
    app_name: str = "baseline_magician_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores; the driver
    heap to ``$SPARK_DRIVER_MEM`` or ``default_driver_memory()``. Shuffle
    partitions default to the core count — on a real cluster this would
    be ~2-3x total executor cores; AQE coalesces down from there.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Spark rejects TIMESTAMP(NANOS) parquet outright; read ns as
        # int64 and let the catalog convert to µs timestamps exactly
        # (the test data has no sub-µs components).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.io.compression.codec", "lz4")
        # PySpark 4 wraps every DataFrame/Column API call with a
        # call-site capture for error enrichment: a Python stack walk
        # plus ~4 extra py4j round-trips (PySparkCurrentOrigin
        # set/clear, a conf read, getActiveSession) PER CALL. Profiled
        # on this engine (optimization round 11, guide §4 "the Python
        # boundary"): the ch_sql dialect family alone builds ~150k
        # py4j commands, and disabling the wrapper cuts family build
        # time ~32% (interleaved min 48.5 -> 33.1 s). Pure driver-side
        # win at any scale; query results are unchanged — only error
        # messages lose the Python call-site line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Whole-stage-codegen class cache (STATIC conf, default 100
        # entries): one pass of this engine's query suite generates
        # ~1000 codegen units, so at the default size every pass
        # recompiles every stage (janino compile is ~0.1-1 s per
        # generated class). Sized to hold a full suite's worth of
        # classes — a JVM-level cache of compiled code, not of data or
        # results; the same setting helps any repeated-shape workload
        # on a cluster driver/executor alike.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # driver-overhead patches (JVM function-handle cache; see catalog)
    from .catalog import _patch_pyspark_driver_overheads

    _patch_pyspark_driver_overheads()
    return spark
