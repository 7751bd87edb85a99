"""Table catalog: the driver-generated parquet test tables.

One parquet file per table (see /root/repo/TESTDATA.md). At 100 TB these
would be directory-partitioned datasets (e.g. lineitem by l_shipdate
month, events by date(ts)); the loader API stays identical —
``spark.read.parquet`` handles both a single file and a partitioned
directory tree, and Catalyst does partition pruning from the same
filters we already emit (the reference's dual date/datetime predicate
trick, main.go:275, maps to that directly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Set-once guard for the per-session SQL confs below and memo for the
# scan split count load_for_compute probes (optimization round 11,
# guide §1/§5: both are pure driver-side metadata — conf.set is two
# py4j round-trips per load, and df.rdd.getNumPartitions() re-plans
# the scan physically at ~80 ms per call, ~65 calls x 2 passes = ~10 s
# of bench driver time. The split count of an immutable input under
# fixed session confs is static, so one exact probe per
# (application, sf_dir, table) is re-used; no DATA is memoized).
_SESSION_CONFED: set[str] = set()
_SCAN_PARTS: dict[tuple[str, str, str], int] = {}


def _patch_pyspark_driver_overheads() -> None:
    """Two guarded, behavior-preserving pyspark patches (round 11/12,
    guide §4 — the boundary itself):

    - call-site capture off for bare driver sessions (round 11): the
      per-API-call Python stack walk + ~4 py4j round-trips exist only
      to enrich error messages.
    - JVM function-handle cache (round 12): pyspark resolves
      ``getattr(sc._jvm.functions, name)`` through py4j reflection on
      EVERY F.* call — ~9k resolutions per ch_sql family build, ~22%
      of its py4j round trips. Function handles are static per
      SparkContext, so they are memoized in a WeakKeyDictionary keyed
      by the live context (id-reuse safe; entries die with the sc).

    Both are version-guarded with hasattr (ADVICE r11: plain
    try/except around an attribute WRITE can never detect a rename),
    so a pyspark upgrade that moves either internal downgrades to the
    unpatched behavior loudly-in-tests rather than silently wrong."""
    try:  # pragma: no cover - depends on pyspark internals
        import pyspark.errors.utils as _eu

        if hasattr(_eu, "_enable_debugging_cache"):
            _eu._enable_debugging_cache = False
    except Exception:
        pass
    try:  # pragma: no cover - depends on pyspark internals
        import weakref

        import pyspark.sql.functions.builtin as _b

        orig = getattr(_b, "_get_jvm_function", None)
        if orig is not None and not getattr(orig, "_bms_cached", False):
            per_sc: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

            def _cached(name, sc, _orig=orig, _per_sc=per_sc):
                try:
                    fns = _per_sc.get(sc)
                    if fns is None:
                        fns = {}
                        _per_sc[sc] = fns
                    fn = fns.get(name)
                    if fn is None:
                        fn = _orig(name, sc)
                        fns[name] = fn
                    return fn
                except TypeError:  # un-weakref-able sc: no caching
                    return _orig(name, sc)

            _cached._bms_cached = True
            _b._get_jvm_function = _cached
    except Exception:
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Runtime-settable SQL confs: callers (e.g. the verify driver) may
    # hand us a bare session. TIMESTAMP(NANOS) parquet errors outright
    # without nanosAsLong; UTC keeps timestamp rendering identical to
    # the DuckDB oracle on non-UTC machines. Set once per application.
    app_id = spark.sparkContext.applicationId
    if app_id not in _SESSION_CONFED:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # Arrow for driver transfers (guide §6): toPandas rides Arrow
        # instead of pickled rows — the CC driver path and every
        # bounded training collect depend on it; session.py sets it
        # for our own sessions, a session built with no custom conf
        # arrives here without it. (Driver rows going the other way
        # use local_frame, which needs no conf.)
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 call-site capture + JVM function-handle resolution
        # both tax every DataFrame/Column API call; see
        # _patch_pyspark_driver_overheads (guarded, results unchanged).
        _patch_pyspark_driver_overheads()
        _SESSION_CONFED.add(app_id)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is TIMESTAMP(NANOS) parquet, surfaced as int64 epoch-ns
    # under spark.sql.legacy.parquet.nanosAsLong; convert to µs
    # timestamps with integer division (exact — doubles would lose
    # precision above 2^53 ns).
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_for_compute(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    min_parallelism: int | None = None,
) -> DataFrame:
    """``load_table`` for compute-bound narrow stages (regex shingling,
    per-vector math, DP verification): when the scan yields fewer
    splits than the cluster has slots, widen it with one round-robin
    repartition so the expensive per-row work runs on every core
    instead of inheriting the source's split count.

    At 100 TB the source has thousands of splits and this no-ops (the
    guard keeps the plan identical); it exists for the opposite regime
    — small-input / heavy-per-row stages, where a single-row-group
    file would otherwise serialize minutes of CPU onto one task. The
    shuffle it inserts moves the RAW rows once (bytes ~ input size),
    which is the cheapest point in the pipeline to pay it: everything
    downstream fans out.
    """
    df = load_table(spark, sf_dir, name)
    target = min_parallelism or spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, sf_dir, name)
    n_parts = _SCAN_PARTS.get(key)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
        _SCAN_PARTS[key] = n_parts
    if n_parts < target:
        df = df.repartition(target)
    return df
