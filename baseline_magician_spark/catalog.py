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

import json
import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

# Set-once guard for the per-session SQL confs in load_table: conf.set
# is two py4j round-trips per load.
_SESSION_CONFED: set[str] = set()

# Two driver-side metadata memos; no DATA is memoized.
#
# _SCHEMAS: the schema Spark inferred for a table file, as the JVM
# StructType and its JSON, keyed by (application, path, inode, size,
# mtime_ns). Without it every load runs a one-task schema-inference job
# ("parquet at NativeMethodAccessorImpl") even when the file was read a
# moment ago. The first load in an
# application still infers, after load_table has pinned nanosAsLong, so
# the memo only ever holds Spark's own answer under the confs every
# later load sees. A rewritten, replaced or new file changes the key
# and is inferred again; a new application starts empty. Only regular
# files are memoized: a directory (a partitioned dataset) can change
# under an unchanged stat of its root, so it keeps plain inference.
#
# _SCAN_PARTS: the scan split count load_for_compute probes;
# df.rdd.getNumPartitions() re-plans the scan physically at ~80 ms per
# call. The count is static for unchanged input under fixed session
# confs, so one exact probe per key is re-used. Its key is the same file
# key (a directory: application and path), so a rewritten file is
# probed again.
_SCHEMAS: dict[tuple, tuple] = {}
_SCAN_PARTS: dict[tuple, int] = {}

# A SparkContext's application id never changes, and reading it costs
# two gateway commands, so it is read once per context object.
_APP_IDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _app_id(spark: SparkSession) -> str:
    sc = spark.sparkContext
    app_id = _APP_IDS.get(sc)
    if app_id is None:
        app_id = _APP_IDS[sc] = sc.applicationId
    return app_id


def _file_key(app_id: str, path: str) -> tuple | None:
    """(application, path, inode, size, mtime_ns) of a regular local
    file; None for a directory, a missing path or a non-local URI."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (app_id, path, st.st_ino, st.st_size, st.st_mtime_ns)


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
    app_id = _app_id(spark)
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
    path = f"{sf_dir}/{name}.parquet"
    key = _file_key(app_id, path)
    memo = _SCHEMAS.get(key) if key else None
    if memo is None:
        df = spark.read.parquet(path)
        jschema = df._jdf.schema()
        memo = (jschema, jschema.json())
        if key:
            _SCHEMAS[key] = memo
    else:
        # Hand the JVM StructType straight to the reader: what
        # DataFrameReader.schema(StructType) does after re-parsing the
        # schema's JSON in the JVM and looking up the active session
        # (4 more py4j round-trips).
        reader = spark.read
        reader._jreader = reader._jreader.schema(memo[0])
        df = reader.parquet(path)
    # DataFrame.schema is a cached_property that asks the JVM for the
    # same JSON; fill it from the memo (a fresh object per DataFrame).
    df.__dict__["schema"] = StructType.fromJson(json.loads(memo[1]))
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
    app_id = _app_id(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _file_key(app_id, path) or (app_id, path)
    n_parts = _SCAN_PARTS.get(key)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
        _SCAN_PARTS[key] = n_parts
    if n_parts < target:
        df = df.repartition(target)
    return df
