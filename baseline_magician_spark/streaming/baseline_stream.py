"""Structured Streaming operators — SURVEY §2.9 (extension surface).

The reference is strictly batch, re-run every ``calculaton_period``
(main.go:28, README.md:18). The streaming-native equivalent keeps the
SAME dataflow — window filter -> range join vs the broadcast networks
dimension -> multi-aggregate — but as an incremental query:

- event time = the fact timestamp, with a watermark bounding state;
- the 7-day "window" becomes a sliding/tumbling ``F.window``;
- the networks dimension joins stream-static (broadcast per micro-batch);
- sinks append finalized windows instead of overwriting hostgroups.

These builders return unbounded DataFrames; callers attach
``writeStream`` (tests use trigger(availableNow=True) + memory sink,
replaying the parquet test data as a bounded stream).

Scale notes: stream-static broadcast join adds no shuffle; the windowed
groupBy shuffles on (window, network) — uniform if networks are; state
store size = windows-in-watermark x networks, independent of event
volume. ``streaming_sessionize`` uses the built-in ``session_window``
(gap-based), which Spark compacts in the state store natively — no
hand-rolled flatMapGroupsWithState needed for this shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ip import ip4_to_long
from ..operators.range_join import broadcast_range_join

def _events_schema(
    spark: SparkSession, sf_dir: str
) -> tuple[T.StructType, bool]:
    """Streaming file sources require a user-supplied schema, so probe
    the physical ts type the generator used: TIMESTAMP(NANOS) surfaces
    as int64 under nanosAsLong (needs an explicit ns->µs conversion);
    TIMESTAMP(MICROS) reads as a native timestamp.

    Primary probe: the pyarrow footer, checked STRUCTURALLY
    (is_timestamp + unit, tz-aware nanos included). Fallback: the
    batch-inferred Spark schema — the same dtype-branch signal
    catalog.load_table uses — so a missing pyarrow cannot silently
    drop the nanos handling.

    Timezone contract: for MICROS data with isAdjustedToUTC=false the
    batch path infers timestamp_ntz, but Spark refuses watermarks on
    TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so the stream
    must declare LTZ TimestampType; batch/stream wall-times agree
    because read_events_stream pins the session timezone to UTC before
    reading."""
    ts_nanos = False
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
        ts_nanos = pa.types.is_timestamp(t) and t.unit == "ns"
    except Exception:
        # nanosAsLong is already set by read_events_stream, so the
        # batch schema shows LongType for TIMESTAMP(NANOS) data
        ts_nanos = isinstance(
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .schema["ts"].dataType,
            T.LongType,
        )
    ts_type: T.DataType = T.LongType() if ts_nanos else T.TimestampType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, ts_nanos


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one file = one
    replayed micro-batch under availableNow; a live deployment points
    the same reader at an arriving-files directory or swaps in Kafka —
    the downstream plan is identical)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema, ts_nanos = _events_schema(spark, sf_dir)
    # The file source wants a DIRECTORY; the test layout is one file per
    # table in a shared dir, so glob-filter to the events file. A live
    # deployment points at a dedicated arriving-files directory.
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_nanos:
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw


def streaming_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-type counts with late-data handling.

    Output: (window_start, window_end, event_type, n_events, sum_value).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_baseline_aggregate(
    events: DataFrame,
    networks: DataFrame,
    metric_map: dict[str, tuple[str, float]],
    ip_expr: Column,
    window_duration: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """The baseline pipeline as an incremental query: per (window,
    network) the same ``floor(avg(metric))`` aggregates the batch plan
    computes per network (plans.baseline.baseline_aggregate).

    ``networks`` is the static broadcast dimension (network,
    start_long, end_long); ``ip_expr`` maps an event row to its ip
    long (the events->host_metrics adapter, queries.baseline_q).
    """
    with_ip = events.withColumn("_ip_long", ip_expr)
    joined = broadcast_range_join(with_ip, networks, ip_col="_ip_long")
    aggs = [F.count(F.lit(1)).alias("samples")]
    for metric, (etype, scale) in metric_map.items():
        aggs.append(
            F.floor(
                F.avg(
                    F.when(
                        F.col("event_type") == etype, F.col("value") * F.lit(scale)
                    )
                )
            )
            .cast("long")
            .alias(metric)
        )
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "network")
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            "network",
            "samples",
            *metric_map.keys(),
        )
    )


def streaming_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session aggregation with a gap-based session window —
    the custom-stateful-operator slot, expressed with the built-in
    ``session_window`` (state compaction handled by the engine).

    Output: (user_id, session_start, session_end, n_events, total_value).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def ip_expr_from_user_id(
    base: int = 167772160, spread: int = 2654435761, mod: int = 65536
) -> Column:
    """The events->host adapter's deterministic user->ip mapping
    (queries.baseline_q: IP_BASE + (user_id * IP_SPREAD) % 65536)."""
    return F.lit(base) + (F.col("user_id") * F.lit(spread)) % F.lit(mod)


_ = ip4_to_long  # re-exported convenience for callers building ip_expr
