"""The baseline pipeline: per-network traffic aggregates -> threshold host groups.

Reference behavior reproduced (cited file:line for parity checks; all
code here is written Spark-first, not translated):

- time-window predicate with the redundant date twin for partition
  pruning (main.go:275)
- IP-range predicate incl. off-by-one upper bound (main.go:229-238,
  go-cidr cidr.go:136-139)
- 27 aggregates in a single pass, ``toInt64(agg(metric))`` truncation
  (main.go:240-279)
- empty-network skip: count(*)==0 groups dropped (main.go:331-334)
- IPv6 networks skipped (main.go:223-226)
- threshold = uint-truncated expression result; bits channel divided
  /1024/1024 after truncation (main.go:372-434)
- zero thresholds deactivate their ban flag (main.go:372-377,398-406)
- hostgroup name mangling ``.``/``/`` -> ``_`` (main.go:342-347)

Architectural difference (deliberate): the reference issues N
sequential global-aggregate queries, one per network. Here the
networks list is a broadcast dimension and the whole job is ONE
range-join + groupBy pass over the fact table — one scan at any N,
which is the shape that survives 100 TB.

Fixed costs: the networks dimension is a ``LocalRelation``
(``local_frame``), so no Python worker runs and the broadcast reads
driver rows; the aggregates are SQL text (one py4j call each instead
of one per Column node); thresholds and the name mangle are a single
projection. Threshold expressions stay on the expression compiler:
``expr/sqlgen.py`` renders govaluate as SQL for the oracles, not with
Spark-exact semantics.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BaselineConfig
from ..functions.ip import ip4_to_long, parse_cidr_py
from ..local_frame import local_frame
from ..operators.range_join import broadcast_range_join, bucketed_range_join

log = logging.getLogger(__name__)

# The reference's 26 metric counters (main.go:240-269).
REFERENCE_METRICS = tuple(
    f"{proto}_{direction}"
    for proto in (
        "packets", "bits", "flows",
        "tcp_packets", "udp_packets", "icmp_packets",
        "fragmented_packets", "tcp_syn_packets",
        "tcp_bits", "udp_bits", "icmp_bits",
        "fragmented_bits", "tcp_syn_bits",
    )
    for direction in ("incoming", "outgoing")
)


def networks_dataframe(spark: SparkSession, cidrs: list[str]) -> DataFrame:
    """Parse a CIDR list into the broadcastable networks dimension.

    Invalid entries and IPv6 networks are skipped with a log line, like
    the reference (main.go:114-126, 223-226).
    """
    rows = []
    for cidr in cidrs:
        try:
            rows.append(parse_cidr_py(cidr))
        except ValueError as e:
            log.warning("skipping network %s: %s", cidr, e)
    return local_frame(
        spark, rows, "network string, start_long long, end_long long, masklen int"
    )


def cast_to_uint(c: Column) -> Column:
    """Parity rule for the reference's cast_to_uint (main.go:468-477):
    float64 -> unsigned truncation; anything unexpected (null) -> 0.
    Negative inputs also map to 0 (documented divergence from Go's
    platform-defined uint(negative) wrap — strict-correct choice)."""
    return (
        F.when(c.isNull() | (c < 0), F.lit(0)).otherwise(F.floor(c)).cast("long")
    )


def time_window_filter(
    df: DataFrame,
    time_col: str,
    window_seconds: int,
    now: Column | None = None,
    date_col: str | None = None,
) -> DataFrame:
    """`time >= now - window`, plus the redundant date predicate when the
    table has a date partition column (partition pruning, main.go:275)."""
    now = F.current_timestamp() if now is None else now
    # timestamp - day-time interval keeps microsecond precision
    # (unix_timestamp would truncate to seconds and move the boundary).
    lower = now - F.make_dt_interval(secs=F.lit(window_seconds))
    out = df.where(F.col(time_col) >= lower)
    if date_col is not None:
        out = out.where(F.col(date_col) >= F.to_date(lower))
    return out


def baseline_aggregate(
    metrics: DataFrame,
    networks: DataFrame,
    metric_cols: tuple[str, ...] = REFERENCE_METRICS,
    agg: str = "avg",
    host_col: str = "host",
    use_bucketed_join: bool = False,
) -> DataFrame:
    """One-pass per-network aggregation: the reference's NETWORKS_LOOP
    (N sequential scans) collapsed into range-join + groupBy.

    Output: one row per network with ``samples`` (count(*)) and one
    int64 column per metric (``toInt64(agg(metric))`` semantics —
    truncating cast after avg/max).
    """
    if agg not in ("avg", "max"):
        raise ValueError(f"unsupported aggregation {agg!r}")

    # If the caller already carries a numeric ip column (common when
    # the fact table stores both forms), skip the dotted-quad parse —
    # ip4_to_long(long_to_ip4(x)) == x, so results are identical.
    if "_ip_long" in metrics.columns:
        with_ip = metrics
    else:
        with_ip = metrics.withColumn("_ip_long", ip4_to_long(host_col))
    join = bucketed_range_join if use_bucketed_join else broadcast_range_join
    joined = join(with_ip, networks, ip_col="_ip_long")

    # SQL text: one py4j call per aggregate instead of one per Column
    # node (count, lit, avg, floor, cast, alias)
    aggs = [F.expr("count(1) AS samples")] + [
        F.expr(f"CAST(floor({agg}(`{c}`)) AS BIGINT) AS `{c}`")
        for c in metric_cols
    ]
    return (
        joined.groupBy("network")
        .agg(*aggs)
        # empty-slice filter (main.go:331-334); with an inner join,
        # zero-sample groups never appear, but keep the guard explicit
        # for outer-join callers.
        .where("samples > 0")
    )


@dataclass(frozen=True)
class ThresholdChannel:
    """One of the reference's six threshold channels."""

    name: str               # e.g. "incoming_packets"
    source_col: str         # aggregate column feeding the expression
    threshold_col: str      # output threshold column name
    ban_col: str            # output enable-flag column name
    mbps: bool = False      # bits channels convert to mbps (/1024/1024)


REFERENCE_CHANNELS = (
    ThresholdChannel("incoming_packets", "packets_incoming", "threshold_pps_incoming", "ban_for_pps_incoming"),
    ThresholdChannel("outgoing_packets", "packets_outgoing", "threshold_pps_outgoing", "ban_for_pps_outgoing"),
    ThresholdChannel("incoming_bits", "bits_incoming", "threshold_mbps_incoming", "ban_for_mbps_incoming", mbps=True),
    ThresholdChannel("outgoing_bits", "bits_outgoing", "threshold_mbps_outgoing", "ban_for_mbps_outgoing", mbps=True),
    ThresholdChannel("incoming_flows", "flows_incoming", "threshold_flows_incoming", "ban_for_flows_incoming"),
    ThresholdChannel("outgoing_flows", "flows_outgoing", "threshold_flows_outgoing", "ban_for_flows_outgoing"),
)

ExpressionFn = Callable[[Column], Column]


def compile_channel_expressions(sources: dict[str, str]) -> dict[str, ExpressionFn]:
    """Compile govaluate expression strings (parameter: ``value``) into
    Column functions via the expression compiler — the reference parses
    each channel's expression once and evaluates per network
    (main.go:358-370); here each compiles once into the plan."""
    from ..expr import compile_column

    out: dict[str, ExpressionFn] = {}
    for name, src in sources.items():
        if not src:
            continue

        def fn(value: Column, _src: str = src) -> Column:
            return compile_column(_src, params={"value": value}, types={"value": "number"})

        out[name] = fn
    return out


def threshold_columns(
    columns: list[str], expressions: dict[str, ExpressionFn]
) -> dict[str, Column]:
    """Per-channel threshold and ban-flag columns, in output order, for
    a frame with ``columns``.

    ``expressions`` maps channel name -> fn(value Column) -> Column,
    mirroring the govaluate expression with parameter `value`
    (main.go:352-435). Missing channels keep threshold 0 / flag false.
    Semantics per channel: value (int64 aggregate) -> float64 ->
    expression -> uint truncation -> (bits only) /1024/1024 integer
    division -> zero deactivates the flag.
    """
    out: dict[str, Column] = {}
    for ch in REFERENCE_CHANNELS:
        fn = expressions.get(ch.name)
        if fn is None or ch.source_col not in columns:
            out[ch.threshold_col] = F.lit(0).cast("long")
            out[ch.ban_col] = F.lit(False)
            continue
        value = F.col(ch.source_col).cast("double")
        result = cast_to_uint(fn(value))
        if ch.mbps:
            result = F.floor(result / 1024 / 1024).cast("long")
        out[ch.threshold_col] = result
        out[ch.ban_col] = result > 0
    return out


def mangle_hostgroup_name(network: Column | str) -> Column:
    """Hostgroup name = network with '.' and '/' -> '_' (main.go:342-347)."""
    c = F.col(network) if isinstance(network, str) else network
    return F.translate(c, "./", "__")


def with_hostgroup_columns(
    aggregated: DataFrame, expressions: dict[str, ExpressionFn]
) -> DataFrame:
    """Thresholds plus ``hostgroup_name``: the sink's input, in one
    projection over the per-network aggregates (a column that already
    exists is replaced in place, like ``withColumn``)."""
    cols = threshold_columns(aggregated.columns, expressions)
    cols["hostgroup_name"] = mangle_hostgroup_name("network")
    return aggregated.withColumns(cols)


def generate_hostgroups(
    metrics: DataFrame,
    networks: DataFrame,
    expressions: dict[str, ExpressionFn],
    config: BaselineConfig,
    metric_cols: tuple[str, ...] = REFERENCE_METRICS,
    host_col: str = "host",
    time_col: str = "metricDateTime",
    date_col: str | None = None,
    now: Column | None = None,
    use_bucketed_join: bool = False,
) -> DataFrame:
    """Full pipeline: window filter -> range join -> multi-agg ->
    thresholds -> hostgroup rows (Ban_settings_t-shaped)."""
    windowed = time_window_filter(
        metrics, time_col, config.calculation_period_seconds, now=now, date_col=date_col
    )
    aggregated = baseline_aggregate(
        windowed,
        networks,
        metric_cols=metric_cols,
        agg=config.spark_agg,
        host_col=host_col,
        use_bucketed_join=use_bucketed_join,
    )
    return with_hostgroup_columns(aggregated, expressions)
