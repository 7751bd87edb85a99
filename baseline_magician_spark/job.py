"""End-to-end baseline job — the Spark-native equivalent of the
reference's main() (main.go:56-209).

Flow: config -> networks (CLI list | REST | config) -> ONE DataFrame
plan (window filter -> broadcast range join -> 27-aggregate groupBy ->
threshold expressions) -> Ban_settings_t rows -> hostgroup REST sink
with overwrite semantics. The reference issues one ClickHouse query per
network sequentially; this plan computes every network in a single
distributed pass (see plans.baseline).

The job runs on every cron tick at a size where fixed costs dominate,
so each step keeps them low: the networks list is an Arrow-built
``LocalRelation`` (no Python worker), the plan is built with few py4j
round trips, and the sink collects only the columns it publishes.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, SparkSession

from .config import BaselineConfig
from .plans.baseline import (
    REFERENCE_METRICS,
    compile_channel_expressions,
    generate_hostgroups,
    networks_dataframe,
)
from .sinks.hostgroups import HostgroupSink, hostgroup_rows
from .sources.networks import (
    fetch_current_hostgroups,
    fetch_networks_list,
    networks_from_cli,
)
from .sources.rest import Transport

log = logging.getLogger(__name__)


def resolve_networks(
    config: BaselineConfig,
    cli_networks_list: str = "",
    transport: Transport | None = None,
) -> list[str]:
    """CLI flag wins; else REST; else the config's own list
    (main.go:112-133 — the reference has no config fallback; ours is
    the offline-run extension). The config list is the FALLBACK after
    a failed/unavailable REST fetch, never an override of the live
    API's network list."""
    if cli_networks_list:
        return networks_from_cli(cli_networks_list)
    try:
        nets = fetch_networks_list(
            config.api_base_url,
            (config.api_user, config.api_password),
            transport,
        )
        if nets:
            return nets
    except Exception as exc:  # offline run — fall back to config
        log.warning("networks_list fetch failed (%s); using config list", exc)
    return list(config.networks)


def run_baseline_job(
    spark: SparkSession,
    config: BaselineConfig,
    metrics: DataFrame,
    cli_networks_list: str = "",
    transport: Transport | None = None,
    metric_cols: tuple[str, ...] = REFERENCE_METRICS,
    host_col: str = "host",
    time_col: str = "metricDateTime",
    date_col: str | None = None,
    now: Column | None = None,
    publish: bool = True,
) -> list[dict]:
    """Run the whole job; returns the generated Ban_settings_t dicts
    (and publishes them to the API unless publish=False)."""
    auth = (config.api_user, config.api_password)
    networks = resolve_networks(config, cli_networks_list, transport)
    log.info("processing %d networks", len(networks))

    nets_df = networks_dataframe(spark, networks)
    expressions = compile_channel_expressions(config.channel_expressions())
    result = generate_hostgroups(
        metrics,
        nets_df,
        expressions,
        config,
        metric_cols=metric_cols,
        host_col=host_col,
        time_col=time_col,
        date_col=date_col,
        now=now,
    )
    groups = hostgroup_rows(result)
    log.info("generated %d host groups", len(groups))

    if publish:
        sink = HostgroupSink(config.api_base_url, auth, transport)
        current = fetch_current_hostgroups(config.api_base_url, auth, transport)
        sink.publish(groups, current, config.remove_existing_hostgroups)
    return groups
