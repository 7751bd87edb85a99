"""Streaming hostgroup publication — the reference's periodic batch
refresh (run every ``calculaton_period``, README.md:18) as a continuous
query: windowed per-network aggregates flow through the SAME threshold
expressions and REST sink, published per micro-batch via foreachBatch.

Publish semantics mirror the reference's refresh: thresholds of the
LATEST window only, and never a regression to an older one (the newest
state overwrites, like the batch job's delete-then-create). Two guards
make that true under streaming semantics:

- the writer runs in APPEND mode, so a window reaches ``handle`` only
  once the watermark passes its end — finalized aggregates, never the
  partially-filled current window (update mode would republish the
  open window's partial thresholds every trigger);
- a driver-side high-water mark skips any batch whose newest finalized
  window is older than one already published (append emits late-
  finalized OLD windows too, e.g. after a late-data burst — without
  the guard their stale thresholds would overwrite newer ones).

foreachBatch runs on the driver, so the injectable REST transport
needs no serialization; the high-water mark lives in the closure (per
restarted query, matching the sink's overwrite semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BaselineConfig
from ..plans.baseline import ExpressionFn, with_hostgroup_columns
from ..sinks.hostgroups import HostgroupSink, hostgroup_rows
from ..sources.rest import Transport


def publish_hostgroups_stream(
    windowed_aggregates: DataFrame,
    expressions: dict[str, ExpressionFn],
    config: BaselineConfig,
    transport: Transport | None = None,
    checkpoint_dir: str | None = None,
):
    """Attach the hostgroup-publishing sink to a streaming aggregate
    (streaming_baseline_aggregate output: window_start, network,
    samples, metric columns). Returns the DataStreamWriter — caller
    picks the trigger and starts it."""
    sink = HostgroupSink(
        config.api_base_url, (config.api_user, config.api_password), transport
    )
    high_water: list = [None]  # newest window_start already published

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        latest = batch_df.agg(F.max("window_start").alias("w")).first()["w"]
        if latest is None:
            return
        if high_water[0] is not None and latest <= high_water[0]:
            return  # late-finalized old window; never regress
        high_water[0] = latest
        current = batch_df.where(F.col("window_start") == latest)
        groups = hostgroup_rows(with_hostgroup_columns(current, expressions))
        sink.publish(groups, [], remove_existing=False)

    writer = (
        windowed_aggregates.writeStream.foreachBatch(handle)
        .outputMode("append")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
