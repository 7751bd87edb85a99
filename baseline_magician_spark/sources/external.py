"""External (temporary) tables — SURVEY §2.1 S6.

The ClickHouse driver can ship named in-memory blocks with a query,
usable as tables inside it (ch/clickhouse_send_external_data.go:5-35,
bound per-statement ch/stmt.go:143-151). The Spark-native equivalent:
create a DataFrame from driver rows and register it as a temp view —
usable from SQL (`... WHERE x IN (SELECT v FROM ext)`) and, being
driver-small, broadcast by AQE in joins.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from ..local_frame import local_frame


def register_external_table(
    spark: SparkSession,
    name: str,
    rows: Iterable[tuple] | Iterable[dict],
    schema: str,
) -> DataFrame:
    """Register driver-side rows as temp view ``name``; returns the
    DataFrame. Schema is a DDL string ("id long, v string") — external
    blocks always declared their column types (block.go:68-78)."""
    df = local_frame(spark, list(rows), schema)
    df.createOrReplaceTempView(name)
    return df
