"""Grouped-agg Arrow UDAF queries (SURVEY §2.10 — the surface the
reference lacks entirely; its UDF registry is scalar-only,
gov/expressionFunctions.go:1-9).

Both queries run the UDAF through the CH-dialect front end by NAME —
proving the registration path (functions/udaf.py -> CH_FUNCTIONS ->
run_ch_query) — and hash-match a plain-SQL recomputation. Weighted
mean uses an integer-derived weight so the oracle can rebuild it
exactly; rounding to 6 decimals absorbs summation-order jitter between
engines (both sums are ~1e5 doubles, relative error ~1e-12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.udaf import weighted_avg
from ..registry import query

_WAVG_SQL = """
SELECT event_type,
       round(weightedAvg(value, toFloat64(modulo(user_id, 7) + 1)), 6)
  AS wavg_value
FROM fastnetmon.events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "udaf_weighted_mean",
    """
    SELECT event_type,
           round(sum(value * CAST(user_id % 7 + 1 AS DOUBLE))
                 / sum(CAST(user_id % 7 + 1 AS DOUBLE)), 6) AS wavg_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weightedAvg(v, w) called from CH-dialect SQL text. The weight is
    ``user_id % 7 + 1`` spelled via the CH ``modulo()`` function (the
    dialect grammar has no ``%`` operator, mirroring the reference's
    generated SQL which never emits one)."""
    from ..plans.ch_sql import run_ch_query

    return run_ch_query(_WAVG_SQL, {"events": load_table(spark, sf_dir, "events")})


@query(
    "udaf_weighted_mean_df",
    """
    SELECT event_type,
           round(sum(value * CAST(user_id % 7 + 1 AS DOUBLE))
                 / sum(CAST(user_id % 7 + 1 AS DOUBLE)), 6) AS wavg_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def udaf_weighted_mean_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same UDAF through the DataFrame API directly (the programmatic
    registration surface)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "w", (F.col("user_id") % 7 + 1).cast("double")
    )
    return (
        ev.groupBy("event_type")
        .agg(F.round(weighted_avg("value", "w"), 6).alias("wavg_value"))
        .orderBy("event_type")
    )
