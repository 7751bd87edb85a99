"""local_frame: driver rows become a LocalRelation with the declared
schema and exactly the values given — checked against a pure-Python
model of what the rows mean, on adversarial values."""

from __future__ import annotations

import datetime
import math
import re
import struct
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

SCHEMA = "id long, name string, score double, vec array<float>, flag boolean"


def f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def model(rows, names, floats=()):
    """What collecting the frame must give: tuples in field order (dict
    rows by name), float32 fields rounded the way Spark stores them."""
    out = []
    for row in rows:
        vals = [row.get(n) for n in names] if isinstance(row, dict) else list(row)
        for i in floats:
            if vals[i] is not None:
                vals[i] = [None if v is None else f32(v) for v in vals[i]]
        out.append(tuple(vals))
    return out


def collected(df):
    return [tuple(r) for r in df.collect()]


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


ADVERSARIAL = [
    (2**53 + 1, "😀 non-BMP \U0001f600", -0.0, [1.1, None, -2.5], True),
    (None, None, None, None, None),
    (-(2**63), "", float("inf"), [], False),
    (2**63 - 1, "x", 1e-300, [3.4e38], None),
]


def test_declared_schema_and_values_exact(spark):
    from baseline_magician_spark.local_frame import local_frame

    df = local_frame(spark, ADVERSARIAL, SCHEMA)
    declared = spark._parse_ddl(SCHEMA)
    # the JVM's schema, not the Python-side copy the frame carries
    assert df.select("*").schema == declared
    assert collected(df) == model(ADVERSARIAL, declared.fieldNames(), floats=(3,))
    assert "LocalTableScan" in plan_of(df)
    assert "ExistingRDD" not in plan_of(df)


def test_int64_above_2_53_next_to_nulls_stays_integral(spark):
    from baseline_magician_spark.local_frame import local_frame

    rows = [(2**53 + 1,), (None,), (2**62 + 3,), (None,), (-(2**53) - 1,)]
    df = local_frame(spark, rows, "v long")
    assert df.select("*").schema["v"].dataType.simpleString() == "bigint"
    got = collected(df)
    assert got == rows
    assert all(isinstance(v, int) for (v,) in got if v is not None)


def test_nan_and_negative_zero(spark):
    from baseline_magician_spark.local_frame import local_frame

    (nan,), (neg,) = collected(local_frame(spark, [(float("nan"),), (-0.0,)], "v double"))
    assert math.isnan(nan)
    assert math.copysign(1.0, neg) == -1.0


def test_empty_rows_keep_the_schema(spark):
    from baseline_magician_spark.local_frame import local_frame

    # nested columns too: an empty frame must not be a zero-chunk table
    ddl = "a string, b array<float>, c map<string,bigint>, d timestamp"
    df = local_frame(spark, [], ddl)
    assert df.select("*").schema == spark._parse_ddl(ddl)
    assert df.collect() == []
    assert "LocalTableScan" in plan_of(df)


def test_tuple_and_dict_rows(spark):
    from baseline_magician_spark.local_frame import local_frame

    tuples = [(1, "a"), (2, None)]
    dicts = [{"v": "a", "id": 1}, {"id": 2}]
    assert collected(local_frame(spark, tuples, "id long, v string")) == tuples
    assert collected(local_frame(spark, dicts, "id long, v string")) == model(
        dicts, ["id", "v"]
    )


def test_naive_timestamps_keep_their_values(spark):
    from baseline_magician_spark.local_frame import local_frame

    rows = [
        (datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),),
        (None,),
        (datetime.datetime(1969, 12, 31, 23, 59, 59),),
    ]
    assert collected(local_frame(spark, rows, "t timestamp")) == rows


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(1.5,)], "v long"),
        ([("7",)], "v int"),
        ([(2**63,)], "v long"),
        ([(1,)], "v string"),
        ([(True,)], "v long"),
        ([(1, 2)], "v long"),
    ],
)
def test_value_that_does_not_fit_raises(spark, rows, ddl):
    from baseline_magician_spark.local_frame import local_frame

    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, ddl)


def test_needs_no_arrow_conf(spark):
    """A session built with no custom conf has Arrow off; the helper must
    not depend on it (and must not fall back to pickled rows)."""
    from baseline_magician_spark.local_frame import local_frame

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, "a")], "id long, v string")
        assert collected(df) == [(1, "a")]
        assert "LocalTableScan" in plan_of(df)
    finally:
        spark.conf.set(key, old)


def test_columns_frame_from_numpy(spark):
    import numpy as np

    from baseline_magician_spark.local_frame import columns_frame

    a = np.array([2**53 + 1, -5, 0], dtype=np.int64)
    df = columns_frame(spark, [a, a[::-1]], "node long, cluster_id long")
    assert collected(df) == [(2**53 + 1, 0), (-5, -5), (0, 2**53 + 1)]


def test_ipv6_only_networks_give_no_hostgroups(spark):
    from baseline_magician_spark.config import BaselineConfig
    from baseline_magician_spark.job import run_baseline_job
    from baseline_magician_spark.local_frame import local_frame
    from pyspark.sql import functions as F

    metrics = local_frame(
        spark,
        [("10.0.0.1", datetime.datetime(2024, 1, 1), 5)],
        "host string, metricDateTime timestamp, packets_incoming long",
    )
    groups = run_baseline_job(
        spark,
        BaselineConfig(),
        metrics,
        cli_networks_list="2001:db8::/32,fd00::/8",
        metric_cols=("packets_incoming",),
        now=F.lit(datetime.datetime(2024, 1, 2)),
        publish=False,
    )
    assert groups == []


def test_job_plan_broadcasts_a_local_table(spark):
    """The job's networks dimension is a LocalTableScan under the
    broadcast: no pickled Python RDD anywhere in the executed plan."""
    from baseline_magician_spark.config import BaselineConfig
    from baseline_magician_spark.plans.baseline import (
        compile_channel_expressions,
        generate_hostgroups,
        networks_dataframe,
    )
    from baseline_magician_spark.queries.baseline_q import METRIC_COLS, events_as_host_metrics
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    config = BaselineConfig(
        generate_incoming_packet_threshold=True, incoming_packet_expression="value * 2"
    )
    df = generate_hostgroups(
        events_as_host_metrics(spark, SF_SMOKE),
        networks_dataframe(spark, ["10.0.0.0/18", "10.1.0.0/16"]),
        compile_channel_expressions(config.channel_expressions()),
        config,
        metric_cols=METRIC_COLS,
        now=F.col("now_ts"),  # test data is historical; anchor the window
    )
    df.collect()
    plan = plan_of(df)
    assert re.search(r"BroadcastExchange[^\n]*\n\s*\+- LocalTableScan \[network", plan), plan
    assert "ExistingRDD" not in plan


def test_create_dataframe_only_in_the_helper():
    """Every DataFrame built from driver values goes through local_frame."""
    pkg = REPO / "baseline_magician_spark"
    offenders = [
        f"{p.relative_to(REPO)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "local_frame.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert not offenders, offenders


def python_rdd_leaves(df) -> list[str]:
    """Lineages of the analyzed plan's LogicalRDD leaves that parallelize
    driver-side Python data. A LogicalRDD over a materialized local
    checkpoint (ch_sql's recursive CTE rounds) holds no Python data."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            lineage = leaf.rdd().toDebugString()
            if "PythonRDD" in lineage or "ParallelCollectionRDD" in lineage:
                out.append(lineage)
    return out


def test_job_and_registered_queries_plan_no_python_rdd(spark, monkeypatch):
    """Driver values reach every plan as a LocalRelation: neither
    run_baseline_job's result nor any registered query, built without
    being materialized, reads a parallelized Python list."""
    from baseline_magician_spark import job
    from baseline_magician_spark.config import BaselineConfig
    from baseline_magician_spark.queries.baseline_q import METRIC_COLS, events_as_host_metrics
    from baseline_magician_spark.registry import get_queries
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    assert python_rdd_leaves(spark.sparkContext.parallelize([(1,)]).toDF(["a"]))
    results = []
    monkeypatch.setattr(job, "hostgroup_rows", lambda df: results.append(df) or [])
    config = BaselineConfig(
        generate_incoming_packet_threshold=True, incoming_packet_expression="value * 2"
    )
    job.run_baseline_job(
        spark, config, events_as_host_metrics(spark, SF_SMOKE),
        cli_networks_list="10.0.0.0/18,10.1.0.0/16", metric_cols=METRIC_COLS,
        now=F.col("now_ts"), publish=False,
    )
    assert len(results) == 1
    frames = {"run_baseline_job": results[0]}
    for name, build in get_queries().items():
        frames[name] = build(spark, SF_SMOKE)
    assert len(frames) > 200
    offenders = sorted(n for n, df in frames.items() if python_rdd_leaves(df))
    assert not offenders, offenders
