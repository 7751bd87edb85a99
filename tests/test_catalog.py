"""catalog.load_table remembers the parquet schema Spark inferred for a
table file, so a table the build has already read costs no Spark job.
The memo must never outlive the file it describes or the application
that inferred it, and a warm load must read exactly what an uncached
read does."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from baseline_magician_spark import catalog
from baseline_magician_spark.control import job_group
from baseline_magician_spark.registry import get_queries

from conftest import SF_SMOKE

_GROUPS = itertools.count()


def _jobs(spark, build) -> int:
    """Spark jobs launched while ``build()`` runs."""
    group = f"test-catalog-{next(_GROUPS)}"
    with job_group(spark, group):
        build()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_warm_rebuild_of_single_table_query_launches_no_job(spark):
    build = get_queries()["ch_sql_window_topn"]
    build(spark, SF_SMOKE)  # the first load in the application infers
    assert _jobs(spark, lambda: build(spark, SF_SMOKE)) == 0


def test_rewritten_table_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": pa.array([1, 2], pa.int64()), "r_name": ["A", "B"]}),
        path,
    )
    first = catalog.load_table(spark, str(tmp_path), "region")
    assert first.dtypes == [("r_regionkey", "bigint"), ("r_name", "string")]
    # the warm path, before the file changes
    assert _jobs(spark, lambda: catalog.load_table(spark, str(tmp_path), "region")) == 0

    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([1.5, 2.5, 3.5], pa.float64()),
                "r_name": ["C", "D", "E"],
                "r_comment": ["x", "y", "z"],
            }
        ),
        path,
    )
    df = catalog.load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [
        ("r_regionkey", "double"),
        ("r_name", "string"),
        ("r_comment", "string"),
    ]
    assert _rows(df) == [("1.5", "C", "x"), ("2.5", "D", "y"), ("3.5", "E", "z")]


def test_directory_path_is_not_memoized(spark, tmp_path):
    (tmp_path / "nation.parquet").mkdir()
    pq.write_table(pa.table({"n": [1]}), tmp_path / "nation.parquet" / "a.parquet")
    catalog.load_table(spark, str(tmp_path), "nation")
    assert not [k for k in catalog._SCHEMAS if k[1].startswith(str(tmp_path))]


def _ns_events(tmp_path) -> str:
    """The smoke events table with ``ts`` as TIMESTAMP(NANOS)."""
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet", version="2.6")
    return str(tmp_path)


@pytest.mark.parametrize("source", ["smoke", "nanos"])
def test_memoized_events_load_equals_uncached_read(spark, tmp_path, source):
    sf_dir = SF_SMOKE if source == "smoke" else _ns_events(tmp_path)
    path = f"{sf_dir}/events.parquet"
    catalog.load_table(spark, sf_dir, "events")
    app_id = spark.sparkContext.applicationId
    assert catalog._file_key(app_id, path) in catalog._SCHEMAS
    memoized = catalog.load_table(spark, sf_dir, "events")

    uncached = spark.read.parquet(path)
    if source == "nanos":
        assert dict(uncached.dtypes)["ts"] == "bigint"
        uncached = uncached.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    assert memoized.schema == uncached.schema
    # the JVM's own view, not the schema load_table filled in
    assert memoized.select("*").schema == uncached.schema
    assert _rows(memoized) == _rows(uncached)


def test_another_application_infers_again(spark, monkeypatch):
    catalog.load_table(spark, SF_SMOKE, "nation")
    assert _jobs(spark, lambda: catalog.load_table(spark, SF_SMOKE, "nation")) == 0
    sc_type = type(spark.sparkContext)
    other = f"{spark.sparkContext.applicationId}-next"
    monkeypatch.setattr(sc_type, "applicationId", property(lambda self: other))
    assert _jobs(spark, lambda: catalog.load_table(spark, SF_SMOKE, "nation")) == 1
    assert catalog._file_key(other, f"{SF_SMOKE}/nation.parquet") in catalog._SCHEMAS
    monkeypatch.undo()
    for k in [k for k in catalog._SCHEMAS if k[0] == other]:
        del catalog._SCHEMAS[k]
    catalog._SESSION_CONFED.discard(other)
