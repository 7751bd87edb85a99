"""Driver-side values as a ``LocalRelation`` — the one place the engine
calls ``createDataFrame``.

``createDataFrame(list)`` ships pickled rows through ``sc.parallelize``:
the plan gets a ``LogicalRDD`` with ``defaultParallelism`` slices, and
every slice is deserialized by a Python worker when the plan runs (a
16-row networks list became 16 Python tasks at ``local[16]``). Handing
PySpark a ``pyarrow.Table`` instead makes the JVM read one Arrow stream
into a ``LocalRelation``: no Python worker, no RDD, and Catalyst sees
the rows as a local table it can broadcast or fold.

The table is built against the declared schema, never inferred and never
through pandas (a nullable int64 becomes float64 there, which loses
integers above 2^53). The Arrow-table path ignores
``spark.sql.execution.arrow.pyspark.enabled`` and has no pickled
fallback, so it behaves the same on a session with no custom conf.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType, _make_type_verifier

Schema = str | StructType


def _struct_schema(spark: SparkSession, schema: Schema) -> StructType:
    """A DDL string ("id long, v string") or StructType as a StructType."""
    if isinstance(schema, StructType):
        return schema
    parsed = spark._parse_ddl(schema)
    if not isinstance(parsed, StructType):
        raise TypeError(f"schema {schema!r} is not a struct type")
    return parsed


def _timestamp_micros(v: object) -> int | None:
    # the pickled path's conversion: a naive datetime is local wall time
    return None if v is None else TimestampType().toInternal(v)  # type: ignore[arg-type]


def columns_frame(
    spark: SparkSession, columns: Sequence[object], schema: Schema
) -> DataFrame:
    """A DataFrame from one array-like per schema field (numpy arrays or
    lists), converted to each field's Arrow type. Numpy arrays convert
    with Arrow's safe casts; lists are not type-checked here (Arrow
    truncates 1.5 into an int64), so rows go through ``local_frame``."""
    struct = _struct_schema(spark, schema)
    if len(columns) != len(struct.fields):
        raise ValueError(
            f"{len(columns)} columns for {len(struct.fields)} schema fields"
        )
    arrow_schema = to_arrow_schema(struct)
    # every column keeps one chunk, even when empty: PySpark rejects a
    # zero-chunk array or map column (ArrowInvalid) while localizing
    # timestamps
    arrays = [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence[object] | dict[str, object]],
    schema: Schema,
) -> DataFrame:
    """A DataFrame from driver rows: tuples (positional) or dicts (by
    field name), checked against the schema the way ``createDataFrame``
    checks pickled rows, so a value that does not fit raises."""
    struct = _struct_schema(spark, schema)
    rows = list(rows)
    verify = _make_type_verifier(struct)
    for row in rows:
        verify(row)
    names = struct.fieldNames()
    columns: list[list[object]] = [[] for _ in names]
    for row in rows:
        values = [row.get(n) for n in names] if isinstance(row, dict) else row
        for col, v in zip(columns, values):
            col.append(v)
    for i, f in enumerate(struct.fields):
        if isinstance(f.dataType, TimestampType):
            columns[i] = [_timestamp_micros(v) for v in columns[i]]
    return columns_frame(spark, columns, struct)

