"""The package's one Python stage shape: a single ``mapInArrow`` whose
per-batch body reads and writes Arrow arrays.

Every operator that runs Python over rows (the media, similarity,
dedup and CDC kernels) builds its stage here: this is the only module
that calls ``mapInArrow``, and it ships the package to the workers,
declares the Arrow output schema and skips empty batches for all of
them. No pandas sits in between: a nullable bigint stays int64 (pandas
carries it as float64 and rounds it above 2^53), a NaN stays NaN
(pandas' Arrow conversion reads it as NULL), and id and passthrough
columns leave the stage as the Arrow arrays they arrived as.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..pyship import ensure_shipped


def arrow_stage(
    df: DataFrame,
    name: str,
    schema: T.StructType,
    body: Callable[[pa.RecordBatch], Sequence],
    nonnull: Sequence[str] = (),
    cols: Sequence[str] = (),
) -> DataFrame:
    """One ``mapInArrow`` over ``df`` (only its ``cols`` when given)
    whose ``body`` maps each non-empty Arrow batch to the columns of
    ``schema``, as Arrow arrays or anything ``pa.array`` converts to
    the declared type; the output may have any number of rows. A NULL
    in a ``nonnull`` column raises ``ValueError`` naming ``name``.
    Every other NULL is the body's to read: each caller states its own
    NULL contract."""
    ensure_shipped(df.sparkSession)
    out = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            for c in nonnull:
                if nulls := batch.column(c).null_count:
                    raise ValueError(
                        f"{name}: {c} is NULL in {nulls} row(s); {name} "
                        f"reads every row's {c}, and NULL is not empty"
                    )
            arrays = body(batch)
            yield pa.RecordBatch.from_arrays(
                [pa.array(a, type=f.type) for a, f in zip(arrays, out, strict=True)],
                schema=out,
            )

    return (df.select(*cols) if cols else df).mapInArrow(run, schema)
