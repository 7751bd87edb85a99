"""User-defined AGGREGATE functions (SURVEY §2.10).

The reference's UDF surface is scalar-only (govaluate
ExpressionFunction, gov/expressionFunctions.go:1-9); UDAFs are ABSENT
there. This module supplies the Spark-idiomatic extension: grouped-agg
Arrow UDFs (one group's column as a ``pyarrow.Array`` -> scalar),
registered into the same CH-dialect function registry the SQL front end
resolves, so a user can call them from query text exactly like
built-in aggregates.

NULL contract (a pandas Series' sums, kept): NULL reads as NaN, and
each sum skips its NaN terms, so a NULL value drops out of the
numerator while its weight stays in the denominator. A group whose
weights sum to 0 (all NULL included) or that has no positive value
gives NaN, never NULL.

Construction is lazy and UNCACHED: calling the ``arrow_udf`` wrapper
needs an active SparkContext, and a cached wrapper would pin a stale
JVM handle across a session restart. Building the wrapper is
registration metadata only — negligible per query build. The bodies
are nested functions, so they pickle by value and a worker needs no
copy of this package to run them.

Scale note: a grouped-agg Arrow UDF executes AFTER the shuffle on the
group key, with the whole group in one Arrow array — partial
aggregation cannot be pushed map-side the way built-in aggregates are.
That is the inherent UDAF cost on any engine; keep them for semantics
built-ins can't express (here: a weighted mean whose weight is a second
column).
"""

# NO `from __future__ import annotations` here: arrow_udf reads the
# inner functions' type hints (pa.Array, ... -> float means grouped-agg)
# at definition time.
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql.types import DoubleType


def _weighted_avg_udf():
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(DoubleType())
    def weighted_avg(v: pa.Array, w: pa.Array) -> float:
        import numpy as np

        # float64 with NULL as NaN; nansum skips both (a zero sum for
        # an all-NULL group) and sums pairwise, as a pandas Series does
        v = v.cast(pa.float64(), safe=False).to_numpy(zero_copy_only=False)
        w = w.cast(pa.float64(), safe=False).to_numpy(zero_copy_only=False)
        den = np.nansum(w)
        if den == 0:
            return float("nan")
        return float(np.nansum(v * w) / den)

    return weighted_avg


def _geometric_mean_udf():
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(DoubleType())
    def geometric_mean(v: pa.Array) -> float:
        import numpy as np

        arr = v.cast(pa.float64(), safe=False).to_numpy(zero_copy_only=False)
        arr = arr[arr > 0]  # drops NULL (NaN) too
        if arr.size == 0:
            return float("nan")
        return float(np.exp(np.log(arr).mean()))

    return geometric_mean


def weighted_avg(v, w) -> Column:
    """sum(v*w)/sum(w) over the group — Arrow-batched, vectorized."""
    return _weighted_avg_udf()(v, w)


def geometric_mean(v) -> Column:
    """exp(mean(ln v)) over the group (positive values only)."""
    return _geometric_mean_udf()(v)


UDAF_FUNCTIONS = {
    "weightedAvg": weighted_avg,
    "geometricMean": geometric_mean,
}
