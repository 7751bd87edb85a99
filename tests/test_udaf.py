"""The grouped-agg UDAFs (functions/udaf.py) give, bit for bit, what a
pandas Series computes from the same group: NULL reads as NaN, each sum
skips NaN terms, and an empty average is NaN. It reaches Spark as NaN,
never NULL; a pandas UDF's Arrow conversion read the body's NaN as
NULL."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from baseline_magician_spark.functions.udaf import geometric_mean, weighted_avg

NAN = float("nan")
ROWS = [
    (1, 1.5, 2.0), (1, 2.5, 1.0), (1, None, 3.0), (1, 4.0, None),
    (2, 1.0, None), (2, 2.0, None),  # all-NULL weights
    (3, NAN, 1.0), (3, 2.0, 1.0), (3, 8.0, NAN),  # NaN value and weight
    (4, -1.0, 1.0), (4, 0.0, 1.0), (4, -0.0, 2.0),  # no positive value
    (5, 0.1, 0.2), (5, 0.7, 0.3), (5, 1e-300, 1e300), (5, 3.0, -0.5),
    (6, 2.0, 1.0), (6, 1.0, -1.0),  # weights sum to 0
    (7, None, None),
]


def _pandas_weighted_avg(v: pd.Series, w: pd.Series) -> float:
    den = w.sum()
    if den == 0:
        return NAN
    return float((v * w).sum() / den)


def _pandas_geometric_mean(v: pd.Series) -> float:
    import numpy as np

    arr = v.to_numpy(dtype="float64")
    arr = arr[arr > 0]
    if arr.size == 0:
        return NAN
    return float(np.exp(np.log(arr).mean()))


def _bits(x):
    return None if x is None else float(x).hex()


@pytest.mark.parametrize("wtype", ["double", "int"])
def test_udafs_equal_the_pandas_series_results(spark, wtype):
    rows = ROWS if wtype == "double" else [
        (g, v, None if w is None or w != w else int(max(min(w, 9.0), -9.0)))
        for g, v, w in ROWS
    ]
    df = spark.createDataFrame(rows, f"g int, v double, w {wtype}")
    got = {
        r["g"]: (_bits(r["wavg"]), _bits(r["gmean"]))
        for r in df.groupBy("g")
        .agg(
            weighted_avg("v", "w").alias("wavg"),
            geometric_mean("v").alias("gmean"),
        )
        .collect()
    }
    want = {}
    for g in sorted({r[0] for r in rows}):
        v = pd.Series([r[1] for r in rows if r[0] == g], dtype="float64")
        w = pd.Series([r[2] for r in rows if r[0] == g], dtype="float64")
        want[g] = (
            _bits(_pandas_weighted_avg(v, w)),
            _bits(_pandas_geometric_mean(v)),
        )
    assert got == want
    assert math.isnan(float.fromhex(got[2][0]))  # all-NULL weights: NaN
