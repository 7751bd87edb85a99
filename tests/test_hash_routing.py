"""Every numeric CH hash runs as one Arrow UDF over the hash_np kernels.

For numeric arguments the ten names whose builders go through
``ch_compat._np_hash_multi`` must plan exactly one ``ArrowEvalPython``
node; a string argument keeps the JVM expression rendering (no Python
node at all). The kernel boundary is Arrow, not pandas: pandas turns a
nullable int64 into float64, which corrupts values above 2^53.
"""

from __future__ import annotations

import os

import pytest

from baseline_magician_spark.plans.ch_sql import run_ch_query

NUMERIC_HASHES = (
    "cityHash64",
    "sipHash64",
    "xxHash64",
    "xxHash32",
    "murmurHash2_64",
    "murmurHash2_32",
    "murmurHash3_32",
    "murmurHash3_64",
    "gccMurmurHash",
    "kafkaMurmurHash",
)

CH_COMPAT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "baseline_magician_spark",
    "functions",
    "ch_compat.py",
)


@pytest.fixture(scope="module")
def tabs(spark):
    df = spark.createDataFrame(
        [(1, 2, 3.5, "a")], "xl bigint, xi int, xd double, xs string"
    )
    return {"t": df}


def _arrow_nodes(tabs, fn, col):
    df = run_ch_query(f"SELECT {fn}({col}) AS h FROM t", tabs)
    return df._jdf.queryExecution().executedPlan().toString().count(
        "ArrowEvalPython"
    )


@pytest.mark.parametrize("fn", NUMERIC_HASHES)
def test_numeric_argument_plans_one_arrow_udf(tabs, fn):
    for col in ("xl", "xi", "xd"):
        assert _arrow_nodes(tabs, fn, col) == 1, (fn, col)


@pytest.mark.parametrize("fn", NUMERIC_HASHES)
def test_string_argument_plans_no_python_node(tabs, fn):
    assert _arrow_nodes(tabs, fn, "xs") == 0, fn


def test_ch_compat_has_no_pandas_udf():
    with open(CH_COMPAT, encoding="utf-8") as f:
        assert "pandas_udf" not in f.read()
