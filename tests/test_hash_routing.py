"""Every CH hash runs as one Arrow UDF: for string, numeric and mixed
arguments each of the 14 names plans exactly one ``ArrowEvalPython``
node over functions/hash_np.hash_arrow. The kernel boundary is Arrow,
not pandas: pandas turns a nullable int64 into float64, which corrupts
values above 2^53.
"""

from __future__ import annotations

import os

import pytest

from baseline_magician_spark.plans.ch_sql import run_ch_query

MULTI_ARG = (
    "cityHash64",
    "sipHash64",
    "xxHash64",
    "xxHash32",
    "murmurHash2_64",
    "murmurHash2_32",
    "murmurHash3_32",
    "murmurHash3_64",
    "murmurHash3_128",
    "gccMurmurHash",
    "kafkaMurmurHash",
)
HASHES = MULTI_ARG + ("URLHash", "intHash64", "intHash32")

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


def _arrow_nodes(tabs, fn, args):
    df = run_ch_query(f"SELECT {fn}({args}) AS h FROM t", tabs)
    return df._jdf.queryExecution().executedPlan().toString().count(
        "ArrowEvalPython"
    )


@pytest.mark.parametrize("fn", HASHES)
def test_numeric_argument_plans_one_arrow_udf(tabs, fn):
    for col in ("xl", "xi", "xd"):
        assert _arrow_nodes(tabs, fn, col) == 1, (fn, col)


@pytest.mark.parametrize("fn", HASHES)
def test_string_argument_plans_one_arrow_udf(tabs, fn):
    assert _arrow_nodes(tabs, fn, "xs") == 1, fn


@pytest.mark.parametrize("fn", MULTI_ARG)
def test_mixed_arguments_plan_one_arrow_udf(tabs, fn):
    assert _arrow_nodes(tabs, fn, "xs, xl, 'lit', xd") == 1, fn


def test_ch_compat_has_no_pandas_udf():
    with open(CH_COMPAT, encoding="utf-8") as f:
        assert "pandas_udf" not in f.read()
