"""Numeric hash-argument parity (rounds 9-10): CH hashes numeric
arguments through IntHash64Impl for use_int_hash_for_pods functions
(cityHash64) and over the native LE layout for the rest of the
byte-exact family; the engine resolves arguments through the CH SQL
compiler's HashArg markers (literal / bare column / probe-analyzed
computed expression). Rings of evidence:

1. Spark end-to-end == Python models over every supported dtype
   (bigint/int/double/date/timestamp), including negatives, -0.0,
   and the 2^63 straddle.
2. The DuckDB u64-mode emitters == the Python models over random
   64-bit values (the oracle ring for the driver probe).
3. Computed numeric EXPRESSIONS hash their CH layout via the probe
   frame (round 10); toString() opts back into the text rendering; a
   string LITERAL that equals a column name hashes its TEXT (the
   repr-sniffing collision ADVICE r9 flagged).
"""

from __future__ import annotations

import datetime
import random
import struct

import duckdb
import pytest

from baseline_magician_spark.functions.cityhash import (
    _hl16_py,
    _sl,
    city_hash64_py,
)
from baseline_magician_spark.functions.hash_numeric import (
    IntHash64Emitter,
    MurmurU64Emitter,
    SipU64Emitter,
    XxU64Emitter,
)
from baseline_magician_spark.functions.hashing import int_hash64_py
from baseline_magician_spark.functions.murmur import (
    murmur2_64_py,
    murmur3_32_py,
)
from baseline_magician_spark.functions.siphash import sip_hash64_py
from baseline_magician_spark.functions.xxhash import xxh32_py, xxh64_py
from baseline_magician_spark.plans.ch_sql import run_ch_query

_EPOCH = datetime.date(1970, 1, 1)

ROWS = [
    (
        0,
        -1,
        123456789,
        3.5,
        -0.0,
        datetime.date(2024, 5, 17),
        datetime.datetime(2021, 3, 4, 5, 6, 7),
    ),
    (
        7,
        2**62 + 1234567,
        -987654321,
        -123.456e30,
        1.0,
        _EPOCH,
        datetime.datetime(1970, 1, 1, 0, 0, 1),
    ),
    (
        -(2**63),
        2**63 - 1,
        -1,
        float("inf"),
        5e-324,
        datetime.date(2149, 6, 6),
        datetime.datetime(2106, 2, 7, 6, 28, 15),
    ),
]

def _city_numeric_py(b: bytes) -> int:
    """CH cityHash64 over a numeric argument: IntHash64Impl of the
    zero-extended bit pattern (use_int_hash_for_pods) — the LE bytes
    only define the value."""
    return int_hash64_py(int.from_bytes(b, "little"))


_FNS = [
    ("cityHash64", _city_numeric_py, True),
    ("sipHash64", sip_hash64_py, True),
    ("xxHash64", xxh64_py, True),
    ("murmurHash2_64", murmur2_64_py, True),
    ("xxHash32", xxh32_py, False),
    ("murmurHash3_32", murmur3_32_py, False),
]


def _le8(v: int) -> bytes:
    return struct.pack("<Q", v & (2**64 - 1))


def _le4(v: int) -> bytes:
    return struct.pack("<I", v & (2**32 - 1))


@pytest.fixture(scope="module")
def tabs(spark):
    df = spark.createDataFrame(
        ROWS,
        "lg long, lg2 long, iv int, dv double, dv2 double, "
        "dt date, ts timestamp",
    )
    return {"t": df}


def _vals(tabs, sql):
    return [r[0] for r in run_ch_query(sql, tabs).collect()]


def test_spark_numeric_layouts_match_models(tabs):
    for fn, model, sgn in _FNS:
        w = (lambda x: _sl(x)) if sgn else (lambda x: x)
        for col, enc in [
            ("lg", lambda r: _le8(r[0])),
            ("lg2", lambda r: _le8(r[1])),
            ("iv", lambda r: _le4(r[2])),
            ("dv", lambda r: struct.pack("<d", r[3])),
            ("dv2", lambda r: struct.pack("<d", r[4])),
            ("dt", lambda r: struct.pack("<H", (r[5] - _EPOCH).days)),
            (
                "ts",
                lambda r: _le4(
                    int(
                        r[6]
                        .replace(tzinfo=datetime.timezone.utc)
                        .timestamp()
                    )
                ),
            ),
        ]:
            got = _vals(tabs, f"SELECT {fn}({col}) AS r FROM t")
            want = [w(model(enc(r))) for r in ROWS]
            assert got == want, (fn, col)


def test_computed_expressions_hash_ch_layouts(tabs):
    # round 10: a computed numeric expression types through the
    # zero-row probe frame, so lg + 0 hashes exactly like the bare
    # Int64 column — IntHash64Impl for city, LE bytes for xx
    got = _vals(tabs, "SELECT cityHash64(lg + 0) AS r FROM t")
    want = [_sl(int_hash64_py(r[0] & (2**64 - 1))) for r in ROWS]
    assert got == want
    gotx = _vals(tabs, "SELECT xxHash64(lg + 0) AS r FROM t")
    assert gotx == [_sl(xxh64_py(_le8(r[0]))) for r in ROWS]
    # toString() opts back into the text rendering explicitly
    gots = _vals(tabs, "SELECT cityHash64(toString(lg)) AS r FROM t")
    assert gots == [
        _sl(city_hash64_py(str(r[0]).encode())) for r in ROWS
    ]


def test_string_literal_equal_to_column_name_hashes_text(tabs):
    # ADVICE r9: F.lit('lg') prints exactly like F.col('lg'); the
    # AST-level HashArg marker must keep the LITERAL on the text path
    got = _vals(tabs, "SELECT cityHash64('lg') AS r FROM t")
    assert got == [_sl(city_hash64_py(b"lg"))] * len(ROWS)
    gotx = _vals(tabs, "SELECT xxHash64('lg') AS r FROM t")
    assert gotx == [_sl(xxh64_py(b"lg"))] * len(ROWS)


def test_mixed_multiarg_combines_numeric_bytes(tabs):
    got = _vals(tabs, "SELECT cityHash64(lg, 'x') AS r FROM t")
    want = [
        _sl(
            _hl16_py(
                int_hash64_py(r[0] & (2**64 - 1)),
                city_hash64_py(b"x"),
            )
        )
        for r in ROWS
    ]
    assert got == want


def test_null_numeric_hashes_to_null(spark):
    df = spark.createDataFrame([(None,)], "lg long")
    got = _vals({"t": df}, "SELECT xxHash64(lg) AS r FROM t")
    assert got == [None]


def test_property_random_bigints_match_models(spark):
    """Property ring: batches of random int64 values (full signed
    range) through the CH SQL surface vs the Python byte models —
    one Spark job per batch, every family plus a two-arg combine."""
    import random

    from baseline_magician_spark.functions.cityhash import _hl16_py

    rng = random.Random(23)
    for _round in range(4):
        vals = [
            rng.randrange(-(2**63), 2**63) for _ in range(16)
        ] + [0, -1, 2**63 - 1, -(2**63)]
        df = spark.createDataFrame([(v,) for v in vals], "lg long")
        rows = run_ch_query(
            "SELECT lg, cityHash64(lg) AS city, sipHash64(lg) AS sip,"
            " xxHash64(lg) AS x64, murmurHash2_64(lg) AS m2,"
            " xxHash32(lg) AS x32, murmurHash3_32(lg) AS m3,"
            " cityHash64(lg, lg) AS cc, xxHash64(lg, lg) AS xc"
            " FROM t",
            {"t": df},
        ).collect()
        got = {r["lg"]: r for r in rows}
        for v in vals:
            b = _le8(v)
            u = v & (2**64 - 1)
            r = got[v]
            assert r["city"] == _sl(int_hash64_py(u)), v
            assert r["sip"] == _sl(sip_hash64_py(b)), v
            assert r["x64"] == _sl(xxh64_py(b)), v
            assert r["m2"] == _sl(murmur2_64_py(b)), v
            assert r["x32"] == xxh32_py(b), v
            assert r["m3"] == murmur3_32_py(b), v
            h = int_hash64_py(u)
            assert r["cc"] == _sl(_hl16_py(h, h)), v
            x = xxh64_py(b)
            assert r["xc"] == _sl(_hl16_py(x, x)), v


def test_duckdb_u64_emitters_match_models():
    rng = random.Random(11)
    vals = [0, 1, 2**63, 2**64 - 1] + [
        rng.getrandbits(64) for _ in range(12)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE b1 AS SELECT CAST(v AS HUGEINT) AS u FROM "
        "(VALUES " + ", ".join(f"({v})" for v in vals) + ") t(v)"
    )

    def staged(em, h):
        prev = "b1"
        ctes = []
        for i, s in enumerate(em.steps):
            nm = f"{em.prefix}_s{i}"
            ctes.append(f"{nm} AS (SELECT *, {s} FROM {prev})")
            prev = nm
        sql = f"WITH {', '.join(ctes)} SELECT u, {h} FROM {prev}"
        return dict(con.execute(sql).fetchall())

    em = IntHash64Emitter("c")
    got = staged(em, em.int_hash64("u"))
    assert got == {v: int_hash64_py(v) for v in vals}

    em = SipU64Emitter("s")
    got = staged(em, em.chain("u", "8", 1))
    assert got == {v: sip_hash64_py(_le8(v)) for v in vals}

    em = XxU64Emitter("x")
    got = staged(em, em.xxh64_chain("u", "8", 0))
    assert got == {v: xxh64_py(_le8(v)) for v in vals}

    em = XxU64Emitter("y")
    got = staged(em, em.xxh32_chain("u", "8", 0))
    assert got == {v: xxh32_py(_le8(v)) for v in vals}

    em = MurmurU64Emitter("m")
    got = staged(em, em.m2_chain("u", "8", 1))
    assert got == {v: murmur2_64_py(_le8(v)) for v in vals}

    em = MurmurU64Emitter("n")
    got = staged(em, em.m3_chain("u", "8", 2))
    assert got == {v: murmur3_32_py(_le8(v)) for v in vals}


def test_table_qualified_column_hashes_numeric_layout(tabs):
    # cityHash64(t.lg) / xxHash64(t.lg) with a table qualifier
    # resolve the dtype by the bare suffix against the query env
    # (round 10; alias-qualified refs like "FROM t AS a ... a.lg"
    # are outside the dialect's resolver, unchanged)
    got = _vals(tabs, "SELECT cityHash64(t.lg) AS r FROM t")
    want = [_sl(int_hash64_py(r[0] & (2**64 - 1))) for r in ROWS]
    assert got == want
    gotx = _vals(tabs, "SELECT xxHash64(t.lg) AS r FROM t")
    assert gotx == [_sl(xxh64_py(_le8(r[0]))) for r in ROWS]
