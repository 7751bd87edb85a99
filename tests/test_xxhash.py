"""Canonical XXH64 / XXH32 (seed 0, raw bytes): the strongest-
anchored hash family in the engine — the Python model must be
bit-identical to Spark's own JVM XXH64 (seed 42 over binary input:
an independent implementation of the same public spec), reproduce
the CH docs' own xxHash32 example, and match the published
empty-input digests; the dialect's xxHash64/xxHash32 (the Arrow hash
kernel over the model) and the DuckDB emitters are then pinned
against the model."""

from __future__ import annotations

import random

import duckdb
import pyspark.sql.functions as F

from baseline_magician_spark.functions.cityhash import _sl
from baseline_magician_spark.functions.xxhash import (
    XxEmitter,
    xxh32_py,
    xxh64_py,
)
from baseline_magician_spark.plans.ch_sql import run_ch_query

LENGTHS = list(range(0, 36)) + [48, 63, 64, 65, 96, 100, 128, 200]


def test_model_published_anchors():
    assert xxh64_py(b"") == 0xEF46DB3751D8E999
    assert xxh32_py(b"") == 0x02CC5D05
    # the ClickHouse documentation's own example value
    assert xxh32_py(b"Hello, world!") == 834093149


def test_model_matches_spark_jvm_xxh64(spark):
    rng = random.Random(31)
    cases = [
        bytes(rng.randint(0, 255) for _ in range(n)) for n in LENGTHS
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, b binary"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select(
            "i", F.xxhash64(F.col("b")).alias("h")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _sl(xxh64_py(c, seed=42)), len(c)


def test_spark_renderings_match_model(spark):
    rng = random.Random(7)
    cases = [
        "".join(chr(rng.randint(32, 126)) for _ in range(n))
        for n in LENGTHS
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i int, s string"
    )
    sel = run_ch_query(
        "SELECT i, xxHash64(s) AS h64, xxHash32(s) AS h32 FROM t",
        {"t": df},
    )
    got = {r["i"]: r for r in sel.collect()}
    for i, s in enumerate(cases):
        r = got[i]
        assert (r["h64"], r["h32"]) == (
            _sl(xxh64_py(s.encode())),
            xxh32_py(s.encode()),
        ), len(s)


def test_ch_sql_and_raw_bytes(spark):
    df = spark.createDataFrame([(1,)], "i long")
    tabs = {"t": df}

    def one(sql):
        return run_ch_query(sql, tabs).collect()[0][0]

    assert one("SELECT xxHash64('ClickHouse') AS r FROM t") == _sl(
        xxh64_py(b"ClickHouse")
    )
    assert one("SELECT xxHash32('Hello, world!') AS r FROM t") == (
        834093149
    )
    assert one("SELECT xxHash64(NULL) AS r FROM t") is None
    data = bytes([0, 255, 128, 7, 13, 10, 200, 66, 1, 99, 254])
    assert one(
        f"SELECT xxHash64(unhex('{data.hex().upper()}')) AS r FROM t"
    ) == _sl(xxh64_py(data))


def test_ch_sql_multiarg_combine(spark):
    """Multi-arg combines CH-style: xxHash32 rehashes the 8-byte LE
    pair of the per-arg hashes (combineHashesFunc), while xxHash64's
    ImplXxHash64::combineHashes is CityHash_v1_0_2::Hash128to64 of
    the two per-arg hashes (round 10 — the r9 pair-rehash model
    diverged from CH, ADVICE r9). Neither is the concatenated
    renderings, so ('ab','c') and ('a','bc') do not collide."""
    import struct

    from baseline_magician_spark.functions.cityhash import _hl16_py

    df = spark.createDataFrame([(1,)], "i long")
    tabs = {"t": df}

    def one(sql):
        return run_ch_query(sql, tabs).collect()[0][0]

    want64 = _sl(_hl16_py(xxh64_py(b"a"), xxh64_py(b"b")))
    assert one("SELECT xxHash64('a', 'b') AS r FROM t") == want64
    want32 = xxh32_py(
        struct.pack("<II", xxh32_py(b"a"), xxh32_py(b"b"))
    )
    assert one("SELECT xxHash32('a', 'b') AS r FROM t") == want32
    # three-arg left fold
    want3 = _sl(
        _hl16_py(
            _hl16_py(xxh64_py(b"a"), xxh64_py(b"b")),
            xxh64_py(b"c"),
        )
    )
    assert one("SELECT xxHash64('a', 'b', 'c') AS r FROM t") == want3
    assert one("SELECT xxHash64('ab', 'c') AS r FROM t") != one(
        "SELECT xxHash64('a', 'bc') AS r FROM t"
    )


def test_duckdb_emitters_match_model():
    con = duckdb.connect()
    rng = random.Random(21)

    def staged(em, sig):
        prev = "b0"
        ctes = []
        for i, st in enumerate(em.steps):
            nm = f"c{i}"
            ctes.append(f"{nm} AS (SELECT *, {st} FROM {prev})")
            prev = nm
        return (
            f"WITH b0 AS (SELECT ? AS e), {', '.join(ctes)} "
            f"SELECT {sig} FROM {prev}"
        )

    em64 = XxEmitter("q")
    sql64 = staged(
        em64, em64.signed64(em64.xxh64_dispatch("e", "length(e)", 79))
    )
    em32 = XxEmitter("r")
    sql32 = staged(
        em32, f"CAST({em32.xxh32_dispatch('e', 'length(e)', 79)} AS BIGINT)"
    )
    for n in list(range(0, 36)) + [48, 63, 64, 65, 79]:
        s = "".join(chr(rng.randint(32, 126)) for _ in range(n))
        assert con.execute(sql64, [s]).fetchone()[0] == _sl(
            xxh64_py(s.encode())
        ), n
        assert con.execute(sql32, [s]).fetchone()[0] == (
            xxh32_py(s.encode())
        ), n
