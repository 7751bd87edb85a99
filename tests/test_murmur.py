"""Canonical MurmurHash64A + MurmurHash3 x86_32 (seed 0): the Python
models anchor to published canonical values (m3('hello') and
m3('test') are the smhasher-verified constants every public
implementation reproduces) and, for murmur3's word path, to Spark's
own JVM Murmur3_x86_32 (canonical for 4-byte-aligned inputs; its tail
handling deviates, ours must not). The dialect's murmurHash2_64 and
murmurHash3_32 (the Arrow hash kernel over the models) and the DuckDB
emitters are pinned bit-for-bit against the models."""

from __future__ import annotations

import random
import struct

import duckdb
from baseline_magician_spark.functions.cityhash import _sl
from baseline_magician_spark.functions.murmur import (
    MurmurEmitter,
    murmur2_64_py,
    murmur3_32_py,
)
from baseline_magician_spark.plans.ch_sql import run_ch_query

CASES = [
    b"",
    b"a",
    b"ab",
    b"abc",
    b"abcd",
    b"hello",
    b"1234567",
    b"12345678",
    b"123456789",
    b"x" * 15,
    b"y" * 16,
    b"z" * 17,
    b"q" * 31,
    b"r" * 32,
    b"s" * 33,
    bytes(range(32, 127)),
]


def test_murmur3_model_canonical_values():
    assert murmur3_32_py(b"") == 0
    assert murmur3_32_py(b"hello") == 613153351
    assert murmur3_32_py(b"test") == 0xBA6BD213


def test_murmur3_word_path_matches_spark_jvm(spark):
    jvm = spark.sparkContext._jvm
    M = jvm.org.apache.spark.unsafe.hash.Murmur3_x86_32
    for s in ("abcd", "12345678", "abcdefghijkl", "0123456789abcdef"):
        u = jvm.org.apache.spark.unsafe.types.UTF8String.fromString(s)
        got = (
            M.hashUnsafeBytes(
                u.getBaseObject(), u.getBaseOffset(), u.numBytes(), 0
            )
            & 0xFFFFFFFF
        )
        assert got == murmur3_32_py(s.encode()), s


def test_spark_renderings_match_models(spark):
    df = spark.createDataFrame(
        [(i, c.decode("ascii")) for i, c in enumerate(CASES)],
        "i int, s string",
    )
    sel = run_ch_query(
        "SELECT i, murmurHash2_64(s) AS m2, murmurHash3_32(s) AS m3 FROM t",
        {"t": df},
    )
    got = {r["i"]: r for r in sel.collect()}
    for i, c in enumerate(CASES):
        r = got[i]
        assert (r["m2"], r["m3"]) == (
            _sl(murmur2_64_py(c)),
            murmur3_32_py(c),
        ), (i, len(c))


def test_ch_sql_and_multiarg_combine(spark):
    df = spark.createDataFrame([(1,)], "i long")
    tabs = {"t": df}

    def one(sql):
        return run_ch_query(sql, tabs).collect()[0][0]

    assert one("SELECT murmurHash2_64('hello') AS r FROM t") == _sl(
        murmur2_64_py(b"hello")
    )
    assert one("SELECT murmurHash3_32('hello') AS r FROM t") == (
        murmur3_32_py(b"hello")
    )
    assert one("SELECT murmurHash3_32(NULL) AS r FROM t") is None
    # multi-arg: hash of the LE pair of the two per-arg hashes
    want2 = _sl(
        murmur2_64_py(
            struct.pack(
                "<QQ", murmur2_64_py(b"a"), murmur2_64_py(b"b")
            )
        )
    )
    assert one("SELECT murmurHash2_64('a', 'b') AS r FROM t") == want2
    want3 = murmur3_32_py(
        struct.pack("<II", murmur3_32_py(b"a"), murmur3_32_py(b"b"))
    )
    assert one("SELECT murmurHash3_32('a', 'b') AS r FROM t") == want3


def test_duckdb_emitters_match_models():
    con = duckdb.connect()
    rng = random.Random(9)

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

    em2 = MurmurEmitter("q")
    sql2 = staged(em2, em2.signed64(em2.m2_dispatch("e", "length(e)", 31)))
    em3 = MurmurEmitter("r")
    sql3 = staged(
        em3, f"CAST({em3.m3_dispatch('e', 'length(e)', 31)} AS BIGINT)"
    )
    for n in range(32):
        s = "".join(chr(rng.randint(32, 126)) for _ in range(n))
        assert con.execute(sql2, [s]).fetchone()[0] == _sl(
            murmur2_64_py(s.encode())
        ), n
        assert con.execute(sql3, [s]).fetchone()[0] == (
            murmur3_32_py(s.encode())
        ), n
