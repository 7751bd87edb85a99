"""Byte-exact CityHash64: the dialect's cityHash64 (the Arrow hash
kernel over the model), the DuckDB emitter SQL and the pure-Python
model must agree bit-for-bit on every length class, including the
>64-byte chunk loop. The Python model is a transcription of the
public CityHash v1.0.2 spec (the reference vendors it:
clickhouse-go/lib/cityhash102/cityhash.go:122-248); the empty-string
pin (k2) anchors all three to the spec constant."""

from __future__ import annotations

import random

import duckdb

from baseline_magician_spark.functions.cityhash import (
    K2,
    CityEmitter,
    _hl16_py,
    _sl,
    city_hash64_py,
    staged_ctes,
)
from baseline_magician_spark.plans.ch_sql import run_ch_query

CASES = [
    b"",
    b"a",
    b"ab",
    b"abc",
    b"abcd",
    b"hello",
    b"12345678",
    b"123456789",
    b"0123456789abcdef",
    b"0123456789abcdefg",
    b"The quick brown fox jump",
    b"x" * 32,
    b"y" * 33,
    b"z" * 48,
    b"q" * 64,
    b"r" * 65,
    b"s" * 100,
    b"t" * 128,
    b"u" * 129,
    b"v" * 200,
    b"w" * 300,
    bytes(range(32, 127)),
    b"~" * 77,
]


def test_model_empty_is_k2():
    assert city_hash64_py(b"") == K2 == 0x9AE16A3B2F90404F


def test_spark_matches_model_all_classes(spark):
    rows = [(i, c.decode("ascii")) for i, c in enumerate(CASES)]
    df = spark.createDataFrame(rows, "i int, s string")
    sel = run_ch_query("SELECT i, cityHash64(s) AS h FROM t", {"t": df})
    got = {r["i"]: r["h"] for r in sel.collect()}
    for i, c in enumerate(CASES):
        assert got[i] == _sl(city_hash64_py(c)), (i, len(c))


def test_spark_hashes_raw_bytes_not_just_ascii(spark):
    # high-bit bytes through the CH SQL surface (unhex -> binary)
    data = bytes([0, 1, 127, 128, 200, 255, 66, 13, 10, 254, 7, 99])
    for n in (1, 3, 5, 12):
        b = data[:n]
        df = spark.createDataFrame([(1,)], "i long")
        out = run_ch_query(
            f"SELECT cityHash64(unhex('{b.hex().upper()}')) AS r FROM t",
            {"t": df},
        ).collect()[0].r
        assert out == _sl(city_hash64_py(b)), n


def test_ch_sql_pins_and_null(spark):
    df = spark.createDataFrame([(1,)], "i long")
    tabs = {"t": df}

    def one(sql):
        return run_ch_query(sql, tabs).collect()[0][0]

    assert one("SELECT cityHash64('') AS r FROM t") == _sl(K2)
    assert one("SELECT cityHash64(NULL) AS r FROM t") is None
    # multi-arg combine: Hash128to64(h('a'), h('b'))
    want = _sl(_hl16_py(city_hash64_py(b"a"), city_hash64_py(b"b")))
    assert one("SELECT cityHash64('a', 'b') AS r FROM t") == want
    # URLHash = cityHash64 of the single-trailing-separator trim
    want = _sl(city_hash64_py(b"https://ex.com/p7"))
    assert one("SELECT URLHash('https://ex.com/p7/') AS r FROM t") == want
    assert one("SELECT URLHash('https://ex.com/p7') AS r FROM t") == want


def _duck_one(con, s: str, method: str, *args) -> int:
    em = CityEmitter("c")
    fn = getattr(em, method)
    final = em.h0() if method == "h0" else fn("e", "length(e)", *args)
    sig = em.signed(final)
    ctes, last = staged_ctes(em, "b0")
    sql = f"WITH b0 AS (SELECT ? AS e), {ctes} SELECT {sig} FROM {last}"
    return con.execute(sql, [s]).fetchone()[0]


def test_duckdb_emitter_matches_model():
    con = duckdb.connect()
    rng = random.Random(7)

    def rand_ascii(n):
        return "".join(chr(rng.randint(32, 126)) for _ in range(n))

    plan = (
        [(0, "h0", ())]
        + [(n, "h1to3", ()) for n in (1, 3)]
        + [(n, "h4to8", ()) for n in (4, 8)]
        + [(n, "h9to16", ()) for n in (9, 16)]
        + [(n, "h17to32", ()) for n in (17, 32)]
        + [(n, "h33to64", ()) for n in (33, 64)]
        + [(65, "h_long", (1,)), (128, "h_long", (1,)),
           (129, "h_long", (2,)), (250, "h_long", (3,))]
    )
    for n, method, args in plan:
        s = rand_ascii(n)
        got = _duck_one(con, s, method, *args)
        assert got == _sl(city_hash64_py(s.encode())), (n, method)


def test_duckdb_full_dispatch_matches_model():
    con = duckdb.connect()
    rng = random.Random(11)
    strs = [
        "".join(chr(rng.randint(32, 126)) for _ in range(n))
        for n in (0, 2, 5, 11, 20, 40, 70, 130, 200)
    ]
    em = CityEmitter("d")
    final = em.full_dispatch("e", "length(e)", 256)
    sig = em.signed(final)
    ctes, last = staged_ctes(em, "b0")
    rows = ", ".join(f"({i}, ?)" for i in range(len(strs)))
    sql = (
        f"WITH b0 AS (SELECT * FROM (VALUES {rows}) AS v(i, e)), "
        f"{ctes} SELECT i, {sig} FROM {last} ORDER BY i"
    )
    got = con.execute(sql, strs).fetchall()
    for i, s in enumerate(strs):
        assert got[i][1] == _sl(city_hash64_py(s.encode())), len(s)


def test_spark_vs_model_random_lengths(spark):
    rng = random.Random(99)
    cases = []
    for n in list(range(0, 70)) + [75, 90, 127, 128, 129, 190, 260]:
        cases.append(
            "".join(chr(rng.randint(32, 126)) for _ in range(n))
        )
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i int, s string"
    )
    sel = run_ch_query("SELECT i, cityHash64(s) AS h FROM t", {"t": df})
    got = {r["i"]: r["h"] for r in sel.collect()}
    for i, s in enumerate(cases):
        assert got[i] == _sl(city_hash64_py(s.encode())), len(s)
