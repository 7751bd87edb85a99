"""Canonical MurmurHash3 x64_128 + MurmurHash2-32 family (round 9):
murmurHash3_64/128, murmurHash2_32, kafkaMurmurHash, gccMurmurHash
were seeded-xxhash bucketing stand-ins; these pin the canonical
ports. Anchors:

- x64_128 model == the published mmh3 README vectors ("foo" ->
  hash64 pair (-2129773440516405919, 9128664383759220103), hash128
  168394135621993849475852668931176482145; "" -> 0).
- murmur2-32 model at the Kafka seed == Kafka's published
  UtilsTest.testMurmur2 vectors (every code path: word-only, tails
  1-3, long input).
- the dialect's calls (the Arrow hash kernel over the models) and the
  DuckDB 128 emitter are pinned bit-for-bit against the models across
  every length class.
"""

from __future__ import annotations

import random
import struct

import duckdb
from baseline_magician_spark.functions.cityhash import _sl
from baseline_magician_spark.functions.murmur import (
    GCC_SEED,
    KAFKA_SEED,
    MurmurEmitter,
    murmur2_32_py,
    murmur2_64_py,
)
from baseline_magician_spark.functions.murmur3_128 import (
    Murmur128Emitter,
    murmur3_64_py,
    murmur3_128_py,
)
from baseline_magician_spark.plans.ch_sql import run_ch_query

CASES = [
    b"",
    b"a",
    b"abc",
    b"abcd",
    b"12345678",
    b"123456789",
    b"0123456789abcde",  # 15: the k2-free long tail
    b"0123456789abcdef",  # 16: exactly one block
    b"0123456789abcdefg",  # 17: block + 1
    b"0123456789abcdefghijklmn",  # 24: block + 8 (k1-only tail)
    b"0123456789abcdefghijklmno",  # 25: block + 9 (k2 tail starts)
    b"x" * 31,
    b"y" * 32,
    b"z" * 33,
    b"w" * 47,
]


def test_mmh3_published_vectors():
    h1, h2 = murmur3_128_py(b"foo")
    assert (_sl(h1), _sl(h2)) == (
        -2129773440516405919,
        9128664383759220103,
    )
    assert h1 + (h2 << 64) == 168394135621993849475852668931176482145
    assert murmur3_128_py(b"") == (0, 0)


def test_kafka_published_vectors():
    def s32(v: int) -> int:
        return v - (1 << 32) if v >= 1 << 31 else v

    cases = {
        b"21": -973932308,
        b"foobar": -790332482,
        b"a-little-bit-long-string": -985981536,
        b"a-little-bit-longer-string": -1486304829,
        b"lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8": -58897971,
        b"abc": 479470107,
    }
    for data, want in cases.items():
        assert s32(murmur2_32_py(data, KAFKA_SEED)) == want, data


def test_spark_renderings_match_models(spark):
    rows = [(i, c.decode()) for i, c in enumerate(CASES)]
    df = spark.createDataFrame(rows, "i int, s string")
    sel = run_ch_query(
        "SELECT i, murmurHash3_64(s) AS m64, murmurHash3_128(s) AS m128,"
        " murmurHash2_32(s) AS m232, kafkaMurmurHash(s) AS mk,"
        " gccMurmurHash(s) AS mg FROM t",
        {"t": df},
    )
    got = {r["i"]: r for r in sel.collect()}
    for i, c in enumerate(CASES):
        h1, h2 = murmur3_128_py(c)
        hex128 = (
            struct.pack("<Q", h1) + struct.pack("<Q", h2)
        ).hex().upper()
        r = got[i]
        assert r["m64"] == _sl(murmur3_64_py(c)), (i, "m64")
        assert r["m128"] == hex128, (i, "m128")
        assert r["m232"] == murmur2_32_py(c), (i, "m232")
        assert r["mk"] == murmur2_32_py(c, KAFKA_SEED) & 0x7FFFFFFF, (
            i,
            "kafka",
        )
        assert r["mg"] == _sl(murmur2_64_py(c, GCC_SEED)), (i, "gcc")


def test_ch_sql_dialect_and_combines(spark):
    df = spark.createDataFrame([(1,)], "i long")
    tabs = {"t": df}

    def one(sql):
        return run_ch_query(sql, tabs).collect()[0][0]

    assert one("SELECT murmurHash3_64('foo') AS r FROM t") == _sl(
        murmur3_64_py(b"foo")
    )
    h1, h2 = murmur3_128_py(b"foo")
    assert one("SELECT murmurHash3_128('foo') AS r FROM t") == (
        struct.pack("<Q", h1) + struct.pack("<Q", h2)
    ).hex().upper()
    assert one("SELECT murmurHash2_32('abc') AS r FROM t") == (
        murmur2_32_py(b"abc")
    )
    assert one("SELECT kafkaMurmurHash('abc') AS r FROM t") == (
        murmur2_32_py(b"abc", KAFKA_SEED) & 0x7FFFFFFF
    )
    assert one("SELECT gccMurmurHash('abc') AS r FROM t") == _sl(
        murmur2_64_py(b"abc", GCC_SEED)
    )
    assert one("SELECT murmurHash3_64(NULL) AS r FROM t") is None
    # multi-arg: hash of the LE pair of the per-arg hashes
    want = _sl(
        murmur3_64_py(
            struct.pack(
                "<QQ", murmur3_64_py(b"a"), murmur3_64_py(b"b")
            )
        )
    )
    assert one("SELECT murmurHash3_64('a', 'b') AS r FROM t") == want
    want32 = murmur2_32_py(
        struct.pack("<II", murmur2_32_py(b"a"), murmur2_32_py(b"b"))
    )
    assert one("SELECT murmurHash2_32('a', 'b') AS r FROM t") == want32
    ka = murmur2_32_py(b"a", KAFKA_SEED) & 0x7FFFFFFF
    kb = murmur2_32_py(b"b", KAFKA_SEED) & 0x7FFFFFFF
    wantk = (
        murmur2_32_py(struct.pack("<II", ka, kb), KAFKA_SEED)
        & 0x7FFFFFFF
    )
    assert one("SELECT kafkaMurmurHash('a', 'b') AS r FROM t") == wantk


def test_duckdb_128_emitter_matches_model():
    con = duckdb.connect()
    rng = random.Random(13)

    def staged(em, h):
        prev = "b0"
        ctes = []
        for i, s in enumerate(em.steps):
            nm = f"{em.prefix}_s{i}"
            ctes.append(f"{nm} AS (SELECT *, {s} FROM {prev})")
            prev = nm
        return ctes, prev

    alphabet = [
        chr(c) for c in range(33, 127) if chr(c) not in ("'", "\\")
    ]
    strs = [c.decode() for c in CASES] + [
        "".join(
            rng.choice(alphabet)
            for _ in range(rng.randrange(0, 48))
        )
        for _ in range(10)
    ]
    vals = ", ".join(f"('{s}')" for s in strs)
    em = Murmur128Emitter("q")
    h = em.dispatch64("e", "ne", 47)
    hs = em.signed64(h)
    ctes, last = staged(em, "b0")
    sql = (
        f"WITH b0 AS (SELECT e, length(e) AS ne FROM (VALUES {vals})"
        f" t(e)), {', '.join(ctes)} SELECT e, {hs} FROM {last}"
    )
    got = dict(con.execute(sql).fetchall())
    for s in strs:
        assert got[s] == _sl(murmur3_64_py(s.encode())), repr(s)

    em2 = MurmurEmitter("r")
    h2 = em2.m2_32_dispatch("e", "ne", 47, KAFKA_SEED)
    ctes2, last2 = staged(em2, "b0")
    sql2 = (
        f"WITH b0 AS (SELECT e, length(e) AS ne FROM (VALUES {vals})"
        f" t(e)), {', '.join(ctes2)} SELECT e, {h2} FROM {last2}"
    )
    got2 = dict(con.execute(sql2).fetchall())
    for s in strs:
        assert got2[s] == murmur2_32_py(s.encode(), KAFKA_SEED), repr(s)
