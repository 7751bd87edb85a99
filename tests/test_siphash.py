"""SipHash-2-4: the Python model is anchored to the SipHash paper's
reference vectors (key 000102..0f, the only independent ground truth
available offline); the dialect's sipHash64 (the Arrow hash kernel
over the model) and the DuckDB emitter are then pinned bit-for-bit
against the model with the zero key CH's sipHash64 documents."""

from __future__ import annotations

import random

import duckdb
from baseline_magician_spark.functions.cityhash import _sl
from baseline_magician_spark.functions.siphash import (
    SipEmitter,
    sip_hash64_py,
)
from baseline_magician_spark.plans.ch_sql import run_ch_query

# Reference vectors from the SipHash paper's appendix: SipHash-2-4 of
# the byte sequences 00, 0001, ... under key 000102030405060708090a0b0c0d0e0f.
_K0 = int.from_bytes(bytes(range(8)), "little")
_K1 = int.from_bytes(bytes(range(8, 16)), "little")
_PAPER_VECTORS = {
    0: 0x726FDB47DD0E0E31,
    1: 0x74F839C593DC67FD,
    8: 0x93F5F5799A932462,
    15: 0xA129CA6149BE45E5,
}


def test_model_matches_paper_vectors():
    for n, want in _PAPER_VECTORS.items():
        assert sip_hash64_py(bytes(range(n)), _K0, _K1) == want, n


CASES = [
    b"",
    b"a",
    b"ab",
    b"abcdefg",
    b"abcdefgh",
    b"abcdefghi",
    b"0123456789abcdef",
    b"x" * 15,
    b"y" * 16,
    b"z" * 17,
    b"q" * 64,
    b"r" * 65,
    b"s" * 100,
    bytes(range(32, 127)),
]


def test_spark_text_and_column_match_model(spark):
    df = spark.createDataFrame(
        [(i, c.decode("ascii")) for i, c in enumerate(CASES)],
        "i int, s string",
    )
    sel = run_ch_query("SELECT i, sipHash64(s) AS h FROM t", {"t": df})
    got = {r["i"]: r["h"] for r in sel.collect()}
    for i, c in enumerate(CASES):
        assert got[i] == _sl(sip_hash64_py(c)), (i, len(c))


def test_ch_sql_siphash_and_raw_bytes(spark):
    df = spark.createDataFrame([(1,)], "i long")
    tabs = {"t": df}

    def one(sql):
        return run_ch_query(sql, tabs).collect()[0][0]

    assert one("SELECT sipHash64('') AS r FROM t") == _sl(
        sip_hash64_py(b"")
    )
    assert one("SELECT sipHash64('ClickHouse') AS r FROM t") == _sl(
        sip_hash64_py(b"ClickHouse")
    )
    assert one("SELECT sipHash64(NULL) AS r FROM t") is None
    # raw high-bit bytes through unhex -> binary
    data = bytes([0, 255, 128, 7, 13, 10, 200, 66, 1])
    got = one(
        f"SELECT sipHash64(unhex('{data.hex().upper()}')) AS r FROM t"
    )
    assert got == _sl(sip_hash64_py(data))


def test_duckdb_emitter_matches_model():
    con = duckdb.connect()
    rng = random.Random(5)
    em = SipEmitter("p")
    h = em.dispatch("e", "length(e)", 23)
    sig = em.signed(h)
    prev = "b0"
    ctes = []
    for i, st in enumerate(em.steps):
        nm = f"c{i}"
        ctes.append(f"{nm} AS (SELECT *, {st} FROM {prev})")
        prev = nm
    sql = (
        f"WITH b0 AS (SELECT ? AS e), {', '.join(ctes)} "
        f"SELECT {sig} FROM {prev}"
    )
    for n in range(24):
        s = "".join(chr(rng.randint(32, 126)) for _ in range(n))
        got = con.execute(sql, [s]).fetchone()[0]
        assert got == _sl(sip_hash64_py(s.encode())), n
