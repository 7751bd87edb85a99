"""CH sampling-key hashes (intHash64 / intHash32 / URLHash): the numpy
kernels, their Python models and the dialect calls must land on the
exact bits of the CH spec — pinned against a direct Python
transcription of src/Functions/FunctionsHashing.h (IntHash64Impl /
IntHash32Impl) and src/Common/HashTable/Hash.h."""

from __future__ import annotations

import numpy as np

from baseline_magician_spark.plans.ch_sql import run_ch_query

M = (1 << 64) - 1


def ref_int_hash64(x: int) -> int:
    x = (x ^ 0x4CF2D2BAAE6DA887) & M
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & M
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & M
    x ^= x >> 33
    return x


def ref_int_hash32(x: int) -> int:
    k = (x ^ 0x75D9543DE018BF45) & M
    k = ((~k & M) + ((k << 18) & M)) & M
    k = k ^ (((k >> 31) | (k << 33)) & M)
    k = (k * 21) & M
    k = k ^ (k >> 11)
    k = (k + ((k << 6) & M)) & M
    k = k ^ (k >> 22)
    return k & 0xFFFFFFFF


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


VALS = [0, 1, 2, 42, 123456789, 2**31, 2**40 + 7, 2**63 - 1, -1, -123456]


def test_int_hashes_match_spec():
    from baseline_magician_spark.functions import hash_np as H
    from baseline_magician_spark.functions.hashing import (
        int_hash32_py,
        int_hash64_py,
    )

    xs = [v & M for v in VALS]
    v = np.array(xs, dtype=np.uint64)
    h64, h32 = H.int_hash64_np(v), H.int_hash32_np(v)
    for i, xu in enumerate(xs):
        assert int(h64[i]) == int_hash64_py(xu) == ref_int_hash64(xu), xu
        assert int(h32[i]) == int_hash32_py(xu) == ref_int_hash32(xu), xu


def test_int_hashes_via_ch_sql(spark):
    df = spark.createDataFrame([(v,) for v in VALS], "x long")
    got = run_ch_query(
        "SELECT x, intHash64(x) AS h64, intHash32(x) AS h32 FROM t",
        {"t": df},
    ).collect()
    for r in got:
        xu = r.x & M
        assert r.h64 == _signed(ref_int_hash64(xu)), r.x
        assert r.h32 == ref_int_hash32(xu), r.x


def test_url_hash_trims_one_trailing_separator(spark):
    # CH contract: exactly ONE trailing /, ? or # is removed before
    # hashing (the hash is genuine CityHash64 since round 8 — value
    # pinned in test_cityhash.py; equality classes checked here)
    df = spark.createDataFrame(
        [
            ("https://ex.com/a",),
            ("https://ex.com/a/",),
            ("https://ex.com/a#",),
            ("https://ex.com/a?",),
            ("https://ex.com/a//",),
            ("https://ex.com/b",),
        ],
        "u string",
    )
    got = run_ch_query(
        "SELECT u, URLHash(u) AS h FROM t", {"t": df}
    ).collect()
    h = {r.u: r.h for r in got}
    base = h["https://ex.com/a"]
    assert h["https://ex.com/a/"] == base
    assert h["https://ex.com/a#"] == base
    assert h["https://ex.com/a?"] == base
    # double slash: only one trimmed -> different class
    assert h["https://ex.com/a//"] != base
    assert h["https://ex.com/b"] != base


def test_url_hash_null_propagates(spark):
    df = spark.createDataFrame([(None,), ("https://a.com/x",)], "u string")
    got = run_ch_query(
        "SELECT u, URLHash(u) AS h, URLHash(u, 1) AS h1 FROM t",
        {"t": df},
    ).collect()
    by = {r.u: r for r in got}
    assert by[None].h is None and by[None].h1 is None
    assert by["https://a.com/x"].h is not None
