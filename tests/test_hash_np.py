"""The vectorized numeric-hash kernels (functions/hash_np.py) must be
bit-exact against the pure-Python byte models, and the dialect's
Arrow-UDF rendering must equal the models end-to-end on numeric
arguments, including NULL propagation and mixed widths."""

from __future__ import annotations

import random

import numpy as np
import pytest

from baseline_magician_spark.functions import hash_np as H
from baseline_magician_spark.functions.cityhash import _hl16_py
from baseline_magician_spark.functions.hashing import (
    int_hash32_py,
    int_hash64_py,
)
from baseline_magician_spark.functions.murmur import (
    GCC_SEED,
    KAFKA_SEED,
    murmur2_32_py,
    murmur2_64_py,
    murmur3_32_py,
)
from baseline_magician_spark.functions.murmur3_128 import (
    murmur3_64_py,
    murmur3_128_py,
)
from baseline_magician_spark.functions.siphash import sip_hash64_py
from baseline_magician_spark.functions.xxhash import xxh32_py, xxh64_py

rng = random.Random(411)
VALS = [0, 1, 2**63, 2**64 - 1, 2**63 - 1, 0xDEADBEEF] + [
    rng.randrange(0, 2**64) for _ in range(300)
]
V = np.array(VALS, dtype=np.uint64)


def _le(v: int, w: int) -> bytes:
    return int(v & ((1 << (8 * w)) - 1)).to_bytes(w, "little")


@pytest.mark.parametrize("w", [1, 2, 4, 8])
def test_single_arg_kernels_match_models(w):
    Vw = V & np.uint64((1 << (8 * w)) - 1)
    cases = {
        "sip": (H.sip64_np(Vw, w), [sip_hash64_py(_le(v, w)) for v in VALS]),
        "xx": (H.xxh64_np(Vw, w), [xxh64_py(_le(v, w)) for v in VALS]),
        "m2_64": (
            H.murmur2_64_np(Vw, w),
            [murmur2_64_py(_le(v, w)) for v in VALS],
        ),
        "m2_64_gcc": (
            H.murmur2_64_np(Vw, w, GCC_SEED),
            [murmur2_64_py(_le(v, w), GCC_SEED) for v in VALS],
        ),
        "m3_64": (
            H.murmur3_64_np(Vw, w),
            [murmur3_64_py(_le(v, w)) for v in VALS],
        ),
        "m2_32_kafka": (
            H.murmur2_32_np(Vw, w, KAFKA_SEED),
            [murmur2_32_py(_le(v, w), KAFKA_SEED) for v in VALS],
        ),
        "xx32": (H.xxh32_np(Vw, w), [xxh32_py(_le(v, w)) for v in VALS]),
        "m3_32": (
            H.murmur3_32_np(Vw, w),
            [murmur3_32_py(_le(v, w)) for v in VALS],
        ),
    }
    for name, (got, want) in cases.items():
        assert (got == np.array(want, dtype=np.uint64)).all(), (name, w)
    got = H.murmur3_128_np(Vw, w)
    want = np.array([murmur3_128_py(_le(v, w)) for v in VALS], np.uint64)
    assert (got == want).all(), ("m3_128", w)


def test_pair_and_scalar_kernels_match_models():
    A, B = V, V[::-1].copy()
    pairs = list(zip(VALS, VALS[::-1]))
    assert (
        H.sip64_pair_np(A, B)
        == np.array(
            [sip_hash64_py(_le(a, 8) + _le(b, 8)) for a, b in pairs],
            dtype=np.uint64,
        )
    ).all()
    assert (
        H.murmur2_64_pair_np(A, B)
        == np.array(
            [murmur2_64_py(_le(a, 8) + _le(b, 8)) for a, b in pairs],
            dtype=np.uint64,
        )
    ).all()
    assert (
        H.murmur3_64_pair_np(A, B)
        == np.array(
            [murmur3_64_py(_le(a, 8) + _le(b, 8)) for a, b in pairs],
            dtype=np.uint64,
        )
    ).all()
    a32, b32 = A & np.uint64(0xFFFFFFFF), B & np.uint64(0xFFFFFFFF)
    pair32 = [_le(a, 4) + _le(b, 4) for a, b in pairs]
    for got, model in [
        (
            H.murmur2_32_pair_np(a32, b32, KAFKA_SEED),
            lambda b: murmur2_32_py(b, KAFKA_SEED),
        ),
        (H.xxh32_pair_np(a32, b32), xxh32_py),
        (H.murmur3_32_pair_np(a32, b32), murmur3_32_py),
    ]:
        want = np.array([model(b) for b in pair32], dtype=np.uint64)
        assert (got == want).all(), model
    assert (
        H.int_hash64_np(A)
        == np.array([int_hash64_py(v) for v in VALS], dtype=np.uint64)
    ).all()
    assert (
        H.int_hash32_np(A)
        == np.array([int_hash32_py(v) for v in VALS], dtype=np.uint64)
    ).all()
    d0, d1 = H.murmur3_128_np(A, 8), H.murmur3_128_np(B, 8)
    want = [
        murmur3_128_py(b"".join(_le(int(x), 8) for x in (*r0, *r1)))
        for r0, r1 in zip(d0, d1)
    ]
    assert (H.murmur3_128_pair_np(d0, d1) == np.array(want, np.uint64)).all()
    assert (
        H.hl16_np(A, B)
        == np.array([_hl16_py(a, b) for a, b in pairs], dtype=np.uint64)
    ).all()


def _sl64(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


def _pair(model, w):
    return lambda h0, h1: model(_le(h0, w) + _le(h1, w))


_KAFKA = 0x7FFFFFFF
# CH name -> (per-argument hash of the 8 LE bytes, pair combine,
# signed 64-bit result)
_MODELS = {
    "cityHash64": (lambda b: int_hash64_py(int.from_bytes(b, "little")),
                   _hl16_py, True),
    "sipHash64": (sip_hash64_py, _pair(sip_hash64_py, 8), True),
    "xxHash64": (xxh64_py, _hl16_py, True),
    "xxHash32": (xxh32_py, _pair(xxh32_py, 4), False),
    "murmurHash2_64": (murmur2_64_py, _pair(murmur2_64_py, 8), True),
    "murmurHash2_32": (murmur2_32_py, _pair(murmur2_32_py, 4), False),
    "murmurHash3_32": (murmur3_32_py, _pair(murmur3_32_py, 4), False),
    "murmurHash3_64": (murmur3_64_py, _pair(murmur3_64_py, 8), True),
    "gccMurmurHash": (
        lambda b: murmur2_64_py(b, GCC_SEED),
        _pair(lambda b: murmur2_64_py(b, GCC_SEED), 8),
        True,
    ),
    "kafkaMurmurHash": (
        lambda b: murmur2_32_py(b, KAFKA_SEED) & _KAFKA,
        _pair(lambda b: murmur2_32_py(b, KAFKA_SEED) & _KAFKA, 4),
        False,
    ),
}


def test_adversarial_single_batch_matches_models(spark):
    """Values a float64 detour would corrupt (above 2^53, the ±2^63
    edges) and 0, each in the same Arrow batch as a NULL in its own and
    in the other argument: every numeric hash must equal its Python
    model exactly, and NULL in either argument must give NULL."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    edges = [2**53 + 1, -(2**53) - 1, 2**62 + 3, 2**63 - 1, -(2**63), 0]
    rows = []
    for v in edges:
        rows += [(v, 2**60 + 7), (None, v), (v, None), (-v - 1, v)]
    rows = [(i, a, b) for i, (a, b) in enumerate(rows)]
    df = spark.createDataFrame(rows, "i long, a long, b long").coalesce(1)
    items = ", ".join(
        f"{fn}(a) AS s{k}, {fn}(a, b) AS p{k}"
        for k, fn in enumerate(_MODELS)
    )
    got = {
        r["i"]: r
        for r in run_ch_query(
            f"SELECT i, {items} FROM t", {"t": df}
        ).collect()
    }
    for i, a, b in rows:
        r = got[i]
        for k, (fn, (one, combine, signed)) in enumerate(_MODELS.items()):
            out = _sl64 if signed else (lambda u: u)
            if a is None:
                want_s = want_p = None
            else:
                ha = one(_le(a, 8))
                want_s = out(ha)
                want_p = (
                    None if b is None else out(combine(ha, one(_le(b, 8))))
                )
            assert r[f"s{k}"] == want_s, (fn, a)
            assert r[f"p{k}"] == want_p, (fn, a, b)


def test_mixed_width_arguments(spark):
    """An int (4-byte layout) combined with a bigint (8-byte layout)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = [(7, -3), (0, 0), (2**31 - 1, -(2**62)), (-5, 2**63 - 1)]
    df = spark.createDataFrame(rows, "a int, b long")
    for fn in (
        "sipHash64",
        "xxHash64",
        "murmurHash3_64",
        "xxHash32",
        "murmurHash3_32",
    ):
        one, combine, signed = _MODELS[fn]
        out = _sl64 if signed else (lambda u: u)
        got = sorted(
            r.h
            for r in run_ch_query(
                f"SELECT {fn}(a, b) AS h FROM t", {"t": df}
            ).collect()
        )
        want = sorted(
            out(combine(one(_le(a, 4)), one(_le(b, 8)))) for a, b in rows
        )
        assert got == want, fn
