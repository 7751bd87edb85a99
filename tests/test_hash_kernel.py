"""Every CH hash has one rendering: the Arrow kernel of
functions/hash_np.hash_arrow. Through the dialect, each of the 14 names
must equal the pure-Python models exactly on adversarial rows: NULL in
each argument position, the empty string, non-BMP text, invalid UTF-8
binary, every CityHash length-class edge and mixed string/numeric
multi-argument calls.

NULL contract: a NULL in any argument makes the result NULL. Hashing a
lambda variable is refused by Spark with
LAMBDA_FUNCTION_WITH_PYTHON_UDF (a Python UDF cannot run inside a
higher-order function).
"""

from __future__ import annotations

import random
import re
import struct

import pytest
from pyspark.sql import functions as F

from baseline_magician_spark.functions.cityhash import (
    _hl16_py,
    _sl,
    city_hash64_py,
)
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
from baseline_magician_spark.plans.ch_sql import run_ch_query

_M64 = (1 << 64) - 1

# the byte model of each name (intHash64/intHash32 take no bytes)
_BYTES = {
    "cityHash64": city_hash64_py,
    "URLHash": city_hash64_py,
    "sipHash64": sip_hash64_py,
    "xxHash64": xxh64_py,
    "xxHash32": xxh32_py,
    "murmurHash2_64": murmur2_64_py,
    "gccMurmurHash": lambda d: murmur2_64_py(d, GCC_SEED),
    "murmurHash2_32": murmur2_32_py,
    "kafkaMurmurHash": lambda d: murmur2_32_py(d, KAFKA_SEED) & 0x7FFFFFFF,
    "murmurHash3_32": murmur3_32_py,
    "murmurHash3_64": murmur3_64_py,
    "murmurHash3_128": murmur3_128_py,
}
NAMES = sorted(_BYTES) + ["intHash64", "intHash32"]
_WIDTH4 = {"xxHash32", "murmurHash2_32", "kafkaMurmurHash", "murmurHash3_32"}
# names that take several arguments folded by combineHashes
MULTI = sorted(set(_BYTES) - {"URLHash"})


def _one(name, arg):
    """The model hash of one typed argument: ("s", str), ("b", bytes)
    or ("n", int as a bigint)."""
    kind, x = arg
    if kind == "n":
        u = x & _M64
        if name in ("cityHash64", "intHash64"):
            return int_hash64_py(u)
        if name == "intHash32":
            return int_hash32_py(u)
        data = u.to_bytes(8, "little")
    else:
        data = x.encode() if kind == "s" else x
        if name == "URLHash":
            data = re.sub(rb"[/?#]$", b"", data)
    return _BYTES[name](data)


def _combine(name, h0, h1):
    if name in ("cityHash64", "xxHash64"):
        return _hl16_py(h0, h1)
    if name == "murmurHash3_128":
        return murmur3_128_py(struct.pack("<QQQQ", *h0, *h1))
    fmt = "<II" if name in _WIDTH4 else "<QQ"
    return _BYTES[name](struct.pack(fmt, h0, h1))


def model(name, *args):
    """What the dialect must return for ``name(*args)``; an argument
    of None is a NULL."""
    if any(a[1] is None for a in args):
        return None
    h = _one(name, args[0])
    for a in args[1:]:
        h = _combine(name, h, _one(name, a))
    if name == "murmurHash3_128":
        return struct.pack("<QQ", *h).hex().upper()
    return _sl(h)


# every CityHash length class and its edges, in bytes
_LENGTHS = [0, 1, 3, 4, 8, 9, 16, 17, 32, 33, 64, 65, 128, 129]
_rng = random.Random(1409)
_STRINGS = [
    "".join(chr(_rng.randint(32, 126)) for _ in range(n)) for n in _LENGTHS
] + [
    "\U0001F600",  # one non-BMP code point, 4 UTF-8 bytes
    "a\U0001D11Ebé",  # non-BMP between ASCII, plus a 2-byte char
    "https://ex.com/a/",
    "https://ex.com/a?",
    None,
]
_BINARIES = [
    b"",
    b"\xff",
    b"\xc3\x28",  # a truncated 2-byte sequence
    b"\xed\xa0\x80",  # an encoded surrogate
    bytes(range(256)) * 2,
    b"\x80" * 17,
    None,
]
_NUMBERS = [0, 1, -1, 2**53 + 1, 2**63 - 1, -(2**63), None]


@pytest.fixture(scope="module")
def table(spark):
    n = max(len(_STRINGS), len(_BINARIES), len(_NUMBERS))
    rows = [
        (
            i,
            _STRINGS[i % len(_STRINGS)],
            _BINARIES[i % len(_BINARIES)],
            _NUMBERS[i % len(_NUMBERS)],
        )
        for i in range(3 * n)
    ]
    df = spark.createDataFrame(rows, "i long, s string, b binary, n long")
    return rows, {"t": df}


def _calls(name):
    """The argument columns of each call of ``name`` under test."""
    if name in ("intHash64", "intHash32"):
        return [("n",)]
    if name == "URLHash":
        return [("s",)]
    return [("s",), ("b",), ("n",), ("s", "n"), ("n", "s"), ("s", "b", "n"),
            ("b", "s")]


@pytest.mark.parametrize("name", NAMES)
def test_dialect_equals_models_on_adversarial_rows(table, name):
    rows, tabs = table
    calls = _calls(name)
    items = ", ".join(
        f"{name}({', '.join(c)}) AS h{k}" for k, c in enumerate(calls)
    )
    got = {
        r["i"]: r
        for r in run_ch_query(f"SELECT i, {items} FROM t", tabs).collect()
    }
    assert len(got) == len(rows)
    for i, s, b, n in rows:
        typed = {"s": ("s", s), "b": ("b", b), "n": ("n", n)}
        for k, c in enumerate(calls):
            want = model(name, *[typed[a] for a in c])
            assert got[i][f"h{k}"] == want, (name, c, s, b, n)


@pytest.mark.parametrize("name", MULTI)
def test_numeric_pairs_equal_models(spark, name):
    rng = random.Random(411)
    rows = [
        (i, rng.randrange(-(2**63), 2**63), rng.randrange(-(2**63), 2**63))
        for i in range(200)
    ]
    rows += [(1000, None, 5), (1001, 7, None), (1002, None, None)]
    df = spark.createDataFrame(rows, "i long, a long, b long")
    got = {
        r.i: r.h
        for r in run_ch_query(
            f"SELECT i, {name}(a, b) AS h FROM t", {"t": df}
        ).collect()
    }
    for i, a, b in rows:
        assert got[i] == model(name, ("n", a), ("n", b)), (name, a, b)


def test_combine_chains_equal_models(spark):
    """Bare columns, computed expressions, string literals and string
    columns in one call."""
    rows = [(i, -i * 977, f"s{i}") for i in range(8)] + [
        (2**62, -(2**63), "tail")
    ]
    df = spark.createDataFrame(rows, "a long, b long, s string")
    calls = {
        "c1": ("cityHash64", "a", "b"),
        "c2": ("cityHash64", "a", "s", "'lit'"),
        "s1": ("sipHash64", "a", "b"),
        "s2": ("sipHash64", "s", "a + 1"),
        "x1": ("xxHash64", "a", "b"),
        "x2": ("xxHash32", "a", "b"),
        "m1": ("murmurHash2_64", "a", "b"),
        "m2": ("murmurHash3_32", "a", "b"),
        "m3": ("murmurHash3_64", "a", "b"),
        "m4": ("murmurHash3_64", "s", "b"),
        "k1": ("kafkaMurmurHash", "a", "b"),
        "k2": ("murmurHash2_32", "a", "s"),
        "g1": ("gccMurmurHash", "a", "b"),
        "x3": ("xxHash32", "s", "b"),
        "m5": ("murmurHash3_32", "a", "s"),
        "q1": ("murmurHash3_128", "a", "s"),
    }
    items = ", ".join(
        f"{c[0]}({', '.join(c[1:])}) AS {k}" for k, c in calls.items()
    )
    got = run_ch_query(f"SELECT a, {items} FROM t", {"t": df}).collect()
    assert len(got) == len(rows)
    for r in got:
        a, b, s = next(x for x in rows if x[0] == r.a)
        typed = {
            "a": ("n", a),
            "b": ("n", b),
            "s": ("s", s),
            "'lit'": ("s", "lit"),
            "a + 1": ("n", a + 1),
        }
        for k, (name, *args) in calls.items():
            assert r[k] == model(name, *[typed[x] for x in args]), (k, a)


@pytest.mark.parametrize("name", NAMES)
def test_hash_of_lambda_variable_is_refused(table, name):
    _, tabs = table
    col = "n" if name.startswith("intHash") else "s"
    with pytest.raises(Exception, match="LAMBDA_FUNCTION_WITH_PYTHON_UDF"):
        run_ch_query(
            f"SELECT arrayMap(x -> {name}(x), [{col}]) AS h FROM t", tabs
        ).collect()


def _past_small_ids(spark):
    """A hash over an argument that holds a closure (a lambda reading
    an enclosing lambda's variable) fails in Spark 4.1.2 unless the
    renumbered lambda variable happens to equal an input column's
    expression id; ids start small in a fresh session, so move the
    counter past them before building the input."""
    spark.range(1).select(*[F.lit(k).alias(f"c{k}") for k in range(200)])


def test_hash_over_url_hierarchy_equals_models(spark):
    """A hash whose argument runs higher-order functions (the URL
    hierarchies, hasSubsequence's fold) still plans as one Arrow
    kernel and equals the models over the engine's own results."""
    urls = [
        "https://ex.com/a/b?x=1#f",
        "https://ex.com",
        "http://h.org//a//b/",
        "ex.com/x/y?q",
        "",
        None,
    ]
    _past_small_ids(spark)
    df = spark.createDataFrame(list(enumerate(urls)), "i long, u string")
    got = run_ch_query(
        "SELECT i, URLHierarchy(u) AS hu, URLPathHierarchy(u) AS hp, "
        "cityHash64(arrayStringConcat(URLHierarchy(u))) AS c1, "
        "xxHash64(arrayStringConcat(URLPathHierarchy(u), '|')) AS c2, "
        "URLHash(u, 2) AS c3, hasSubsequence(u, 'e.o') AS hs, "
        "sipHash64(hasSubsequence(u, 'e.o')) AS c4 FROM t",
        {"t": df},
    ).collect()
    assert len(got) == len(urls)
    for r in got:
        assert r.c1 == model(
            "cityHash64", ("s", None if r.hu is None else "".join(r.hu))
        )
        assert r.c2 == model(
            "xxHash64", ("s", None if r.hp is None else "|".join(r.hp))
        )
        lvl = r.hu[1] if r.hu is not None and len(r.hu) > 1 else None
        assert r.c3 == model("URLHash", ("s", lvl))
        hs = None if r.hs is None else str(r.hs).lower()
        assert r.c4 == model("sipHash64", ("s", hs))


# CH functions built from nested folds and LETs: a hash over each runs
# (no lambda in them reads an enclosing lambda's variable) and equals
# the model over the engine's own rendering of the value
_FOLDED = {
    "IPv6StringToNum": "IPv6StringToNum(ip)",
    "IPv6NumToString": "IPv6NumToString(IPv6StringToNum(ip))",
    "isIPv6String": "isIPv6String(ip)",
    "cutIPv6": "cutIPv6(IPv6StringToNum(ip), 2, 0)",
    "arrayEnumerateDense": "arrayEnumerateDense(a)",
    "arrayEnumerateUniq": "arrayEnumerateUniq(a)",
    "arrayNormalizedGini": "arrayNormalizedGini(p, a)",
    "base58Encode": "base58Encode(s)",
    "base58Decode": "base58Decode(base58Encode(s))",
    "bitSlice": "bitSlice(s, 3, 13)",
    "extractAllGroupsVertical": (
        "extractAllGroupsVertical(s, '(\\\\w)(\\\\d)')"
    ),
    "geohashDecode": "geohashDecode(gh)",
    "seriesOutliersDetectTukey": "seriesOutliersDetectTukey(p)",
    "hasSubsequence": "hasSubsequence(s, 'a1')",
}
# raw bytes: compare through hex (bitSlice returns bytes as a string)
_BINARY_RESULT = {"IPv6StringToNum", "bitSlice"}


def test_hash_over_folded_functions_equals_models(spark):
    _past_small_ids(spark)
    rows = [
        (1, "2001:db8::ff00:42:8329", [10, 20, 10, 30], [0.9, 0.3, 0.8, 0.1],
         "a1b2c3", "ezs42"),
        (2, "::ffff:1.2.3.4", [1, 1, 1, 2], [1.0, 2.0, 1.0, 50.0], "zz9",
         "u4pruyd"),
        (3, "not an ip", [], [], "", "s"),
    ]
    df = spark.createDataFrame(
        rows,
        "i long, ip string, a array<bigint>, p array<double>, s string, "
        "gh string",
    )
    items = ", ".join(
        f"{'hex' if k in _BINARY_RESULT else 'toString'}({e}) AS v{n}, "
        f"cityHash64({e}) AS h{n}"
        for n, (k, e) in enumerate(_FOLDED.items())
    )
    got = run_ch_query(f"SELECT i, {items} FROM t", {"t": df}).collect()
    assert len(got) == len(rows)
    for r in got:
        for n, k in enumerate(_FOLDED):
            v = r[f"v{n}"]
            if k in _BINARY_RESULT:
                arg = ("b", None if v is None else bytes.fromhex(v))
            else:
                arg = ("s", v)
            assert r[f"h{n}"] == model("cityHash64", arg), (k, r.i, v)
