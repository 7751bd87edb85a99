"""The one executable rendering of the byte-exact ClickHouse hash
family: numpy kernels for numeric arguments, the pure-Python models
for any other argument, one Arrow batch at a time.

``ch_compat`` wraps every CH hash call (cityHash64, URLHash,
intHash64/32, sipHash64, xxHash64/32, murmurHash2_32/64,
murmurHash3_32/64/128, gccMurmurHash, kafkaMurmurHash) in one scalar
``arrow_udf`` whose body is :func:`hash_arrow`. Each argument arrives
as an Arrow array of one of two shapes:

- a NUMERIC argument is an int64 array holding the CH-native
  zero-extended bit pattern, and ``nbytes`` is sizeof(T) of its CH
  type (1/2/4/8). Its byte stream is a fixed-width little-endian
  layout, so the algorithm vectorizes over rows as plain uint64
  arithmetic (numpy wraparound == mod-2^64; the 32-bit members keep
  their state in the low half of a uint64 and mask after each step).
- any OTHER argument is the binary of its string rendering, hashed
  row by row by the family's pure-Python model (``city_hash64_py``,
  ``xxh64_py``, ...). The model module is imported only when such an
  argument is present, so a numeric-only call loads this module and
  nothing else of the package.

Multi-argument calls fold the per-argument hashes through the pair
kernels (CH's combineHashes). A NULL in any argument makes the row
NULL; NULL slots are zero-filled before the kernels see them.

Every kernel is pinned against the pure-Python models over random
64-bit values in tests/test_hash_np.py, and the whole boundary
against the models on adversarial rows in tests/test_hash_kernel.py.

Combines take two hash arrays (the 16-byte LE pair streams of the
64-bit members, the 8-byte LE pair of two UInt32 for the 32-bit
ones, the 32-byte pair of two digests for murmurHash3_128).

The module imports numpy only (pyarrow inside :func:`hash_arrow`).
"""

from __future__ import annotations

import numpy as np

_M32 = np.uint64(0xFFFFFFFF)

# sip
_SC0 = np.uint64(0x736F6D6570736575)
_SC1 = np.uint64(0x646F72616E646F6D)
_SC2 = np.uint64(0x6C7967656E657261)
_SC3 = np.uint64(0x7465646279746573)
# xx
_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)
# murmur2-64 / murmur2-32
_M2 = np.uint64(0xC6A4A7935BD1E995)
_M2_32 = np.uint64(0x5BD1E995)
# murmur3 x64_128
_3C1 = np.uint64(0x87C37B91114253D5)
_3C2 = np.uint64(0x4CF5AD432745937F)
_3A1 = np.uint64(0x52DCE729)
_3A2 = np.uint64(0x38495AB5)
_FM1 = np.uint64(0xFF51AFD7ED558CCD)
_FM2 = np.uint64(0xC4CEB9FE1A85EC53)
# city
_KMUL = np.uint64(0x9DDFEA08EB382D69)


def _rotl(x, s: int):
    s = np.uint64(s)
    return (x << s) | (x >> (np.uint64(64) - s))


def int_hash64_np(v):
    """CH IntHash64Impl (fmix64 of x ^ salt) — cityHash64's numeric
    per-argument hash (hashing.int_hash64_py)."""
    x = v ^ np.uint64(0x4CF2D2BAAE6DA887)
    x = x ^ (x >> np.uint64(33))
    x = x * _FM1
    x = x ^ (x >> np.uint64(33))
    x = x * _FM2
    return x ^ (x >> np.uint64(33))


def int_hash32_np(v):
    """CH IntHash32Impl: Thomas Wang's 64->32 mix over
    v ^ 0x75D9543DE018BF45 (src/Common/HashTable/Hash.h intHash32),
    low 32 bits (hashing.int_hash32_py)."""
    k = v ^ np.uint64(0x75D9543DE018BF45)
    k = ~k + (k << np.uint64(18))
    k = k ^ ((k >> np.uint64(31)) | (k << np.uint64(33)))
    k = k * np.uint64(21)
    k = k ^ (k >> np.uint64(11))
    k = k + (k << np.uint64(6))
    k = k ^ (k >> np.uint64(22))
    return k & _M32


def hl16_np(u, v):
    """CityHash_v1_0_2 Hash128to64 — the combineHashes of cityHash64
    and xxHash64 (cityhash._hl16_py)."""
    a = (u ^ v) * _KMUL
    a = a ^ (a >> np.uint64(47))
    b = (v ^ a) * _KMUL
    b = b ^ (b >> np.uint64(47))
    return b * _KMUL


def _siprounds(v0, v1, v2, v3, n: int):
    for _ in range(n):
        v0 = v0 + v1
        v1 = _rotl(v1, 13) ^ v0
        v0 = _rotl(v0, 32)
        v2 = v2 + v3
        v3 = _rotl(v3, 16) ^ v2
        v0 = v0 + v3
        v3 = _rotl(v3, 21) ^ v0
        v2 = v2 + v1
        v1 = _rotl(v1, 17) ^ v2
        v2 = _rotl(v2, 32)
    return v0, v1, v2, v3


def _sip_words(words, nbytes: int):
    """SipHash-2-4(k=0) over ``nbytes`` little-endian bytes carried as
    full 8-byte words (the last, partial word is the tail block)."""
    n = len(words[0]) if words else 0
    v0 = np.full(n, _SC0)
    v1 = np.full(n, _SC1)
    v2 = np.full(n, _SC2)
    v3 = np.full(n, _SC3)
    nwords = nbytes // 8
    for m in words[:nwords]:
        v3 = v3 ^ m
        v0, v1, v2, v3 = _siprounds(v0, v1, v2, v3, 2)
        v0 = v0 ^ m
    tail = (
        words[nwords]
        if nbytes % 8
        else np.zeros(n, dtype=np.uint64)
    )
    b = (np.uint64(nbytes & 0xFF) << np.uint64(56)) | tail
    v3 = v3 ^ b
    v0, v1, v2, v3 = _siprounds(v0, v1, v2, v3, 2)
    v0 = v0 ^ b
    v2 = v2 ^ np.uint64(0xFF)
    v0, v1, v2, v3 = _siprounds(v0, v1, v2, v3, 4)
    return v0 ^ v1 ^ v2 ^ v3


def sip64_np(v, nbytes: int):
    return _sip_words([v], nbytes)


def sip64_pair_np(h0, h1):
    """The CH combineHashes for sipHash64: SipHash of the 16-byte LE
    pair (h_prev, h_i)."""
    return _sip_words([h0, h1], 16)


def _xx_avalanche(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def xxh64_np(v, nbytes: int):
    """XXH64 (seed 0) over the value's nbytes-wide LE layout
    (nbytes <= 8 — the numeric-argument case)."""
    n = len(v)
    h = np.full(n, _P5 + np.uint64(nbytes))
    i = 0
    if nbytes == 8:
        # one 8-byte stride: h ^= round(0, w); rotl27 * P1 + P4
        k = v * _P2
        k = _rotl(k, 31)
        k = k * _P1
        h = h ^ k
        h = _rotl(h, 27) * _P1 + _P4
        i = 8
    elif nbytes >= 4:
        h = h ^ ((v & _M32) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        i = 4
    for k in range(i, nbytes):
        byte = (v >> np.uint64(8 * k)) & np.uint64(0xFF)
        h = h ^ (byte * _P5)
        h = _rotl(h, 11) * _P1
    return _xx_avalanche(h)


def murmur2_64_np(v, nbytes: int, seed: int = 0):
    # seed ^ (n * M2) in Python ints (numpy scalar mul warns on the
    # intended wraparound)
    h0 = (seed ^ (nbytes * 0xC6A4A7935BD1E995)) & 0xFFFFFFFFFFFFFFFF
    h = np.full(len(v), np.uint64(h0))
    if nbytes == 8:
        k = v * _M2
        k = k ^ (k >> np.uint64(47))
        k = k * _M2
        h = h ^ k
        h = h * _M2
    elif nbytes:
        h = h ^ v
        h = h * _M2
    h = h ^ (h >> np.uint64(47))
    h = h * _M2
    return h ^ (h >> np.uint64(47))


def murmur2_64_pair_np(h0, h1, seed: int = 0):
    """murmur2_64 of the 16-byte LE pair."""
    s0 = (seed ^ (16 * 0xC6A4A7935BD1E995)) & 0xFFFFFFFFFFFFFFFF
    h = np.full(len(h0), np.uint64(s0))
    for w in (h0, h1):
        k = w * _M2
        k = k ^ (k >> np.uint64(47))
        k = k * _M2
        h = h ^ k
        h = h * _M2
    h = h ^ (h >> np.uint64(47))
    h = h * _M2
    return h ^ (h >> np.uint64(47))


def _fmix_np(k):
    k = k ^ (k >> np.uint64(33))
    k = k * _FM1
    k = k ^ (k >> np.uint64(33))
    k = k * _FM2
    return k ^ (k >> np.uint64(33))


def _m3_words(words, nbytes: int):
    """MurmurHash3 x64_128 (seed 0) over ``nbytes`` little-endian
    bytes carried as 8-byte words (zero beyond ``nbytes``): (h1, h2)."""
    n = len(words[0])
    h1 = np.zeros(n, dtype=np.uint64)
    h2 = np.zeros(n, dtype=np.uint64)
    nblocks = nbytes // 16
    for i in range(nblocks):
        h1 = h1 ^ (_rotl(words[2 * i] * _3C1, 31) * _3C2)
        h1 = (_rotl(h1, 27) + h2) * np.uint64(5) + _3A1
        h2 = h2 ^ (_rotl(words[2 * i + 1] * _3C2, 33) * _3C1)
        h2 = (_rotl(h2, 31) + h1) * np.uint64(5) + _3A2
    rem = nbytes % 16
    if rem > 8:
        h2 = h2 ^ (_rotl(words[2 * nblocks + 1] * _3C2, 33) * _3C1)
    if rem:
        h1 = h1 ^ (_rotl(words[2 * nblocks] * _3C1, 31) * _3C2)
    h1 = h1 ^ np.uint64(nbytes)
    h2 = h2 ^ np.uint64(nbytes)
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix_np(h1)
    h2 = _fmix_np(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2


def murmur3_64_np(v, nbytes: int):
    """CH murmurHash3_64 (x64_128's h1 ^ h2) over nbytes <= 8."""
    h1, h2 = _m3_words([v], nbytes)
    return h1 ^ h2


def murmur3_64_pair_np(p0, p1):
    """murmur3_64 of the 16-byte LE pair — one full x64_128 block."""
    h1, h2 = _m3_words([p0, p1], 16)
    return h1 ^ h2


def murmur3_128_np(v, nbytes: int):
    """CH murmurHash3_128 over nbytes <= 8: an (n, 2) array of the
    digest's halves (h1, h2)."""
    return np.stack(_m3_words([v], nbytes), axis=1)


def murmur3_128_pair_np(d0, d1):
    """murmur3_128 of the 32-byte concatenation of two digests."""
    return np.stack(
        _m3_words([d0[:, 0], d0[:, 1], d1[:, 0], d1[:, 1]], 32), axis=1
    )


def _rotl32(x, s: int):
    # x lives in the low 32 bits of a uint64 array
    s = np.uint64(s)
    return ((x << s) | (x >> (np.uint64(32) - s))) & _M32


def murmur2_32_np(v, nbytes: int, seed: int = 0):
    """MurmurHash2 (32-bit) over nbytes <= 8 of LE layout — the
    murmurHash2_32 / kafkaMurmurHash carrier (mask applied by the
    caller, per CH's Impl)."""
    h = np.full(len(v), (np.uint64(seed) ^ np.uint64(nbytes)) & _M32)
    nwords = nbytes // 4
    for i in range(nwords):
        k = (v >> np.uint64(32 * i)) & _M32
        k = (k * _M2_32) & _M32
        k = k ^ (k >> np.uint64(24))
        k = (k * _M2_32) & _M32
        h = (h * _M2_32) & _M32
        h = h ^ k
    rem = nbytes % 4
    if rem:
        tail = (v >> np.uint64(32 * nwords)) & np.uint64(
            (1 << (8 * rem)) - 1
        )
        h = h ^ tail
        h = (h * _M2_32) & _M32
    h = h ^ (h >> np.uint64(13))
    h = (h * _M2_32) & _M32
    return h ^ (h >> np.uint64(15))


def _pair32(h0, h1):
    """The 8-byte LE pair of two UInt32 hashes as one uint64 value —
    the combine stream of the 32-bit family members."""
    return (h0 & _M32) | ((h1 & _M32) << np.uint64(32))


def murmur2_32_pair_np(h0, h1, seed: int = 0):
    """murmur2_32 of the 8-byte LE pair of two UInt32 values."""
    return murmur2_32_np(_pair32(h0, h1), 8, seed)


# xx32
_Q1 = np.uint64(2654435761)
_Q2 = np.uint64(2246822519)
_Q3 = np.uint64(3266489917)
_Q4 = np.uint64(668265263)
_Q5 = np.uint64(374761393)


def xxh32_np(v, nbytes: int):
    """XXH32 (seed 0) over the value's nbytes-wide LE layout
    (nbytes <= 8, so no 16-byte stripe)."""
    h = np.full(len(v), (_Q5 + np.uint64(nbytes)) & _M32)
    nwords = nbytes // 4
    for i in range(nwords):
        lane = (v >> np.uint64(32 * i)) & _M32
        h = (_rotl32((h + lane * _Q3) & _M32, 17) * _Q4) & _M32
    for k in range(4 * nwords, nbytes):
        byte = (v >> np.uint64(8 * k)) & np.uint64(0xFF)
        h = (_rotl32((h + byte * _Q5) & _M32, 11) * _Q1) & _M32
    h = h ^ (h >> np.uint64(15))
    h = (h * _Q2) & _M32
    h = h ^ (h >> np.uint64(13))
    h = (h * _Q3) & _M32
    return h ^ (h >> np.uint64(16))


def xxh32_pair_np(h0, h1):
    """xxh32 of the 8-byte LE pair of two UInt32 values."""
    return xxh32_np(_pair32(h0, h1), 8)


# murmur3 x86_32
_3C1_32 = np.uint64(0xCC9E2D51)
_3C2_32 = np.uint64(0x1B873593)
_3F1_32 = np.uint64(0x85EBCA6B)
_3F2_32 = np.uint64(0xC2B2AE35)


def _m3_32_k(k):
    k = (k * _3C1_32) & _M32
    return (_rotl32(k, 15) * _3C2_32) & _M32


def murmur3_32_np(v, nbytes: int):
    """MurmurHash3 x86_32 (seed 0) over nbytes <= 8 of LE layout."""
    h = np.zeros(len(v), dtype=np.uint64)
    nwords = nbytes // 4
    for i in range(nwords):
        h = h ^ _m3_32_k((v >> np.uint64(32 * i)) & _M32)
        h = (_rotl32(h, 13) * np.uint64(5) + np.uint64(0xE6546B64)) & _M32
    rem = nbytes % 4
    if rem:
        tail = (v >> np.uint64(32 * nwords)) & np.uint64(
            (1 << (8 * rem)) - 1
        )
        h = h ^ _m3_32_k(tail)
    h = h ^ np.uint64(nbytes)
    h = h ^ (h >> np.uint64(16))
    h = (h * _3F1_32) & _M32
    h = h ^ (h >> np.uint64(13))
    h = (h * _3F2_32) & _M32
    return h ^ (h >> np.uint64(16))


def murmur3_32_pair_np(h0, h1):
    """murmur3_32 of the 8-byte LE pair of two UInt32 values."""
    return murmur3_32_np(_pair32(h0, h1), 8)


# kind -> (numeric kernel(v, nbytes, seed), pair combine(h0, h1, seed),
#          (module, function) of the pure-Python model for any other
#          argument). CH's combineHashes: cityHash64 and xxHash64 fold
#          through CityHash's Hash128to64 of (h_prev, h_i); the rest
#          rehash the little-endian pair of the two hashes.
HASH_KINDS = {
    # cityHash64 / URLHash / intHash64: CH's ImplCityHash64 sets
    # use_int_hash_for_pods, so a numeric argument goes through
    # IntHash64Impl (the salted fmix64), not CityHash64 of its bytes
    "city": (
        lambda v, w, s: int_hash64_np(v),
        lambda a, b, s: hl16_np(a, b),
        ("cityhash", "city_hash64_py"),
    ),
    "int32": (lambda v, w, s: int_hash32_np(v), None, None),
    "sip": (
        lambda v, w, s: sip64_np(v, w),
        lambda a, b, s: sip64_pair_np(a, b),
        ("siphash", "sip_hash64_py"),
    ),
    "xx": (
        lambda v, w, s: xxh64_np(v, w),
        lambda a, b, s: hl16_np(a, b),
        ("xxhash", "xxh64_py"),
    ),
    "xx32": (
        lambda v, w, s: xxh32_np(v, w),
        lambda a, b, s: xxh32_pair_np(a, b),
        ("xxhash", "xxh32_py"),
    ),
    # murmurHash2_64 (seed 0) and gccMurmurHash (libstdc++ seed)
    "m2_64": (
        murmur2_64_np,
        murmur2_64_pair_np,
        ("murmur", "murmur2_64_py"),
    ),
    # murmurHash2_32 (seed 0) and kafkaMurmurHash (Kafka's seed, with
    # the toPositive mask applied to every hash and combine)
    "m2_32": (
        murmur2_32_np,
        murmur2_32_pair_np,
        ("murmur", "murmur2_32_py"),
    ),
    "m3_32": (
        lambda v, w, s: murmur3_32_np(v, w),
        lambda a, b, s: murmur3_32_pair_np(a, b),
        ("murmur", "murmur3_32_py"),
    ),
    "m3_64": (
        lambda v, w, s: murmur3_64_np(v, w),
        lambda a, b, s: murmur3_64_pair_np(a, b),
        ("murmur3_128", "murmur3_64_py"),
    ),
    # the FixedString(16) digest, returned as 32 uppercase hex chars of
    # its bytes (h1 LE, then h2 LE)
    "m3_128": (
        lambda v, w, s: murmur3_128_np(v, w),
        lambda a, b, s: murmur3_128_pair_np(a, b),
        ("murmur3_128", "murmur3_128_py"),
    ),
}


def _model_rows(fn, arr):
    """The model over every row of a binary array (NULL rows hash the
    empty input; the caller masks them)."""
    empty = fn(b"")
    vals = [empty if b is None else fn(b) for b in arr.to_pylist()]
    return np.array(vals, dtype=np.uint64).reshape(
        (len(arr),) + np.shape(empty)
    )


def hash_arrow(kind: str, widths, seed: int, mask, cols):
    """One CH hash call over its Arrow argument arrays. ``widths[i]``
    is the CH byte width of a numeric argument (an int64 bit-pattern
    array), or None for an argument that arrives as binary. Returns
    an int64 array, or the hex digests for ``m3_128``."""
    import pyarrow as pa

    one, combine, model = HASH_KINDS[kind]

    def masked(h):
        return h & np.uint64(mask) if mask is not None else h

    fn = None
    out = None
    for c, w in zip(cols, widths):
        if w is None:
            if fn is None:
                import functools
                import importlib

                m = importlib.import_module(f"{__package__}.{model[0]}")
                fn = getattr(m, model[1])
                if seed:
                    fn = functools.partial(fn, seed=seed)
            h = _model_rows(fn, c)
        else:
            h = one(c.fill_null(0).to_numpy().view(np.uint64), w, seed)
        h = masked(h)
        out = h if out is None else masked(combine(out, h, seed))
    nulls = None
    for c in cols:
        if c.null_count:
            n = c.is_null().to_numpy(zero_copy_only=False)
            nulls = n if nulls is None else nulls | n
    if out.ndim == 2:
        hx = out.astype("<u8").tobytes().hex().upper()
        return pa.array(
            [hx[32 * i : 32 * i + 32] for i in range(len(out))],
            pa.string(),
            mask=nulls,
        )
    return pa.array(out.view(np.int64), mask=nulls)
