"""Numeric-input oracle emitters for the byte-exact hash family.

CH hashes a numeric argument one of two ways
(src/Functions/FunctionsHashing.h executeIntType): functions whose
Impl sets use_int_hash_for_pods (cityHash64) route the ZERO-EXTENDED
bit pattern through IntHash64Impl — replayed here by
:class:`IntHash64Emitter`; the rest (sipHash64, xxHash64/32, the
murmur family) apply the byte hash to the value's native
little-endian layout (sizeof(T) bytes). The engine does the same:
ch_compat._hash_udf hands each argument to hash_np.hash_arrow, one
Arrow kernel for every argument type. The U64
subclasses replay the byte-stream algorithms in DuckDB HUGEINT with
the input as a 64-bit VALUE instead of an ASCII string: byte k of
the stream is plain arithmetic on the value ((v >> 8*(k-1)) & 0xFF),
and reads past the value's width return 0, exactly like the string
emitters' ascii(substr(...)) fetches. Every base-class chain routes
byte access through ONE fetch method (f_le / f64le / f32-f64), so a
single override per emitter retargets the whole algorithm; the
caller pins the length class (8 bytes for Int64/UInt64 columns), so
the dispatch is static.

Validated in tests/test_numeric_hash_parity.py: each u64-mode
emitter is pinned against the Python byte models over random 64-bit
values (including the sign straddle), and the Spark side against the
same models end-to-end through run_ch_query.
"""

from __future__ import annotations

from .cityhash import CityEmitter
from .murmur import MurmurEmitter
from .murmur3_128 import Murmur128Emitter
from .siphash import SipEmitter
from .xxhash import XxEmitter


def _u64_fetch(e: str, pos: str, nbytes: int) -> str:
    """Bytes [pos, pos+nbytes) (1-based) of the u64 value `e` as a
    little-endian HUGEINT word; positions past byte 8 read 0."""
    return (
        f"((({e}) // (CAST(1 AS HUGEINT) << (8 * (({pos}) - 1)))) % "
        f"(CAST(1 AS HUGEINT) << {8 * nbytes}))"
    )


class IntHash64Emitter(CityEmitter):
    """CH IntHash64Impl in DuckDB HUGEINT (staged steps): fmix64 of
    x ^ salt. This — not a byte hash over the LE layout — is what
    CH's use_int_hash_for_pods functions (cityHash64) apply to
    numeric arguments (FunctionsHashing.h executeIntType). Same
    model as hashing.int_hash64_py and the inline chain in
    queries/ch_sql_q._sampling_hash_oracle; rides CityEmitter's
    HUGEINT primitives (mulc/xor), adding only the 33-bit smix."""

    def _smix33(self, a: str) -> str:
        return self.emit(f"xor({a}, {a} // {1 << 33})")

    def int_hash64(self, x: str) -> str:
        h = self.xor(x, str(0x4CF2D2BAAE6DA887))
        h = self._smix33(h)
        h = self.mulc(h, 0xFF51AFD7ED558CCD)
        h = self._smix33(h)
        h = self.mulc(h, 0xC4CEB9FE1A85EC53)
        return self._smix33(h)


class XxU64Emitter(XxEmitter):
    def f_le(self, e: str, pos: str, nbytes: int) -> str:
        return self.emit(_u64_fetch(e, pos, nbytes))


class SipU64Emitter(SipEmitter):
    def f64le(self, e: str, pos: str) -> str:
        return self.emit(_u64_fetch(e, pos, 8))


class MurmurU64Emitter(MurmurEmitter):
    def f_le(self, e: str, pos: str, nbytes: int) -> str:
        return self.emit(_u64_fetch(e, pos, nbytes))


# (No City u64-mode emitter: cityHash64 never hashes a numeric
# argument's byte stream — use_int_hash_for_pods routes numerics
# through IntHash64Emitter above, and its combine is Hash128to64 on
# the per-arg hashes, emitted by CityEmitter.hl16 directly.)


# --- pair-stream mode: the combineHashes input ---------------------
# CH's multi-arg combine hashes the little-endian PAIR of the two
# per-argument hashes (h_prev LE || h_i LE, 16 bytes for the 64-bit
# family, 8 for the 32-bit). In that stream every word read the
# chains perform lands exactly at position 1 or 1+width, and every
# other (CASE-gated, unused) fetch reads past the end — so the fetch
# compiles to a CASE on the position expression. The chain pins the
# length (16 or 8), making the position arithmetic constant-foldable.


def _pair_fetch(pos: str, w1: str, w2: str, width: int) -> str:
    return (
        f"CASE ({pos}) WHEN 1 THEN {w1} WHEN {1 + width} THEN {w2} "
        f"ELSE CAST(0 AS HUGEINT) END"
    )


class _PairMixin:
    def _bind_pair(self, w1: str, w2: str, width: int) -> None:
        self._pair = (w1, w2, width)

    def _pf(self, pos: str) -> str:
        w1, w2, width = self._pair
        return self.emit(_pair_fetch(pos, w1, w2, width))


class SipPairEmitter(_PairMixin, SipEmitter):
    def __init__(self, prefix: str, w1: str, w2: str):
        super().__init__(prefix)
        self._bind_pair(w1, w2, 8)

    def f64le(self, e: str, pos: str) -> str:
        return self._pf(pos)


class MurmurPairEmitter(_PairMixin, MurmurEmitter):
    def __init__(self, prefix: str, w1: str, w2: str, width: int = 8):
        super().__init__(prefix)
        self._bind_pair(w1, w2, width)

    def f_le(self, e: str, pos: str, nbytes: int) -> str:
        return self._pf(pos)


class Murmur128U64Emitter(Murmur128Emitter):
    def f_le(self, e: str, pos: str, nbytes: int) -> str:
        return self.emit(_u64_fetch(e, pos, nbytes))


class Murmur128PairEmitter(_PairMixin, Murmur128Emitter):
    def __init__(self, prefix: str, w1: str, w2: str, width: int = 8):
        super().__init__(prefix)
        self._bind_pair(w1, w2, width)

    def f_le(self, e: str, pos: str, nbytes: int) -> str:
        return self._pf(pos)
