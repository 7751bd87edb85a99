"""SipHash-2-4 (zero key): the pure-Python model and the DuckDB
emitter.

CH's `sipHash64` is SipHash-2-4 with k0 = k1 = 0 over the value's
bytes. The algorithm is public (Aumasson & Bernstein, the SipHash
paper + public-domain reference implementation); this module
transcribes THAT spec and validates against the paper's reference
vectors (key 000102..0f, tests/test_siphash.py) — the reference repo
vendors CityHash for wire checksums but not SipHash, so CH-server
byte-compatibility is asserted from the documented algorithm, not
re-verified against a live server (README hash table notes this).

- ``sip_hash64_py(data)``        — Python reference model; the
  executed code for string arguments, row by row inside the one
  Arrow hash kernel (functions/hash_np.hash_arrow).
- ``SipEmitter``                 — straight-line DuckDB HUGEINT SQL
  for oracles (word count CASE-dispatched up to a caller max).

At 100 TB: narrow map-side projection, no shuffle — same profile as
cityHash64. The module imports no pyspark.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1

_C0 = 0x736F6D6570736575
_C1 = 0x646F72616E646F6D
_C2 = 0x6C7967656E657261
_C3 = 0x7465646279746573


# --------------------------------------------------------------- python
def _rotl_py(v: int, s: int) -> int:
    return ((v << s) | (v >> (64 - s))) & _M64


def _round_py(v0: int, v1: int, v2: int, v3: int):
    v0 = (v0 + v1) & _M64
    v1 = _rotl_py(v1, 13) ^ v0
    v0 = _rotl_py(v0, 32)
    v2 = (v2 + v3) & _M64
    v3 = _rotl_py(v3, 16) ^ v2
    v0 = (v0 + v3) & _M64
    v3 = _rotl_py(v3, 21) ^ v0
    v2 = (v2 + v1) & _M64
    v1 = _rotl_py(v1, 17) ^ v2
    v2 = _rotl_py(v2, 32)
    return v0, v1, v2, v3


def sip_hash64_py(data: bytes, k0: int = 0, k1: int = 0) -> int:
    v0, v1, v2, v3 = _C0 ^ k0, _C1 ^ k1, _C2 ^ k0, _C3 ^ k1
    n = len(data)
    for off in range(0, n - n % 8, 8):
        m = int.from_bytes(data[off : off + 8], "little")
        v3 ^= m
        v0, v1, v2, v3 = _round_py(v0, v1, v2, v3)
        v0, v1, v2, v3 = _round_py(v0, v1, v2, v3)
        v0 ^= m
    b = ((n & 0xFF) << 56) | int.from_bytes(data[n - n % 8 :], "little")
    v3 ^= b
    v0, v1, v2, v3 = _round_py(v0, v1, v2, v3)
    v0, v1, v2, v3 = _round_py(v0, v1, v2, v3)
    v0 ^= b
    v2 ^= 0xFF
    for _ in range(4):
        v0, v1, v2, v3 = _round_py(v0, v1, v2, v3)
    return v0 ^ v1 ^ v2 ^ v3


# --------------------------------------------------------------- duckdb
_P64 = str(1 << 64)


class SipEmitter:
    """Straight-line HUGEINT replay for oracles: the word loop is
    unrolled per word count and CASE-dispatched on length DIV 8
    (caller bounds the input length). ASCII inputs only."""

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix
        self.steps: list[str] = []
        self._k = 0

    def emit(self, sql: str) -> str:
        alias = f"{self.prefix}{self._k}"
        self._k += 1
        self.steps.append(f"{sql} AS {alias}")
        return alias

    def add(self, a: str, b: str) -> str:
        return self.emit(f"({a} + {b}) % {_P64}")

    def xor(self, a: str, b: str) -> str:
        return self.emit(f"xor({a}, CAST({b} AS HUGEINT))")

    def rotl(self, a: str, s: int) -> str:
        return self.emit(
            f"(({a} * {1 << s}) % {_P64} + {a} // {1 << (64 - s)}) % {_P64}"
        )

    def f64le(self, e: str, pos: str) -> str:
        terms = [
            f"CAST(ascii(substr({e}, ({pos}) + {k}, 1)) AS HUGEINT)"
            f" * {1 << (8 * k)}"
            for k in range(8)
        ]
        return self.emit(" + ".join(terms))

    def sround(self, v0: str, v1: str, v2: str, v3: str):
        a0 = self.add(v0, v1)
        v1a = self.xor(self.rotl(v1, 13), a0)
        v0b = self.rotl(a0, 32)
        c0 = self.add(v2, v3)
        v3a = self.xor(self.rotl(v3, 16), c0)
        v0c = self.add(v0b, v3a)
        v3b = self.xor(self.rotl(v3a, 21), v0c)
        v2b = self.add(c0, v1a)
        v1b = self.xor(self.rotl(v1a, 17), v2b)
        v2c = self.rotl(v2b, 32)
        return v0c, v1b, v2c, v3b

    def chain(self, e: str, n: str, words: int) -> str:
        """Full SipHash-2-4(k=0) for inputs with exactly `words`
        full 8-byte words (length DIV 8 == words)."""
        v0, v1, v2, v3 = (
            self.emit(f"CAST({_C0} AS HUGEINT)"),
            self.emit(f"CAST({_C1} AS HUGEINT)"),
            self.emit(f"CAST({_C2} AS HUGEINT)"),
            self.emit(f"CAST({_C3} AS HUGEINT)"),
        )
        for w in range(words):
            m = self.f64le(e, str(w * 8 + 1))
            v3 = self.xor(v3, m)
            for _ in range(2):
                v0, v1, v2, v3 = self.sround(v0, v1, v2, v3)
            v0 = self.xor(v0, m)
        # tail: ascii(substr past end) = 0, so the same 8-term fetch
        # zero-pads; the length byte rides the top byte
        tail = self.f64le(e, f"({n}) - (({n}) % 8) + 1")
        blk = self.emit(
            f"((CAST({n} AS HUGEINT) % 256) * {1 << 56} + {tail}) % {_P64}"
        )
        v3 = self.xor(v3, blk)
        for _ in range(2):
            v0, v1, v2, v3 = self.sround(v0, v1, v2, v3)
        v0 = self.xor(v0, blk)
        v2 = self.xor(v2, "255")
        for _ in range(4):
            v0, v1, v2, v3 = self.sround(v0, v1, v2, v3)
        return self.xor(self.xor(v0, v1), self.xor(v2, v3))

    def dispatch(self, e: str, n: str, max_len: int) -> str:
        arms = []
        for w in range(max_len // 8 + 1):
            h = self.chain(e, n, w)
            arms.append(f"WHEN ({n}) // 8 = {w} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    def signed(self, a: str) -> str:
        return self.emit(
            f"CAST(CASE WHEN {a} >= {1 << 63} THEN {a} - {_P64} "
            f"ELSE {a} END AS BIGINT)"
        )
