"""Canonical MurmurHash3 x64_128 (seed 0).

CH's `murmurHash3_64` / `murmurHash3_128` are built on Appleby's
MurmurHash3_x64_128 (public domain, smhasher;
src/Functions/FunctionsHashing.h MurmurHash3Impl64 returns the XOR
of the two 64-bit halves, MurmurHash3Impl128 the 16 output bytes).

Validation: the Python model reproduces the published mmh3 vectors
exactly — hash64("foo") == (-2129773440516405919,
9128664383759220103) and hash128("foo") ==
168394135621993849475852668931176482145 (the values printed in the
mmh3 README), plus the all-zero empty-input digest — and the DuckDB
emitter is pinned bit-for-bit against the model across every length
class (tests/test_murmur3_128.py).

Two faces, as in cityhash.py: the pure-Python model (the executed
code for string arguments, row by row inside the one Arrow hash
kernel, functions/hash_np.hash_arrow) and the DuckDB HUGEINT emitter
for oracles. The module imports no pyspark.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1

C1 = 0x87C37B91114253D5
C2 = 0x4CF5AD432745937F
A1 = 0x52DCE729
A2 = 0x38495AB5
FM1 = 0xFF51AFD7ED558CCD
FM2 = 0xC4CEB9FE1A85EC53


# --------------------------------------------------------------- python
def _rotl_py(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix_py(k: int) -> int:
    k ^= k >> 33
    k = (k * FM1) & _M64
    k ^= k >> 33
    k = (k * FM2) & _M64
    k ^= k >> 33
    return k


def murmur3_128_py(data: bytes, seed: int = 0) -> tuple[int, int]:
    n = len(data)
    h1 = h2 = seed
    for i in range(n // 16):
        k1 = int.from_bytes(data[16 * i : 16 * i + 8], "little")
        k2 = int.from_bytes(data[16 * i + 8 : 16 * i + 16], "little")
        k1 = (_rotl_py((k1 * C1) & _M64, 31) * C2) & _M64
        h1 ^= k1
        h1 = ((_rotl_py(h1, 27) + h2) * 5 + A1) & _M64
        k2 = (_rotl_py((k2 * C2) & _M64, 33) * C1) & _M64
        h2 ^= k2
        h2 = ((_rotl_py(h2, 31) + h1) * 5 + A2) & _M64
    tail = data[(n // 16) * 16 :]
    rem = len(tail)
    if rem > 8:
        k2 = int.from_bytes(tail[8:], "little")
        h2 ^= (_rotl_py((k2 * C2) & _M64, 33) * C1) & _M64
    if rem > 0:
        k1 = int.from_bytes(tail[:8], "little")
        h1 ^= (_rotl_py((k1 * C1) & _M64, 31) * C2) & _M64
    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix_py(h1)
    h2 = _fmix_py(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1, h2


def murmur3_64_py(data: bytes, seed: int = 0) -> int:
    h1, h2 = murmur3_128_py(data, seed)
    return h1 ^ h2


# --------------------------------------------------------------- duckdb
_P64 = str(1 << 64)
_P32 = str(1 << 32)


class Murmur128Emitter:
    """Straight-line HUGEINT replay for oracles, block count
    CASE-dispatched (ASCII inputs only; byte access rides the
    overridable ``f_le``, so a u64-input subclass needs one
    override, like functions/hash_numeric.py)."""

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix
        self.steps: list[str] = []
        self._k = 0

    def emit(self, sql: str) -> str:
        alias = f"{self.prefix}{self._k}"
        self._k += 1
        self.steps.append(f"{sql} AS {alias}")
        return alias

    def f_le(self, e: str, pos: str, nbytes: int) -> str:
        terms = [
            f"CAST(ascii(substr({e}, ({pos}) + {k}, 1)) AS HUGEINT)"
            f" * {1 << (8 * k)}"
            for k in range(nbytes)
        ]
        return self.emit(" + ".join(terms))

    def mulc(self, a: str, c: int) -> str:
        cl, ch = c & 0xFFFFFFFF, c >> 32
        return self.emit(
            f"(({a} * {cl}) + (({a} * {ch}) % {_P32}) * {_P32}) % {_P64}"
        )

    def rotl(self, a: str, r: int) -> str:
        return self.emit(
            f"(({a} * {1 << r}) % {_P64} + {a} // {1 << (64 - r)}) % {_P64}"
        )

    def _mix(self, k: str, ca: int, rot: int, cb: int) -> str:
        return self.mulc(self.rotl(self.mulc(k, ca), rot), cb)

    def fmix(self, k: str) -> str:
        k = self.mulc(self.emit(f"xor({k}, {k} // {1 << 33})"), FM1)
        k = self.mulc(self.emit(f"xor({k}, {k} // {1 << 33})"), FM2)
        return self.emit(f"xor({k}, {k} // {1 << 33})")

    def chain(
        self, e: str, n: str, blocks: int, seed: int = 0
    ) -> tuple[str, str]:
        h1 = self.emit(f"CAST({seed & _M64} AS HUGEINT)")
        h2 = self.emit(f"CAST({seed & _M64} AS HUGEINT)")
        for w in range(blocks):
            k1 = self._mix(self.f_le(e, str(16 * w + 1), 8), C1, 31, C2)
            h1 = self.emit(
                f"({self.rotl(self.emit(f'xor({h1}, {k1})'), 27)} "
                f"+ {h2}) % {_P64}"
            )
            h1 = self.emit(f"({h1} * 5 + {A1}) % {_P64}")
            k2 = self._mix(self.f_le(e, str(16 * w + 9), 8), C2, 33, C1)
            h2 = self.emit(
                f"({self.rotl(self.emit(f'xor({h2}, {k2})'), 31)} "
                f"+ {h1}) % {_P64}"
            )
            h2 = self.emit(f"({h2} * 5 + {A2}) % {_P64}")
        start = f"({n}) - (({n}) % 16)"
        t1 = self._mix(self.f_le(e, f"{start} + 1", 8), C1, 31, C2)
        t2 = self._mix(self.f_le(e, f"{start} + 9", 8), C2, 33, C1)
        h2 = self.emit(
            f"CASE WHEN ({n}) % 16 > 8 THEN xor({h2}, {t2}) "
            f"ELSE {h2} END"
        )
        h1 = self.emit(
            f"CASE WHEN ({n}) % 16 > 0 THEN xor({h1}, {t1}) "
            f"ELSE {h1} END"
        )
        h1 = self.emit(f"xor({h1}, CAST({n} AS HUGEINT))")
        h2 = self.emit(f"xor({h2}, CAST({n} AS HUGEINT))")
        h1 = self.emit(f"({h1} + {h2}) % {_P64}")
        h2 = self.emit(f"({h2} + {h1}) % {_P64}")
        h1 = self.fmix(h1)
        h2 = self.fmix(h2)
        h1 = self.emit(f"({h1} + {h2}) % {_P64}")
        h2 = self.emit(f"({h2} + {h1}) % {_P64}")
        return h1, h2

    def dispatch64(
        self, e: str, n: str, max_len: int, seed: int = 0
    ) -> str:
        """murmurHash3_64 (h1 XOR h2), block count CASE-dispatched."""
        arms = []
        for w in range(max_len // 16 + 1):
            h1, h2 = self.chain(e, n, w, seed)
            x = self.emit(f"xor({h1}, {h2})")
            arms.append(f"WHEN ({n}) // 16 = {w} THEN {x}")
        return self.emit("CASE " + " ".join(arms) + " END")

    def signed64(self, a: str) -> str:
        return self.emit(
            f"CAST(CASE WHEN {a} >= {1 << 63} THEN {a} - {_P64} "
            f"ELSE {a} END AS BIGINT)"
        )
