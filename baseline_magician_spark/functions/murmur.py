"""Canonical MurmurHash64A, MurmurHash2-32 and MurmurHash3 x86_32.

CH's `murmurHash2_64` is Appleby's MurmurHash64A and
`murmurHash3_32` is MurmurHash3 x86_32, both seed 0 — public-domain
algorithms (smhasher); `murmurHash2_32`, `gccMurmurHash` and
`kafkaMurmurHash` are the same cores at other seeds. The models are
validated against Spark's own JVM Murmur3_x86_32 for murmur3's word
path (identical for 4-byte-aligned inputs; Spark's tail handling
deviates from canonical, ours does not — tests/test_murmur.py) and
against Kafka's published vectors for MurmurHash2-32. CH-server
byte-compat is asserted from the documented algorithm (README hash
table).

Two faces, as in cityhash.py: the pure-Python models (the executed
code for string arguments, row by row inside the one Arrow hash
kernel, functions/hash_np.hash_arrow) and the DuckDB HUGEINT emitter
for oracles. The module imports no pyspark.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1

M2 = 0xC6A4A7935BD1E995  # MurmurHash64A multiplier
C1 = 0xCC9E2D51  # murmur3 x86_32 constants
C2 = 0x1B873593
F1 = 0x85EBCA6B
F2 = 0xC2B2AE35


# --------------------------------------------------------------- python
def murmur2_64_py(data: bytes, seed: int = 0) -> int:
    n = len(data)
    h = (seed ^ (n * M2)) & _M64
    for off in range(0, n - n % 8, 8):
        k = int.from_bytes(data[off : off + 8], "little")
        k = (k * M2) & _M64
        k ^= k >> 47
        k = (k * M2) & _M64
        h ^= k
        h = (h * M2) & _M64
    rem = n % 8
    if rem:
        h ^= int.from_bytes(data[n - rem :], "little")
        h = (h * M2) & _M64
    h ^= h >> 47
    h = (h * M2) & _M64
    h ^= h >> 47
    return h


M2_32 = 0x5BD1E995  # MurmurHash2 (32-bit) multiplier
KAFKA_SEED = 0x9747B28C  # Kafka Utils.murmur2 seed
GCC_SEED = 0xC70F6907  # libstdc++ _Hash_bytes seed


def murmur2_32_py(data: bytes, seed: int = 0) -> int:
    """Appleby's MurmurHash2 (32-bit). Validated against Kafka's
    published Utils.murmur2 test vectors at seed 0x9747b28c ("21" ->
    -973932308, "abc" -> 479470107, "foobar" -> -790332482, ... —
    kafka clients/src/test UtilsTest), which pins every code path;
    CH murmurHash2_32 is the same algorithm at seed 0."""
    n = len(data)
    h = (seed ^ n) & _M32
    for off in range(0, n - n % 4, 4):
        k = int.from_bytes(data[off : off + 4], "little")
        k = (k * M2_32) & _M32
        k ^= k >> 24
        k = (k * M2_32) & _M32
        h = (h * M2_32) & _M32
        h ^= k
    rem = n % 4
    if rem:
        h ^= int.from_bytes(data[n - rem :], "little")
        h = (h * M2_32) & _M32
    h ^= h >> 13
    h = (h * M2_32) & _M32
    h ^= h >> 15
    return h


def _rotl32_py(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmur3_32_py(data: bytes, seed: int = 0) -> int:
    n = len(data)
    h = seed
    for off in range(0, n - n % 4, 4):
        k = int.from_bytes(data[off : off + 4], "little")
        k = (k * C1) & _M32
        k = _rotl32_py(k, 15)
        k = (k * C2) & _M32
        h ^= k
        h = _rotl32_py(h, 13)
        h = (h * 5 + 0xE6546B64) & _M32
    rem = n % 4
    if rem:
        k = int.from_bytes(data[n - rem :], "little")
        k = (k * C1) & _M32
        k = _rotl32_py(k, 15)
        k = (k * C2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * F1) & _M32
    h ^= h >> 13
    h = (h * F2) & _M32
    h ^= h >> 16
    return h


# --------------------------------------------------------------- duckdb
_P64 = str(1 << 64)
_P32 = str(1 << 32)


class MurmurEmitter:
    """Straight-line HUGEINT replay for oracles, word count
    CASE-dispatched (ASCII inputs only)."""

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

    # ---- MurmurHash64A
    def m2_mul(self, a: str) -> str:
        cl, ch = M2 & 0xFFFFFFFF, M2 >> 32
        return self.emit(
            f"(({a} * {cl}) + (({a} * {ch}) % {_P32}) * {_P32}) % {_P64}"
        )

    def m2_chain(self, e: str, n: str, words: int, seed: int = 0) -> str:
        h = self.m2_mul(f"CAST({n} AS HUGEINT)")  # h = n*m
        if seed:
            h = self.emit(f"xor(CAST({seed} AS HUGEINT), {h})")
        for w in range(words):
            k = self.f_le(e, str(w * 8 + 1), 8)
            k = self.m2_mul(k)
            k = self.emit(f"xor({k}, {k} // {1 << 47})")
            k = self.m2_mul(k)
            h = self.m2_mul(self.emit(f"xor({h}, {k})"))
        tail = self.f_le(e, f"({n}) - (({n}) % 8) + 1", 8)
        h = self.emit(
            f"CASE WHEN ({n}) % 8 > 0 THEN "
            f"(xor({h}, {tail}) * {M2 & 0xFFFFFFFF} + "
            f"((xor({h}, {tail}) * {M2 >> 32}) % {_P32}) * {_P32}) % {_P64} "
            f"ELSE {h} END"
        )
        h = self.m2_mul(self.emit(f"xor({h}, {h} // {1 << 47})"))
        return self.emit(f"xor({h}, {h} // {1 << 47})")

    def m2_dispatch(
        self, e: str, n: str, max_len: int, seed: int = 0
    ) -> str:
        arms = []
        for w in range(max_len // 8 + 1):
            h = self.m2_chain(e, n, w, seed)
            arms.append(f"WHEN ({n}) // 8 = {w} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    # ---- MurmurHash2 (32-bit; seed 0 = CH murmurHash2_32, seed
    # 0x9747b28c = the Kafka base)
    def m2_32_mul(self, a: str) -> str:
        return self.emit(f"({a} * {M2_32}) % {_P32}")

    def m2_32_chain(
        self, e: str, n: str, words: int, seed: int = 0
    ) -> str:
        h = self.emit(
            f"xor(CAST({seed} AS HUGEINT), CAST({n} AS HUGEINT))"
        )
        for w in range(words):
            k = self.m2_32_mul(self.f_le(e, str(w * 4 + 1), 4))
            k = self.m2_32_mul(
                self.emit(f"xor({k}, {k} // {1 << 24})")
            )
            h = self.emit(f"xor({self.m2_32_mul(h)}, {k})")
        tail = self.f_le(e, f"({n}) - (({n}) % 4) + 1", 4)
        h = self.emit(
            f"CASE WHEN ({n}) % 4 > 0 THEN "
            f"(xor({h}, {tail}) * {M2_32}) % {_P32} ELSE {h} END"
        )
        h = self.m2_32_mul(self.emit(f"xor({h}, {h} // {1 << 13})"))
        return self.emit(f"xor({h}, {h} // {1 << 15})")

    def m2_32_dispatch(
        self, e: str, n: str, max_len: int, seed: int = 0
    ) -> str:
        arms = []
        for w in range(max_len // 4 + 1):
            h = self.m2_32_chain(e, n, w, seed)
            arms.append(f"WHEN ({n}) // 4 = {w} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    # ---- MurmurHash3 x86_32
    def m3_rotl(self, a: str, r: int) -> str:
        return self.emit(
            f"(({a} * {1 << r}) % {_P32} + {a} // {1 << (32 - r)}) % {_P32}"
        )

    def m3_mixk(self, k: str) -> str:
        k = self.emit(f"({k} * {C1}) % {_P32}")
        k = self.m3_rotl(k, 15)
        return self.emit(f"({k} * {C2}) % {_P32}")

    def m3_chain(self, e: str, n: str, words: int) -> str:
        h = self.emit("CAST(0 AS HUGEINT)")
        for w in range(words):
            k = self.m3_mixk(self.f_le(e, str(w * 4 + 1), 4))
            h = self.emit(f"xor({h}, {k})")
            h = self.m3_rotl(h, 13)
            h = self.emit(f"({h} * 5 + 3864292196) % {_P32}")
        tail = self.m3_mixk(self.f_le(e, f"({n}) - (({n}) % 4) + 1", 4))
        h = self.emit(
            f"CASE WHEN ({n}) % 4 > 0 THEN xor({h}, {tail}) ELSE {h} END"
        )
        h = self.emit(f"xor({h}, CAST({n} AS HUGEINT))")
        h = self.emit(f"(xor({h}, {h} // {1 << 16}) * {F1}) % {_P32}")
        h = self.emit(f"(xor({h}, {h} // {1 << 13}) * {F2}) % {_P32}")
        return self.emit(f"xor({h}, {h} // {1 << 16})")

    def m3_dispatch(self, e: str, n: str, max_len: int) -> str:
        arms = []
        for w in range(max_len // 4 + 1):
            h = self.m3_chain(e, n, w)
            arms.append(f"WHEN ({n}) // 4 = {w} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    def signed64(self, a: str) -> str:
        return self.emit(
            f"CAST(CASE WHEN {a} >= {1 << 63} THEN {a} - {_P64} "
            f"ELSE {a} END AS BIGINT)"
        )
