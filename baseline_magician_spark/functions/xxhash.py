"""Genuine XXH64 / XXH32 (seed 0) over RAW BYTES — byte-exact with
CH's `xxHash64` / `xxHash32`.

CH hashes the value's bytes with the canonical xxHash algorithms at
seed 0 (the docs' own example: xxHash32('Hello, world!') =
834093149 — reproduced by the model here). Spark's built-in
``F.xxhash64`` is the same XXH64 core but at seed 42 over Spark's
type-tagged row encoding, so it can NEVER match CH for strings. The
validation is the strongest in the hash family: the Python model is
bit-identical to Spark's JVM XXH64 (seed 42, binary input) across
all length classes — an independent implementation of the same
public spec — plus the CH docs value and the published empty-input
digests (XXH64('') = 0xEF46DB3751D8E999, XXH32('') = 0x02CC5D05).

Two faces, as in cityhash.py: the pure-Python models (``xxh64_py``,
``xxh32_py`` — the executed code for string arguments, row by row
inside the one Arrow hash kernel, functions/hash_np.hash_arrow) and
the DuckDB HUGEINT emitter for oracles. The module imports no
pyspark.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1

P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261

Q1, Q2, Q3, Q4, Q5 = (
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
)


# --------------------------------------------------------------- python
def _rotl_py(v: int, s: int) -> int:
    return ((v << s) | (v >> (64 - s))) & _M64


def _rnd_py(acc: int, lane: int) -> int:
    return (_rotl_py((acc + lane * P2) & _M64, 31) * P1) & _M64


def xxh64_py(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M64
        v2 = (seed + P2) & _M64
        v3 = seed & _M64
        v4 = (seed - P1) & _M64
        while i + 32 <= n:
            v1 = _rnd_py(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _rnd_py(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _rnd_py(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _rnd_py(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl_py(v1, 1)
            + _rotl_py(v2, 7)
            + _rotl_py(v3, 12)
            + _rotl_py(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _rnd_py(0, v)) * P1 + P4) & _M64
    else:
        h = (seed + P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _rnd_py(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl_py(h, 27) * P1 + P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & _M64
        h = (_rotl_py(h, 23) * P2 + P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * P5) & _M64
        h = (_rotl_py(h, 11) * P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * P2) & _M64
    h ^= h >> 29
    h = (h * P3) & _M64
    h ^= h >> 32
    return h


def _rotl32_py(v: int, s: int) -> int:
    return ((v << s) | (v >> (32 - s))) & _M32


def xxh32_py(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 16:
        v = [
            (seed + Q1 + Q2) & _M32,
            (seed + Q2) & _M32,
            seed & _M32,
            (seed - Q1) & _M32,
        ]
        while i + 16 <= n:
            for j in range(4):
                lane = int.from_bytes(
                    data[i + 4 * j : i + 4 * j + 4], "little"
                )
                v[j] = (_rotl32_py((v[j] + lane * Q2) & _M32, 13) * Q1) & _M32
            i += 16
        h = (
            _rotl32_py(v[0], 1)
            + _rotl32_py(v[1], 7)
            + _rotl32_py(v[2], 12)
            + _rotl32_py(v[3], 18)
        ) & _M32
    else:
        h = (seed + Q5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl32_py((h + lane * Q3) & _M32, 17) * Q4) & _M32
        i += 4
    while i < n:
        h = (_rotl32_py((h + data[i] * Q5) & _M32, 11) * Q1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * Q2) & _M32
    h ^= h >> 13
    h = (h * Q3) & _M32
    h ^= h >> 16
    return h


# --------------------------------------------------------------- duckdb
_P64S = str(1 << 64)
_P32S = str(1 << 32)


class XxEmitter:
    """Straight-line HUGEINT replay, stripe count CASE-dispatched."""

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

    def mulc64(self, a: str, c: int) -> str:
        cl, ch = c & 0xFFFFFFFF, c >> 32
        return self.emit(
            f"(({a} * {cl}) + (({a} * {ch}) % {_P32S}) * {_P32S}) % {_P64S}"
        )

    def rotl64(self, a: str, r: int) -> str:
        return self.emit(
            f"(({a} * {1 << r}) % {_P64S} + {a} // {1 << (64 - r)}) % {_P64S}"
        )

    def rnd(self, acc: str, lane: str) -> str:
        t = self.emit(
            f"({acc} + ({lane} * {P2 & 0xFFFFFFFF} + "
            f"(({lane} * {P2 >> 32}) % {_P32S}) * {_P32S}) % {_P64S}) % {_P64S}"
        )
        return self.mulc64(self.rotl64(t, 31), P1)

    def xxh64_chain(self, e: str, n: str, stripes: int, seed: int = 0) -> str:
        if stripes > 0:
            v1 = self.emit(f"CAST({(seed + P1 + P2) & _M64} AS HUGEINT)")
            v2 = self.emit(f"CAST({(seed + P2) & _M64} AS HUGEINT)")
            v3 = self.emit(f"CAST({seed & _M64} AS HUGEINT)")
            v4 = self.emit(f"CAST({(seed - P1) & _M64} AS HUGEINT)")
            for s in range(stripes):
                v1 = self.rnd(v1, self.f_le(e, str(32 * s + 1), 8))
                v2 = self.rnd(v2, self.f_le(e, str(32 * s + 9), 8))
                v3 = self.rnd(v3, self.f_le(e, str(32 * s + 17), 8))
                v4 = self.rnd(v4, self.f_le(e, str(32 * s + 25), 8))
            h = self.emit(
                f"({self.rotl64(v1, 1)} + {self.rotl64(v2, 7)} + "
                f"{self.rotl64(v3, 12)} + {self.rotl64(v4, 18)}) % {_P64S}"
            )
            for v in (v1, v2, v3, v4):
                z = self.rnd(self.emit("CAST(0 AS HUGEINT)"), v)
                h = self.emit(
                    f"({self.mulc64(self.emit(f'xor({h}, {z})'), P1)} + {P4}) % {_P64S}"
                )
        else:
            h = self.emit(f"CAST({(seed + P5) & _M64} AS HUGEINT)")
        h = self.emit(f"({h} + CAST({n} AS HUGEINT)) % {_P64S}")
        base = f"({n}) - (({n}) % 32)"
        for t in range(3):
            lane = self.f_le(e, f"{base} + {8 * t} + 1", 8)
            z = self.rnd(self.emit("CAST(0 AS HUGEINT)"), lane)
            nh = self.emit(
                f"({self.mulc64(self.rotl64(self.emit(f'xor({h}, {z})'), 27), P1)}"
                f" + {P4}) % {_P64S}"
            )
            h = self.emit(
                f"CASE WHEN (({n}) % 32) // 8 > {t} THEN {nh} ELSE {h} END"
            )
        lane4 = self.f_le(e, f"({n}) - (({n}) % 8) + 1", 4)
        x4 = self.emit(f"xor({h}, {self.mulc64(lane4, P1)})")
        nh4 = self.emit(
            f"({self.mulc64(self.rotl64(x4, 23), P2)} + {P3}) % {_P64S}"
        )
        h = self.emit(
            f"CASE WHEN ({n}) % 8 >= 4 THEN {nh4} ELSE {h} END"
        )
        for t in range(3):
            byt = self.f_le(e, f"({n}) - (({n}) % 4) + {t} + 1", 1)
            xb = self.emit(f"xor({h}, {self.mulc64(byt, P5)})")
            nhb = self.mulc64(self.rotl64(xb, 11), P1)
            h = self.emit(
                f"CASE WHEN ({n}) % 4 > {t} THEN {nhb} ELSE {h} END"
            )
        h = self.mulc64(self.emit(f"xor({h}, {h} // {1 << 33})"), P2)
        h = self.mulc64(self.emit(f"xor({h}, {h} // {1 << 29})"), P3)
        return self.emit(f"xor({h}, {h} // {1 << 32})")

    def xxh64_dispatch(self, e: str, n: str, max_len: int, seed: int = 0) -> str:
        arms = []
        for s in range(max_len // 32 + 1):
            h = self.xxh64_chain(e, n, s, seed)
            arms.append(f"WHEN ({n}) // 32 = {s} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    # ---- XXH32 (BIGINT-sized values, HUGEINT intermediates)
    def rotl32(self, a: str, r: int) -> str:
        return self.emit(
            f"(({a} * {1 << r}) % {_P32S} + {a} // {1 << (32 - r)}) % {_P32S}"
        )

    def xxh32_chain(self, e: str, n: str, stripes: int, seed: int = 0) -> str:
        if stripes > 0:
            v = [
                self.emit(f"CAST({(seed + Q1 + Q2) & _M32} AS HUGEINT)"),
                self.emit(f"CAST({(seed + Q2) & _M32} AS HUGEINT)"),
                self.emit(f"CAST({seed & _M32} AS HUGEINT)"),
                self.emit(f"CAST({(seed - Q1) & _M32} AS HUGEINT)"),
            ]
            for s in range(stripes):
                for j in range(4):
                    lane = self.f_le(e, str(16 * s + 4 * j + 1), 4)
                    t = self.emit(
                        f"({v[j]} + {lane} * {Q2}) % {_P32S}"
                    )
                    v[j] = self.emit(
                        f"({self.rotl32(t, 13)} * {Q1}) % {_P32S}"
                    )
            h = self.emit(
                f"({self.rotl32(v[0], 1)} + {self.rotl32(v[1], 7)} + "
                f"{self.rotl32(v[2], 12)} + {self.rotl32(v[3], 18)}) % {_P32S}"
            )
        else:
            h = self.emit(f"CAST({(seed + Q5) & _M32} AS HUGEINT)")
        h = self.emit(f"({h} + CAST({n} AS HUGEINT)) % {_P32S}")
        base = f"({n}) - (({n}) % 16)"
        for t in range(3):
            lane = self.f_le(e, f"{base} + {4 * t} + 1", 4)
            s1 = self.emit(f"({h} + {lane} * {Q3}) % {_P32S}")
            nh = self.emit(f"({self.rotl32(s1, 17)} * {Q4}) % {_P32S}")
            h = self.emit(
                f"CASE WHEN (({n}) % 16) // 4 > {t} THEN {nh} ELSE {h} END"
            )
        for t in range(3):
            byt = self.f_le(e, f"({n}) - (({n}) % 4) + {t} + 1", 1)
            s1 = self.emit(f"({h} + {byt} * {Q5}) % {_P32S}")
            nh = self.emit(f"({self.rotl32(s1, 11)} * {Q1}) % {_P32S}")
            h = self.emit(
                f"CASE WHEN ({n}) % 4 > {t} THEN {nh} ELSE {h} END"
            )
        h = self.emit(f"(xor({h}, {h} // {1 << 15}) * {Q2}) % {_P32S}")
        h = self.emit(f"(xor({h}, {h} // {1 << 13}) * {Q3}) % {_P32S}")
        return self.emit(f"xor({h}, {h} // {1 << 16})")

    def xxh32_dispatch(self, e: str, n: str, max_len: int, seed: int = 0) -> str:
        arms = []
        for s in range(max_len // 16 + 1):
            h = self.xxh32_chain(e, n, s, seed)
            arms.append(f"WHEN ({n}) // 16 = {s} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    def signed64(self, a: str) -> str:
        return self.emit(
            f"CAST(CASE WHEN {a} >= {1 << 63} THEN {a} - {_P64S} "
            f"ELSE {a} END AS BIGINT)"
        )
