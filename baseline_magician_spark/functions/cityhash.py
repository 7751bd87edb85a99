"""Byte-exact CityHash64 (v1.0.2): the pure-Python model and the
DuckDB emitter.

CH's `cityHash64` / `URLHash` / wire checksums use Google CityHash
v1.0.2 — the reference vendors the exact spec in Go
(vendor/github.com/ClickHouse/clickhouse-go/lib/cityhash102/
cityhash.go:122-248, used by compress_writer.go for block checksums).
The value computed here is bit-for-bit CH's UInt64 (as the
engine-wide signed-long bit pattern).

Two faces, one algorithm:

- ``city_hash64_py(data)``  — pure-Python model, transcribed from the
  spec. It is also the executed code: a string argument of
  cityHash64/URLHash is hashed row by row by it inside the one Arrow
  hash kernel (functions/hash_np.hash_arrow).
- ``CityEmitter``           — generates straight-line DuckDB HUGEINT
  SQL replaying the algorithm for a statically-known length class
  (the branch taken is pinned; offsets may still be per-row
  expressions). Oracles use it so the driver compare replays the
  REAL algorithm, not stored constants. ASCII inputs only (DuckDB
  byte access rides ascii(substr(...))).

At 100 TB: the hash is a narrow per-row projection — no shuffle, no
state; it exists to make `SAMPLE BY cityHash64(...)` keys and stored
CH hash columns portable, so the VALUES must match CH, not just the
distribution.

The module imports no pyspark.
"""

from __future__ import annotations

K0 = 0xC3A5C85C97CB3127
K1 = 0xB492B66FBE98F273
K2 = 0x9AE16A3B2F90404F
K3 = 0xC949D7C7509E6557
KMUL = 0x9DDFEA08EB382D69

_M64 = (1 << 64) - 1


def _sl(c: int) -> int:
    """Unsigned 64-bit value -> its signed-long bit pattern (how the
    engine carries a UInt64)."""
    return c - (1 << 64) if c >= (1 << 63) else c


# --------------------------------------------------------------- python
# Reference model; semantics transcribed from the public CityHash
# 1.0.2 spec (MIT). Used by tests and to cross-check the two engine
# renderings below.


def _rot_py(v: int, s: int) -> int:
    return ((v >> s) | (v << (64 - s))) & _M64 if s else v


def _smix_py(v: int) -> int:
    return v ^ (v >> 47)


def _hl16_py(u: int, v: int) -> int:
    a = ((u ^ v) * KMUL) & _M64
    a ^= a >> 47
    b = ((v ^ a) * KMUL) & _M64
    b ^= b >> 47
    return (b * KMUL) & _M64


def _f64_py(s: bytes, i: int = 0) -> int:
    return int.from_bytes(s[i : i + 8], "little")


def _f32_py(s: bytes, i: int = 0) -> int:
    return int.from_bytes(s[i : i + 4], "little")


def _weak_py(s: bytes, i: int, a: int, b: int) -> tuple[int, int]:
    w, x, y, z = (
        _f64_py(s, i),
        _f64_py(s, i + 8),
        _f64_py(s, i + 16),
        _f64_py(s, i + 24),
    )
    a = (a + w) & _M64
    b = _rot_py((b + a + z) & _M64, 21)
    c = a
    a = (a + x + y) & _M64
    b = (b + _rot_py(a, 44)) & _M64
    return (a + z) & _M64, (b + c) & _M64


def city_hash64_py(s: bytes) -> int:
    n = len(s)
    if n <= 16:
        if n > 8:
            a, b = _f64_py(s), _f64_py(s, n - 8)
            return _hl16_py(a, _rot_py((b + n) & _M64, n & 63)) ^ b
        if n >= 4:
            return _hl16_py((n + (_f32_py(s) << 3)) & _M64, _f32_py(s, n - 4))
        if n > 0:
            y = (s[0] + (s[n >> 1] << 8)) & 0xFFFFFFFF
            z = (n + (s[n - 1] << 2)) & 0xFFFFFFFF
            return (_smix_py((y * K2 ^ z * K3) & _M64) * K2) & _M64
        return K2
    if n <= 32:
        a = (_f64_py(s) * K1) & _M64
        b = _f64_py(s, 8)
        c = (_f64_py(s, n - 8) * K2) & _M64
        d = (_f64_py(s, n - 16) * K0) & _M64
        return _hl16_py(
            (_rot_py((a - b) & _M64, 43) + _rot_py(c, 30) + d) & _M64,
            (a + _rot_py(b ^ K3, 20) - c + n) & _M64,
        )
    if n <= 64:
        z = _f64_py(s, 24)
        a = (_f64_py(s) + ((n + _f64_py(s, n - 16)) & _M64) * K0) & _M64
        b = _rot_py((a + z) & _M64, 52)
        c = _rot_py(a, 37)
        a = (a + _f64_py(s, 8)) & _M64
        c = (c + _rot_py(a, 7)) & _M64
        a = (a + _f64_py(s, 16)) & _M64
        vf = (a + z) & _M64
        vs = (b + _rot_py(a, 31) + c) & _M64
        a = (_f64_py(s, 16) + _f64_py(s, n - 32)) & _M64
        z = _f64_py(s, n - 8)
        b = _rot_py((a + z) & _M64, 52)
        c = _rot_py(a, 37)
        a = (a + _f64_py(s, n - 24)) & _M64
        c = (c + _rot_py(a, 7)) & _M64
        a = (a + _f64_py(s, n - 16)) & _M64
        wf = (a + z) & _M64
        ws = (b + _rot_py(a, 31) + c) & _M64
        r = _smix_py((((vf + ws) & _M64) * K2 + ((wf + vs) & _M64) * K0) & _M64)
        return (_smix_py((r * K0 + vs) & _M64) * K2) & _M64
    x = _f64_py(s)
    y = _f64_py(s, n - 16) ^ K1
    z = _f64_py(s, n - 56) ^ K0
    v = _weak_py(s, n - 64, n, y)
    w = _weak_py(s, n - 32, (n * K1) & _M64, K0)
    z = (z + _smix_py(v[1]) * K1) & _M64
    x = (_rot_py((z + x) & _M64, 39) * K1) & _M64
    y = (_rot_py(y, 33) * K1) & _M64
    ln = (n - 1) & ~63
    pos = 0
    while True:
        x = (_rot_py((x + y + v[0] + _f64_py(s, pos + 16)) & _M64, 37) * K1) & _M64
        y = (_rot_py((y + v[1] + _f64_py(s, pos + 48)) & _M64, 42) * K1) & _M64
        x ^= w[1]
        y ^= v[0]
        z = _rot_py(z ^ w[0], 33)
        v = _weak_py(s, pos, (v[1] * K1) & _M64, (x + w[0]) & _M64)
        w = _weak_py(s, pos + 32, (z + w[1]) & _M64, y)
        z, x = x, z
        pos += 64
        ln -= 64
        if ln == 0:
            break
    return _hl16_py(
        (_hl16_py(v[0], w[0]) + _smix_py(y) * K1 + z) & _M64,
        (_hl16_py(v[1], w[1]) + x) & _M64,
    )


# --------------------------------------------------------------- duckdb
# Straight-line HUGEINT replay for the oracle side. The caller pins
# the LENGTH CLASS (so the branch is static); byte offsets may be
# per-row SQL expressions. ASCII input only: byte k of `e` is
# ascii(substr(e, k, 1)).

_P64 = str(1 << 64)
_P32 = str(1 << 32)


class CityEmitter:
    """Emits one step-column per intermediate; steps chain into
    numbered CTEs by the caller (each step may reference any earlier
    alias)."""

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix
        self.steps: list[str] = []
        self._k = 0

    def emit(self, sql: str) -> str:
        alias = f"{self.prefix}{self._k}"
        self._k += 1
        self.steps.append(f"{sql} AS {alias}")
        return alias

    # -- primitives (all HUGEINT in 0..2^64-1)
    def mulc(self, a: str, c: int) -> str:
        cl, ch = c & 0xFFFFFFFF, c >> 32
        return self.emit(
            f"(({a} * {cl}) + (({a} * {ch}) % {_P32}) * {_P32}) % {_P64}"
        )

    def add(self, *xs: str) -> str:
        return self.emit(f"({' + '.join(xs)}) % {_P64}")

    def sub(self, a: str, b: str) -> str:
        return self.emit(f"({a} - {b} + {_P64}) % {_P64}")

    def xor(self, a: str, b: str) -> str:
        return self.emit(f"xor({a}, CAST({b} AS HUGEINT))")

    def rot(self, a: str, s: int) -> str:
        return self.emit(
            f"(({a} // {1 << s}) + ({a} * {1 << (64 - s)}) % {_P64}) % {_P64}"
        )

    def smix(self, a: str) -> str:
        return self.emit(f"xor({a}, {a} // {1 << 47})")

    def hl16(self, u: str, v: str) -> str:
        a0 = self.emit(f"(xor({u}, {v}) * 1) % {_P64}")
        a1 = self.mulc(a0, KMUL)
        a2 = self.smix(a1)
        b0 = self.xor(v, a2)
        b1 = self.mulc(b0, KMUL)
        b2 = self.smix(b1)
        return self.mulc(b2, KMUL)

    # -- fetches; pos is a 1-BASED SQL expression (string), e ASCII
    def f64(self, e: str, pos: str) -> str:
        terms = [
            f"CAST(ascii(substr({e}, ({pos}) + {k}, 1)) AS HUGEINT)"
            f" * {1 << (8 * k)}"
            for k in range(8)
        ]
        return self.emit(" + ".join(terms))

    def f32(self, e: str, pos: str) -> str:
        terms = [
            f"CAST(ascii(substr({e}, ({pos}) + {k}, 1)) AS HUGEINT)"
            f" * {1 << (8 * k)}"
            for k in range(4)
        ]
        return self.emit(" + ".join(terms))

    def weak(self, e: str, pos: str, a: str, b: str) -> tuple[str, str]:
        w = self.f64(e, pos)
        x = self.f64(e, f"({pos}) + 8")
        y = self.f64(e, f"({pos}) + 16")
        z = self.f64(e, f"({pos}) + 24")
        a1 = self.add(a, w)
        b1 = self.rot(self.add(b, a1, z), 21)
        a2 = self.add(a1, x, y)
        b2 = self.add(b1, self.rot(a2, 44))
        return self.add(a2, z), self.add(b2, a1)

    # -- length-class branches. `e` = VARCHAR expr, `n` = length expr
    # (both may reference earlier aliases); positions are 1-based.
    def h0(self) -> str:
        return self.emit(f"CAST({K2} AS HUGEINT)")

    def h1to3(self, e: str, n: str) -> str:
        y = self.emit(
            f"CAST(ascii(substr({e}, 1, 1)) AS HUGEINT) + "
            f"CAST(ascii(substr({e}, ({n}) // 2 + 1, 1)) AS HUGEINT) * 256"
        )
        z = self.emit(
            f"CAST({n} AS HUGEINT) + "
            f"CAST(ascii(substr({e}, {n}, 1)) AS HUGEINT) * 4"
        )
        t = self.xor(self.mulc(y, K2), self.mulc(z, K3))
        return self.mulc(self.smix(t), K2)

    def h4to8(self, e: str, n: str) -> str:
        a = self.f32(e, "1")
        u = self.emit(f"(CAST({n} AS HUGEINT) + {a} * 8) % {_P64}")
        v = self.f32(e, f"({n}) - 3")
        return self.hl16(u, v)

    def h9to16(self, e: str, n: str) -> str:
        a = self.f64(e, "1")
        b = self.f64(e, f"({n}) - 7")
        bn = self.add(b, f"CAST({n} AS HUGEINT)")
        # rotate by the VARIABLE n (9..16): pow2 via integer CASE
        p = self.emit(
            f"CASE {n} "
            + " ".join(f"WHEN {k} THEN CAST({1 << k} AS HUGEINT)" for k in range(9, 17))
            + " END"
        )
        q = self.emit(
            f"CASE {n} "
            + " ".join(
                f"WHEN {k} THEN CAST({1 << (64 - k)} AS HUGEINT)"
                for k in range(9, 17)
            )
            + " END"
        )
        r = self.emit(f"(({bn} // {p}) + ({bn} * {q}) % {_P64}) % {_P64}")
        return self.xor(self.hl16(a, r), b)

    def h17to32(self, e: str, n: str) -> str:
        a = self.mulc(self.f64(e, "1"), K1)
        b = self.f64(e, "9")
        c = self.mulc(self.f64(e, f"({n}) - 7"), K2)
        d = self.mulc(self.f64(e, f"({n}) - 15"), K0)
        u = self.add(self.rot(self.sub(a, b), 43), self.rot(c, 30), d)
        bk = self.rot(self.xor(b, str(K3)), 20)
        v = self.add(
            self.sub(self.add(a, bk), c), f"CAST({n} AS HUGEINT)"
        )
        return self.hl16(u, v)

    def h33to64(self, e: str, n: str) -> str:
        f0 = self.f64(e, "1")
        f8 = self.f64(e, "9")
        f16 = self.f64(e, "17")
        f24 = self.f64(e, "25")
        fn8 = self.f64(e, f"({n}) - 7")
        fn16 = self.f64(e, f"({n}) - 15")
        fn24 = self.f64(e, f"({n}) - 23")
        fn32 = self.f64(e, f"({n}) - 31")
        a0 = self.add(
            f0, self.mulc(self.add(f"CAST({n} AS HUGEINT)", fn16), K0)
        )
        b = self.rot(self.add(a0, f24), 52)
        c0 = self.rot(a0, 37)
        a1 = self.add(a0, f8)
        c1 = self.add(c0, self.rot(a1, 7))
        a2 = self.add(a1, f16)
        vf = self.add(a2, f24)
        vs = self.add(b, self.rot(a2, 31), c1)
        a3 = self.add(f16, fn32)
        b2 = self.rot(self.add(a3, fn8), 52)
        c2 = self.rot(a3, 37)
        a4 = self.add(a3, fn24)
        c3 = self.add(c2, self.rot(a4, 7))
        a5 = self.add(a4, fn16)
        wf = self.add(a5, fn8)
        ws = self.add(b2, self.rot(a5, 31), c3)
        r = self.smix(
            self.add(self.mulc(self.add(vf, ws), K2), self.mulc(self.add(wf, vs), K0))
        )
        return self.mulc(self.smix(self.add(self.mulc(r, K0), vs)), K2)

    def h_long(self, e: str, n: str, iterations: int) -> str:
        """> 64 bytes with a STATICALLY-KNOWN iteration count
        (caller guarantees 64*iterations < length <= 64*(it.+1),
        i.e. ((len-1) & ~63) / 64 == iterations)."""
        x = self.f64(e, "1")
        y = self.xor(self.f64(e, f"({n}) - 15"), str(K1))
        z = self.xor(self.f64(e, f"({n}) - 55"), str(K0))
        vl, vh = self.weak(e, f"({n}) - 63", f"CAST({n} AS HUGEINT)", y)
        wl, wh = self.weak(
            e,
            f"({n}) - 31",
            self.mulc(f"CAST({n} AS HUGEINT)", K1),
            f"CAST({K0} AS HUGEINT)",
        )
        z = self.add(z, self.mulc(self.smix(vh), K1))
        x = self.mulc(self.rot(self.add(z, x), 39), K1)
        y = self.mulc(self.rot(y, 33), K1)
        for it in range(iterations):
            base = 64 * it
            x = self.mulc(
                self.rot(
                    self.add(x, y, vl, self.f64(e, str(base + 17))), 37
                ),
                K1,
            )
            y = self.mulc(
                self.rot(self.add(y, vh, self.f64(e, str(base + 49))), 42),
                K1,
            )
            x = self.xor(x, wh)
            y = self.xor(y, vl)
            z = self.rot(self.xor(z, wl), 33)
            nvl, nvh = self.weak(
                e, str(base + 1), self.mulc(vh, K1), self.add(x, wl)
            )
            nwl, nwh = self.weak(e, str(base + 33), self.add(z, wh), y)
            vl, vh, wl, wh = nvl, nvh, nwl, nwh
            z, x = x, z
        return self.hl16(
            self.add(self.hl16(vl, wl), self.mulc(self.smix(y), K1), z),
            self.add(self.hl16(vh, wh), x),
        )

    def full_dispatch(self, e: str, n: str, max_len: int) -> str:
        """All length classes CASE-selected by the per-row length
        expression `n` (inputs bounded by max_len). Chains for the
        wrong class compute garbage on such rows (never errors —
        DuckDB substr/ascii are total) and the CASE picks the right
        one."""
        h0 = self.h0()
        h1 = self.h1to3(e, n)
        h4 = self.h4to8(e, n)
        h9 = self.h9to16(e, n)
        h17 = self.h17to32(e, n)
        h33 = self.h33to64(e, n)
        arms = [
            f"WHEN {n} = 0 THEN {h0}",
            f"WHEN {n} <= 3 THEN {h1}",
            f"WHEN {n} <= 8 THEN {h4}",
            f"WHEN {n} <= 16 THEN {h9}",
            f"WHEN {n} <= 32 THEN {h17}",
            f"WHEN {n} <= 64 THEN {h33}",
        ]
        iters = max(0, (max_len - 1) // 64)
        for it in range(1, iters + 1):
            hl = self.h_long(e, n, it)
            arms.append(f"WHEN {n} <= {64 * (it + 1)} THEN {hl}")
        return self.emit("CASE " + " ".join(arms) + " END")

    def signed(self, a: str) -> str:
        """UInt64 HUGEINT -> signed-long bit pattern (BIGINT), the
        engine-wide UInt64 output convention."""
        return self.emit(
            f"CAST(CASE WHEN {a} >= {1 << 63} THEN {a} - {_P64} "
            f"ELSE {a} END AS BIGINT)"
        )


def staged_ctes(em: CityEmitter, base: str) -> tuple[str, str]:
    """Wrap the emitter's steps into chained CTEs: returns
    (cte_sql_fragment, final_cte_name). Steps are grouped 8 per CTE
    only when safe — here every step may reference any earlier alias,
    and aliases never collide, so grouping by emission order with
    each group referencing only PRIOR groups requires care; we place
    each step in its own stage when it references an alias from the
    same batch. Simpler and robust: one batch per dependency level =
    sequential stages of up to 1 step-chain each. To bound CTE count
    we chunk: a step only ever references aliases emitted strictly
    before it, so any prefix split is valid as long as no step shares
    a stage with an alias it references; chunking by 6 keeps that
    risk: steps CAN reference the immediately-prior step. Hence a
    step may reference same-chunk aliases — DuckDB forbids that in
    one SELECT. So: strictly one step per stage."""
    ctes = []
    prev = base
    for i, s in enumerate(em.steps):
        nm = f"{em.prefix}_s{i}"
        ctes.append(f"{nm} AS (SELECT *, {s} FROM {prev})")
        prev = nm
    return ",\n    ".join(ctes), prev
