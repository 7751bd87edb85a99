"""Canonical MurmurHash3 x64_128 (seed 0) as pure Column expressions.

CH's `murmurHash3_64` / `murmurHash3_128` are built on Appleby's
MurmurHash3_x64_128 (public domain, smhasher;
src/Functions/FunctionsHashing.h MurmurHash3Impl64 returns the XOR
of the two 64-bit halves, MurmurHash3Impl128 the 16 output bytes).
Both were seeded-xxhash bucketing stand-ins until round 9.

Validation: the Python model reproduces the published mmh3 vectors
exactly — hash64("foo") == (-2129773440516405919,
9128664383759220103) and hash128("foo") ==
168394135621993849475852668931176482145 (the values printed in the
mmh3 README), plus the all-zero empty-input digest — and the Spark
rendering and DuckDB emitter are pinned bit-for-bit against the
model across every length class (tests/test_murmur3_128.py).

Same wrap-mode contract as the rest of the family: analyze under
``cityhash.wrap_arith`` (run_ch_query auto-enters on the function
names). The per-block state is a (h1, h2) STRUCT accumulator over a
``sequence`` fold — the same constant-depth shape murmur2's single
accumulator uses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .cityhash import _sl
from .hashing import _let1, _ushr, le_hex

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


# ------------------------------------------------------ column builder
def _rotl64(x: Column, r: int) -> Column:
    return _let1(
        x, lambda v: F.shiftleft(v, r).bitwiseOR(_ushr(v, 64 - r))
    )


def _fmix(k: Column) -> Column:
    return _let1(
        k,
        lambda k0: _let1(
            k0.bitwiseXOR(_ushr(k0, 33)) * F.lit(_sl(FM1)),
            lambda k1: _let1(
                k1.bitwiseXOR(_ushr(k1, 33)) * F.lit(_sl(FM2)),
                lambda k2: k2.bitwiseXOR(_ushr(k2, 33)),
            ),
        ),
    )


def _mix1(k: Column) -> Column:
    return _rotl64(k * F.lit(_sl(C1)), 31) * F.lit(_sl(C2))


def _mix2(k: Column) -> Column:
    return _rotl64(k * F.lit(_sl(C2)), 33) * F.lit(_sl(C1))


def murmur3_128_struct(col, seed: int = 0) -> Column:
    """MurmurHash3_x64_128 as a struct<h1:bigint, h2:bigint> Column
    (each half the UInt64's signed-long bit pattern; NULL in -> NULL
    out). Analyze under wrap_arith."""
    c = col if isinstance(col, Column) else F.col(col)

    def f64le(src: Column, pos: Column) -> Column:
        hx = F.hex(F.substring(src, pos.cast("int"), F.lit(8)))
        le = F.regexp_replace(F.reverse(hx), "(.)(.)", "$2$1")
        return F.conv(le, 16, -10).cast("long")

    def build(b: Column) -> Column:
        nn = F.length(b).cast("long")
        nblocks = F.floor(nn / F.lit(16)).cast("int")
        s0 = F.struct(
            F.lit(_sl(seed & _M64)).cast("long").alias("h1"),
            F.lit(_sl(seed & _M64)).cast("long").alias("h2"),
        )

        def step(acc: Column, wi: Column) -> Column:
            return _let1(
                _mix1(f64le(b, wi * 16 + 1)),
                lambda k1: _let1(
                    (
                        _rotl64(acc["h1"].bitwiseXOR(k1), 27)
                        + acc["h2"]
                    )
                    * F.lit(5)
                    + F.lit(A1),
                    lambda h1: _let1(
                        _mix2(f64le(b, wi * 16 + 9)),
                        lambda k2: F.struct(
                            h1.alias("h1"),
                            (
                                (
                                    _rotl64(
                                        acc["h2"].bitwiseXOR(k2), 31
                                    )
                                    + h1
                                )
                                * F.lit(5)
                                + F.lit(A2)
                            ).alias("h2"),
                        ),
                    ),
                ),
            )

        folded = F.when(
            nblocks > 0,
            F.aggregate(F.sequence(F.lit(0), nblocks - 1), s0, step),
        ).otherwise(s0)
        padded = F.concat(b, F.lit(bytes(16)))
        start = nn - nn % 16
        t1 = _mix1(f64le(padded, start + 1))
        t2 = _mix2(f64le(padded, start + 9))

        def finalize(s: Column) -> Column:
            h2a = F.when(
                nn % 16 > 8, s["h2"].bitwiseXOR(t2)
            ).otherwise(s["h2"])
            h1a = F.when(
                nn % 16 > 0, s["h1"].bitwiseXOR(t1)
            ).otherwise(s["h1"])
            return _let1(
                h1a.bitwiseXOR(nn),
                lambda x1: _let1(
                    h2a.bitwiseXOR(nn),
                    lambda x2: _let1(
                        x1 + x2,
                        lambda y1: _let1(
                            x2 + y1,
                            lambda y2: _let1(
                                _fmix(y1),
                                lambda f1: _let1(
                                    _fmix(y2),
                                    lambda f2: _let1(
                                        f1 + f2,
                                        lambda z1: F.struct(
                                            z1.alias("h1"),
                                            (f2 + z1).alias("h2"),
                                        ),
                                    ),
                                ),
                            ),
                        ),
                    ),
                ),
            )

        return _let1(folded, finalize)

    return F.when(c.isNotNull(), _let1(c.cast("binary"), build))


def murmur3_64(col, seed: int = 0) -> Column:
    """CH murmurHash3_64: XOR of the two x64_128 halves
    (FunctionsHashing.h MurmurHash3Impl64)."""
    return _let1(
        murmur3_128_struct(col, seed),
        lambda s: s["h1"].bitwiseXOR(s["h2"]),
    )


def murmur3_128_hex(col, seed: int = 0) -> Column:
    """CH murmurHash3_128's FixedString(16) result rendered as 32
    uppercase hex chars of the output BYTE stream (h1 LE then h2 LE
    — the order the reference wire format would carry)."""
    return _let1(
        murmur3_128_struct(col, seed),
        lambda s: F.concat(le_hex(s["h1"], 8), le_hex(s["h2"], 8)),
    )


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


# ------------------------------------------------- spark SQL text path
def murmur3_64_sql(input_sql: str) -> str:
    """CH murmurHash3_64 (XOR of the MurmurHash3_x64_128 halves,
    seed 0) as ONE Spark-SQL text expression — the single-parse
    rendering of murmur3_128_struct + murmur3_64 (round 10: the
    Column tree cost ~1-2 s of py4j construction per multi-arg call
    site). Same let discipline as the Column builder: every
    twice-read intermediate binds as a lambda variable. Analyze
    under wrap_arith."""
    from .murmur import _f64le_sql

    c1 = f"{_sl(C1)}L"
    c2 = f"{_sl(C2)}L"
    fm1 = f"{_sl(FM1)}L"
    fm2 = f"{_sl(FM2)}L"

    def let(val: str, var: str, body: str) -> str:
        return f"element_at(transform(array({val}),{var}->{body}),1)"

    def rot(var: str, r: int) -> str:
        return (
            f"(shiftleft({var},{r})|shiftrightunsigned({var},{64 - r}))"
        )

    def mix(k: str, m1: str, r: int, m2: str, var: str) -> str:
        return let(f"(({k})*{m1})", var, f"({rot(var, r)}*{m2})")

    def mix1(k: str, var: str) -> str:
        return mix(k, c1, 31, c2, var)

    def mix2(k: str, var: str) -> str:
        return mix(k, c2, 33, c1, var)

    def fmix(y: str, a: str, b: str, c: str) -> str:
        return let(
            y,
            a,
            let(
                f"(({a}^shiftrightunsigned({a},33))*{fm1})",
                b,
                let(
                    f"(({b}^shiftrightunsigned({b},33))*{fm2})",
                    c,
                    f"({c}^shiftrightunsigned({c},33))",
                ),
            ),
        )

    w1 = _f64le_sql("bb", "(wi*16+1)")
    w2 = _f64le_sql("bb", "(wi*16+9)")
    step = let(
        mix1(w1, "sk1"),
        "sm1",
        let(
            f"((({let('(ms.h1^sm1)', 'sv1', rot('sv1', 27))}+ms.h2)"
            f"*5)+{A1})",
            "sh1",
            let(
                mix2(w2, "sk2"),
                "sm2",
                f"named_struct('h1',sh1,'h2',"
                f"((({let('(ms.h2^sm2)', 'sv2', rot('sv2', 31))}+sh1)"
                f"*5)+{A2}))",
            ),
        ),
    )
    s0 = "named_struct('h1',0L,'h2',0L)"
    fold = (
        f"CASE WHEN CAST(nb DIV 16 AS INT)>0 THEN "
        f"aggregate(sequence(0,CAST(nb DIV 16 AS INT)-1),{s0},"
        f"(ms,wi)->{step}) ELSE {s0} END"
    )
    pad = "concat(bb,unhex('0000000000000000000000000000000000'))"
    t1 = mix1(_f64le_sql(pad, "(nb-(nb%16)+1)"), "tk1")
    t2 = mix2(_f64le_sql(pad, "(nb-(nb%16)+9)"), "tk2")
    x1 = (
        f"((CASE WHEN nb%16>0 THEN (ms2.h1^({t1})) ELSE ms2.h1 END)"
        f"^nb)"
    )
    x2 = (
        f"((CASE WHEN nb%16>8 THEN (ms2.h2^({t2})) ELSE ms2.h2 END)"
        f"^nb)"
    )
    fin = let(
        x2,
        "fx2",
        let(
            f"({x1}+fx2)",
            "fy1",
            let(
                fmix("(fx2+fy1)", "fa", "fb", "fc"),
                "ff2",
                let(
                    f"({fmix('fy1', 'ga', 'gb', 'gc')}+ff2)",
                    "fz1",
                    "(fz1^(ff2+fz1))",
                ),
            ),
        ),
    )
    body = let(fold, "ms2", fin)
    wrapped = let(
        f"CAST(({input_sql}) AS BINARY)",
        "bb",
        let("CAST(length(bb) AS BIGINT)", "nb", body),
    )
    return (
        f"(CASE WHEN ({input_sql}) IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE {wrapped} END)"
    )
