"""Cross-engine deterministic hashing for dedup / fingerprint operators.

Engine-native hash functions differ between Spark (xxhash64, murmur3)
and DuckDB (its own `hash`), so oracle-checked dedup operators use a
simple polynomial rolling hash over unicode codepoints:

    h = seed; for ch in s: h = (h * 31 + codepoint(ch)) % MOD

expressed with built-in higher-order functions on BOTH engines
(`aggregate`/`transform` in Spark, `list_reduce`/`list_transform` in
DuckDB) — identical math, identical results, all JVM-side in Spark (no
Python UDF). MOD < 2^31 keeps every intermediate within int64
(acc*31 + x < ~6.6e10).

At 100 TB these columns are computed map-side in one projection pass —
no shuffle — and downstream dedup joins group on the hash, which
distributes uniformly by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

POLY_MOD = 1_000_000_007
POLY_BASE = 31
POLY_SEED = 7


def _codes(c: Column) -> Column:
    """String column -> array<long> of unicode codepoints."""
    chars = F.filter(F.split(c, ""), lambda ch: ch != F.lit(""))
    return F.transform(chars, lambda ch: F.ascii(ch).cast("long"))


def poly_hash(col: Column | str, seed: int = POLY_SEED, mod: int = POLY_MOD) -> Column:
    """Polynomial rolling hash of a string column (deterministic, cross-engine)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        _codes(c),
        F.lit(seed).cast("long"),
        lambda acc, x: (acc * POLY_BASE + x) % mod,
    )


def poly_hash_duckdb(expr: str, seed: int = POLY_SEED, mod: int = POLY_MOD) -> str:
    """The exact same hash as `poly_hash`, as DuckDB SQL text (for oracles)."""
    return (
        f"list_reduce(list_prepend(CAST({seed} AS BIGINT), "
        f"list_transform(list_filter(string_split({expr}, ''), c -> c <> ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {POLY_BASE} + b) % {mod})"
    )


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (array<string>), empty tokens dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def token_shingles(col: Column | str, n: int = 3) -> Column:
    """Sliding n-gram token shingles joined by single spaces.

    Documents with fewer than n tokens produce an empty array (they
    have no shingles and drop out of MinHash/Jaccard candidate sets).
    """
    t = tokens(col)
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - n + 1),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """Distinct poly-hashes of the n-gram shingle set (array<long>).

    Numerically identical to hashing each space-joined shingle string
    char-by-char (what the DuckDB oracle does), but computed from
    per-token prefix hashes via the polynomial concat identity

        h(a ++ b, seed) = (h(a, seed) * BASE^len(b) + h(b, 0)) mod MOD

    so every character is hashed exactly ONCE per document instead of n
    times, and no shingle strings are materialized. The per-token
    (hash, BASE^len) structs are let-bound as the lambda variable of a
    single-element ``aggregate`` — Catalyst does not CSE under lambda
    functions, so referencing a subexpression from several lambda bodies
    would recompute it per element; binding it as the fold input
    evaluates it once per row.
    """
    c = F.col(col) if isinstance(col, str) else col
    space = ord(" ")
    # per-token struct: h = poly hash (seed 0), pw = BASE^len % MOD
    parts = F.transform(
        tokens(c),
        lambda tok: F.aggregate(
            _codes(tok),
            F.struct(
                F.lit(0).cast("long").alias("h"),
                F.lit(1).cast("long").alias("pw"),
            ),
            lambda a, x: F.struct(
                ((a["h"] * POLY_BASE + x) % POLY_MOD).alias("h"),
                ((a["pw"] * POLY_BASE) % POLY_MOD).alias("pw"),
            ),
        ),
    )

    def shingles(_acc: Column, p: Column) -> Column:
        def sh(i: Column) -> Column:
            h = F.lit(POLY_SEED).cast("long")
            for j in range(n):
                if j:
                    h = (h * POLY_BASE + space) % POLY_MOD
                t = F.element_at(p, i + j)
                h = (h * t["pw"] + t["h"]) % POLY_MOD
            return h

        return F.when(
            F.size(p) >= n,
            F.transform(F.sequence(F.lit(1), F.size(p) - (n - 1)), sh),
        ).otherwise(F.array().cast("array<long>"))

    return F.array_distinct(
        F.aggregate(
            F.array(parts), F.array().cast("array<long>"), shingles
        )
    )


def tokens_duckdb(expr: str) -> str:
    """DuckDB SQL for `tokens` — the ONE cross-engine tokenization
    fragment; every oracle builds on this so a tokenizer change cannot
    desynchronize them."""
    return f"list_filter(regexp_split_to_array(trim({expr}), '\\s+'), x -> x <> '')"


def token_shingles_duckdb(expr: str, n: int = 3) -> str:
    """DuckDB SQL for `token_shingles` (1-indexed inclusive list slices)."""
    t = tokens_duckdb(expr)
    return (
        f"CASE WHEN len({t}) >= {n} THEN "
        f"list_transform(range(1, len({t}) - {n} + 2), "
        f"i -> array_to_string({t}[i : i + {n - 1}], ' ')) "
        f"ELSE [] END"
    )


def shingle_hashes_duckdb(expr: str, n: int = 3) -> str:
    """DuckDB SQL for `shingle_hashes`."""
    inner = poly_hash_duckdb("s")
    return (
        f"list_distinct(list_transform({token_shingles_duckdb(expr, n)}, "
        f"s -> {inner}))"
    )


# MinHash permutation parameters: h_i(x) = (a_i * x + b_i) % MOD.
# Fixed literals so Spark and the SQL oracle share them verbatim.
def minhash_params(k: int) -> list[tuple[int, int]]:
    return [(2 * i + 3, i * i + 12345 + i) for i in range(k)]


# ------------------------------------------------------- CH int hashes
#
# CH's SAMPLE BY keys: intHash64 (fmix64 of x ^ seed;
# src/Functions/FunctionsHashing.h IntHash64Impl) and intHash32
# (Thomas Wang's 64->32 mix with CH's salt;
# src/Common/HashTable/Hash.h intHash32<0x75D9543DE018BF45>). Both
# need wrap-around mod-2^64 arithmetic. Rounds 7 ran the multiplies
# as ANSI-safe 16-bit-limb convolution; round 8 switched to PLAIN
# long arithmetic ANALYZED UNDER spark.sql.ansi.enabled=false
# (cityhash.wrap_arith — Java wrap semantics are exactly mod 2^64),
# which collapses each multiply from ~50 expression nodes to one.
# That retires the measured failure mode of the limb spelling: the
# driver re-analyzed a ~3000-node tree on every bench pass
# (ch_sql_sampling_hashes 3.29 s suite vs 1.04 s warm-isolated).
# run_ch_query auto-enters wrap_arith when a wrap-dependent hash
# appears in the SQL; direct Column users analyze inside
# ``cityhash.wrap_arith(spark)`` themselves.


def _let1(value: Column, body) -> Column:
    """Bind once as a lambda variable (single-element transform)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _ushr(x: Column, n: int) -> Column:
    return F.shiftrightunsigned(x, n)


def le_hex(h: Column, width: int) -> Column:
    """Long -> 2*``width`` hex chars of its ``width``-byte
    little-endian layout (the Column twin of ``le_bytes_sql``)."""
    return F.regexp_replace(
        F.reverse(F.lpad(F.hex(h), 2 * width, "0")), "(.)(.)", "$2$1"
    )


def _let_chain(seed: Column, steps) -> Column:
    """Thread ``seed`` through ``steps`` with each intermediate bound
    ONCE as a lambda variable (transform over a 1-element array).
    Without the binds, every step that references its input k times
    multiplies the expression tree k-fold. Bound lambda variables are
    O(1) slots, so the tree stays linear in the step count."""
    if not steps:
        return seed
    head, *rest = steps
    return F.element_at(
        F.transform(
            F.array(seed), lambda h: _let_chain(head(h), rest)
        ),
        1,
    )


def _slit(c: int) -> int:
    """Unsigned 64-bit constant -> signed-long bit pattern literal."""
    return c - (1 << 64) if c >= (1 << 63) else c


def int_hash64_py(x: int) -> int:
    """Python model of CH IntHash64Impl — fmix64(x ^ salt) over the
    zero-extended bit pattern, returning the UInt64 value. This is
    also what CH's use_int_hash_for_pods hash functions (cityHash64)
    apply to NUMERIC arguments (FunctionsHashing.h executeIntType
    routes POD columns through IntHash64Impl::apply(bit_cast), not
    through the byte hash). Test/oracle ring for :func:`int_hash64`
    and ch_compat's cityHash64 numeric path."""
    m = (1 << 64) - 1
    x = (x ^ 0x4CF2D2BAAE6DA887) & m
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & m
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & m
    x ^= x >> 33
    return x


def int_hash64(x: Column) -> Column:
    """CH intHash64(UInt64) — fmix64(x ^ 0x4CF2D2BAAE6DA887), returned
    as the signed-long BIT PATTERN of CH's UInt64 (the engine-wide
    UInt64 convention). Wrap-mode arithmetic: analyze under
    ``cityhash.wrap_arith``."""
    seed = x.cast("long").bitwiseXOR(F.lit(0x4CF2D2BAAE6DA887))
    return _let_chain(
        seed,
        [
            lambda h: h.bitwiseXOR(_ushr(h, 33)),
            lambda h: h * F.lit(_slit(0xFF51AFD7ED558CCD)),
            lambda h: h.bitwiseXOR(_ushr(h, 33)),
            lambda h: h * F.lit(_slit(0xC4CEB9FE1A85EC53)),
            lambda h: h.bitwiseXOR(_ushr(h, 33)),
        ],
    )


def int_hash32(x: Column) -> Column:
    """CH intHash32(UInt64) -> UInt32: Wang's 64->32 mix over
    x ^ 0x75D9543DE018BF45, truncated to the low 32 bits (returned as
    a non-negative long, CH UInt32 widened). Wrap-mode arithmetic:
    analyze under ``cityhash.wrap_arith``."""
    seed = x.cast("long").bitwiseXOR(F.lit(0x75D9543DE018BF45))
    return _let_chain(
        seed,
        [
            lambda k: F.bitwise_not(k) + F.shiftleft(k, 18),
            lambda k: k.bitwiseXOR(
                _ushr(k, 31).bitwiseOR(F.shiftleft(k, 33))
            ),
            lambda k: k * F.lit(21),
            lambda k: k.bitwiseXOR(_ushr(k, 11)),
            lambda k: k + F.shiftleft(k, 6),
            lambda k: k.bitwiseXOR(_ushr(k, 22)),
            lambda k: k.bitwiseAND(F.lit(0xFFFFFFFF)),
        ],
    )


# ------------------------------------------------- SQL-text renderings
# Single-parse F.expr compositions (round 10): the multi-argument
# hash combines used to build their pair chains as Column trees —
# thousands of py4j calls per call site (measured: the combine-chain
# probe spent ~4 s per bench pass in pure Python-side tree
# construction). These helpers render the same math as ONE SQL text
# string; let-bindings ride element_at(transform(array(v), x ->
# body), 1) exactly like the Column _let_chain, so no subexpression
# is inlined twice. Analyze under cityhash.wrap_arith (plain long
# arithmetic, wrap-on-overflow).
import itertools as _it

_TXT_N = _it.count()


def _let_sql(val: str, body) -> str:
    v = f"lb{next(_TXT_N)}"
    return f"element_at(transform(array({val}), {v} -> {body(v)}), 1)"


def int_hash64_sql(x_sql: str) -> str:
    """CH IntHash64Impl — fmix64(x ^ salt) — over a BIGINT-valued SQL
    fragment (bit-pattern domain); same math as :func:`int_hash64`."""
    salt = _slit(0x4CF2D2BAAE6DA887)
    m1 = _slit(0xFF51AFD7ED558CCD)
    m2 = _slit(0xC4CEB9FE1A85EC53)
    t = f"(CAST(({x_sql}) AS BIGINT) ^ {salt}L)"
    t = _let_sql(t, lambda v: f"({v} ^ shiftrightunsigned({v}, 33))")
    t = f"({t} * {m1}L)"
    t = _let_sql(t, lambda v: f"({v} ^ shiftrightunsigned({v}, 33))")
    t = f"({t} * {m2}L)"
    t = _let_sql(t, lambda v: f"({v} ^ shiftrightunsigned({v}, 33))")
    return t


def hash128to64_sql(u: str, v: str) -> str:
    """CityHash_v1_0_2::Hash128to64(u, v) over two BIGINT-valued SQL
    fragments — the combineHashes of the cityHash64/xxHash64 family;
    same math as cityhash.city_hash64_combine."""
    km = f"{_slit(0x9DDFEA08EB382D69)}L"
    return _let_sql(
        f"({v})",
        lambda V: _let_sql(
            f"((({u}) ^ {V}) * {km})",
            lambda A0: _let_sql(
                f"({A0} ^ shiftrightunsigned({A0}, 47))",
                lambda A: _let_sql(
                    f"(({V} ^ {A}) * {km})",
                    lambda B0: _let_sql(
                        f"({B0} ^ shiftrightunsigned({B0}, 47))",
                        lambda B: f"({B} * {km})",
                    ),
                ),
            ),
        ),
    )


def le_bytes_sql(t: str, width: int) -> str:
    """The little-endian ``width``-byte binary layout of a
    BIGINT-valued SQL fragment (the combineHashesFunc pair input),
    as one text expression — hex bound once, byte-swap spelled as
    concat-of-substrings like ch_compat._num_le_bytes."""
    w2 = 2 * width
    return _let_sql(
        f"lpad(hex({t}), {w2}, '0')",
        lambda H: "unhex(concat("
        + ", ".join(
            f"substring({H}, {w2 - 2 * k - 1}, 2)" for k in range(width)
        )
        + "))",
    )
