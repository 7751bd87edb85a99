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
# src/Common/HashTable/Hash.h intHash32<0x75D9543DE018BF45>). The
# executed renderings are the numpy kernels hash_np.int_hash64_np /
# int_hash32_np; these are their Python models.

_M64 = (1 << 64) - 1


def int_hash64_py(x: int) -> int:
    """Python model of CH IntHash64Impl — fmix64(x ^ salt) over the
    zero-extended bit pattern, returning the UInt64 value. This is
    also what CH's use_int_hash_for_pods hash functions (cityHash64)
    apply to NUMERIC arguments (FunctionsHashing.h executeIntType
    routes POD columns through IntHash64Impl::apply(bit_cast), not
    through the byte hash)."""
    x = (x ^ 0x4CF2D2BAAE6DA887) & _M64
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & _M64
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & _M64
    x ^= x >> 33
    return x


def int_hash32_py(x: int) -> int:
    """Python model of CH intHash32(UInt64) -> UInt32: Wang's 64->32
    mix over x ^ 0x75D9543DE018BF45, truncated to the low 32 bits."""
    k = (x ^ 0x75D9543DE018BF45) & _M64
    k = ((~k & _M64) + (k << 18)) & _M64
    k ^= ((k >> 31) | (k << 33)) & _M64
    k = (k * 21) & _M64
    k ^= k >> 11
    k = (k + (k << 6)) & _M64
    k ^= k >> 22
    return k & 0xFFFFFFFF
