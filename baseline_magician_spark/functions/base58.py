"""Exact Base58 (Bitcoin alphabet) encode/decode as pure Column
expressions.

CH ships base58Encode/base58Decode/tryBase58Decode
(sql-reference/functions/string-functions). Base58 is a positional
big-base conversion — the whole byte string is one big number — so a
distributed implementation cannot chunk it. This one keeps the number
as a little-endian digit array inside an ``F.aggregate`` fold:

- encode: fold the input BYTES (most-significant first); each step
  multiplies the digit array by 256 and adds the byte, with exact
  carry propagation done by an inner fold whose accumulator is a
  (digits, carry) struct. Digit values stay < 58*256 + 258 — far
  inside long range — so every step is exact integer arithmetic.
- decode: the mirror image in base 58 -> 256.

Leading 0x00 bytes map to leading '1' characters (and back) per the
spec. Cost is O(len^2) expression evaluations per row — same class
as the editDistance/Jaro folds already in the engine; strings this
function sees (addresses, keys, short ids) are tens of bytes. Unlike
those, each step is a nested fold, so the plan stays ONE JVM
expression — no Python, no driver loop, partition-parallel like any
projection.

Decode returns NULL on malformed input for BOTH spellings
(tryBase58Decode's contract; CH's plain base58Decode throws — the
total-function divergence is documented here, consistent with the
engine's other OrNull-style totalizations).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def _let(value, body) -> Column:
    """Bind once as a lambda variable (single-element transform) —
    interpreted HOF lambdas re-evaluate captured expressions."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _empty_longs() -> Column:
    return F.array().cast("array<bigint>")


def _bytes_of(b: Column) -> Column:
    """BINARY -> array<long> of 0..255 byte values, MSB first."""
    return F.when(
        F.length(b) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(b)),
            lambda i: F.conv(
                F.hex(F.substring(b, i.cast("int"), F.lit(1))), 16, 10
            ).cast("long"),
        ),
    ).otherwise(_empty_longs())


def _rebase_step(acc: Column, unit: Column, mul: int, base: int) -> Column:
    """digits := digits * mul + unit, little-endian, exact carries.

    The inner fold's accumulator is a (digits, carry) struct; every
    intermediate value is <= (base-1)*mul + carry_in < 2^24."""

    def step(st: Column, d: Column) -> Column:
        v = d * mul + st["carry"]
        return F.struct(
            F.concat(st["ds"], F.array(v % base)).alias("ds"),
            F.floor(v / base).cast("long").alias("carry"),
        )

    folded = F.aggregate(
        acc,
        F.struct(
            _empty_longs().alias("ds"),
            unit.cast("long").alias("carry"),
        ),
        step,
    )

    # carry after the fold is < base*mul/(base-1) + 1 — at most two
    # more digits in either direction used here. No lambda here reads
    # an enclosing lambda's variable (v and the carry are inlined): a
    # closure would keep a CH hash over the result from running (see
    # ch_compat._url_hierarchy).
    def close(st: Column) -> Column:
        c = st["carry"]
        return F.concat(
            st["ds"],
            F.when(c > 0, F.array((c % base).cast("bigint"))).otherwise(
                _empty_longs()
            ),
            F.when(
                c >= base, F.array(F.floor(c / base).cast("bigint"))
            ).otherwise(_empty_longs()),
        )

    return _let(folded, close)


def _leading(vals: Column, zero_digit: int = 0) -> Column:
    """Count of leading elements equal to ``zero_digit``.

    array_position returns 0 (not NULL) when no element matches —
    e.g. an all-zero input — so it must be nullif'd before the -1,
    or the coalesce never falls back to size(vals)."""
    flags = F.transform(vals, lambda v: v != zero_digit)
    return F.coalesce(
        F.nullif(F.array_position(flags, True), F.lit(0)).cast("int") - 1,
        F.size(vals),
    )


def base58_encode(s) -> Column:
    c = s if isinstance(s, Column) else F.lit(s)
    b = c.cast("binary")

    def build(bytes_arr: Column) -> Column:
        z = _leading(bytes_arr)
        digits = F.aggregate(
            bytes_arr,
            _empty_longs(),
            lambda acc, byte: _rebase_step(acc, byte, 256, 58),
        )
        chars = F.transform(
            F.reverse(digits),
            lambda d: F.substring(
                F.lit(ALPHABET), (d + 1).cast("int"), F.lit(1)
            ),
        )
        return F.concat(
            F.repeat(F.lit("1"), z), F.array_join(chars, "")
        )

    return F.when(c.isNotNull(), _let(_bytes_of(b), build))


def base58_decode(s) -> Column:
    c = s if isinstance(s, Column) else F.lit(s)
    vals_expr = F.when(
        F.length(c) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.instr(
                F.lit(ALPHABET), F.substring(c, i.cast("int"), F.lit(1))
            ).cast("long")
            - 1,
        ),
    ).otherwise(_empty_longs())

    def build(vals: Column) -> Column:
        ok = F.forall(vals, lambda v: v >= 0)
        z = _leading(vals)
        bytes_le = F.aggregate(
            vals,
            _empty_longs(),
            lambda acc, d: _rebase_step(acc, d, 58, 256),
        )
        hexes = F.transform(
            F.reverse(bytes_le),
            lambda v: F.lpad(F.conv(v, 10, 16), 2, "0"),
        )
        out = F.unhex(
            F.concat(
                F.repeat(F.lit("00"), z), F.array_join(hexes, "")
            )
        ).cast("string")
        return F.when(ok, out)

    return F.when(c.isNotNull(), _let(vals_expr, build))
