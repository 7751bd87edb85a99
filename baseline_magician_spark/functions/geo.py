"""Geo function family (CH §geo surface): great-circle distances and
angles, point-in-polygon / point-in-ellipses tests, geohash encode /
decode.

Everything is a pure Column expression — the geohash folds walk a
bounded bit sequence (precision ≤ 12 → ≤ 60 steps) with
``F.aggregate``, the polygon ray-cast folds the vertex list — so the
whole family stays inside whole-stage codegen; no Python touches row
data.

Divergences (documented, not emulated):
- CH's greatCircleDistance/geoDistance use a table-driven fast
  approximation of the trig (geodist.cpp); here the exact haversine
  evaluates instead, with the same radius model: a mean sphere
  (R = 6371 km) for greatCircleDistance, a latitude-corrected WGS-84
  radius (R(φ) = 6378137 − 21385·sin²φ_mid metres) for geoDistance.
  Agreement with CH is ~4 significant digits — the error of CH's own
  approximation.
- pointInPolygon returns BOOLEAN (CH: UInt8 0/1); the dialect's
  comparison layer treats them interchangeably.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(c) -> Column:
    c = c if isinstance(c, Column) else F.lit(c)
    return c.cast("double")


_MEAN_RADIUS_M = 6371000.0
_WGS84_A_M = 6378137.0
_WGS84_DROP_M = 21385.0  # a − b: polar radius deficit


def _haversine_angle(lon1, lat1, lon2, lat2) -> Column:
    """Central angle (radians) between two (lon, lat) degree points —
    the numerically stable haversine form."""
    rlat1, rlat2 = F.radians(_d(lat1)), F.radians(_d(lat2))
    dlat = F.radians(_d(lat2) - _d(lat1))
    dlon = F.radians(_d(lon2) - _d(lon1))
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    )
    return 2 * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


def great_circle_distance(lon1, lat1, lon2, lat2) -> Column:
    """CH greatCircleDistance(lon1, lat1, lon2, lat2) -> metres on the
    mean sphere."""
    return _haversine_angle(lon1, lat1, lon2, lat2) * _MEAN_RADIUS_M


def geo_distance(lon1, lat1, lon2, lat2) -> Column:
    """CH geoDistance: like greatCircleDistance but on a latitude-
    corrected WGS-84 radius evaluated at the midpoint latitude."""
    mid = F.radians((_d(lat1) + _d(lat2)) / 2)
    radius = _WGS84_A_M - _WGS84_DROP_M * F.sin(mid) ** 2
    return _haversine_angle(lon1, lat1, lon2, lat2) * radius


def great_circle_angle(lon1, lat1, lon2, lat2) -> Column:
    """CH greatCircleAngle -> central angle in DEGREES."""
    return F.degrees(_haversine_angle(lon1, lat1, lon2, lat2))


def point_in_ellipses(x, y, *params) -> Column:
    """CH pointInEllipses(x, y, x0, y0, a0, b0, ...): true when the
    point lies inside ANY of the axis-aligned ellipses; the ellipse
    parameters arrive as flat (center_x, center_y, a, b) quadruples."""
    if not params or len(params) % 4:
        raise ValueError(
            "pointInEllipses needs (x, y) plus 4 args per ellipse"
        )
    px, py = _d(x), _d(y)
    hit = F.lit(False)
    for i in range(0, len(params), 4):
        cx, cy, a, b = (_d(p) for p in params[i : i + 4])
        hit = hit | (
            ((px - cx) / a) ** 2 + ((py - cy) / b) ** 2 <= 1.0
        )
    return hit


def point_in_polygon(pt, poly) -> Column:
    """CH pointInPolygon((x, y), [(x1, y1), ...]): even-odd ray cast.
    The vertex list folds once per row; positional struct-field access
    goes through a cast (tuple literals carry arbitrary field names).
    Vertical edges short-circuit the guard before the slope division
    (null-safe under non-ANSI division)."""
    p = (pt if isinstance(pt, Column) else F.lit(pt)).cast(
        "struct<x:double,y:double>"
    )
    edges = (poly if isinstance(poly, Column) else F.lit(poly)).cast(
        "array<struct<x:double,y:double>>"
    )
    n = F.size(edges)

    def step(acc: Column, i: Column) -> Column:
        a = F.element_at(edges, i)
        b = F.element_at(edges, (i % n) + 1)
        crosses = (
            ((a["y"] > p["y"]) != (b["y"] > p["y"]))
            & (
                p["x"]
                < (b["x"] - a["x"])
                * (p["y"] - a["y"])
                / (b["y"] - a["y"])
                + a["x"]
            )
        )
        return F.when(crosses, ~acc).otherwise(acc)

    return F.aggregate(F.sequence(F.lit(1), n), F.lit(False), step)


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _b32_arr() -> Column:
    # built lazily: F.lit needs an active SparkContext, and this
    # module imports before the test session exists
    return F.array(*[F.lit(ch) for ch in _GEOHASH_B32])


def _let(value: Column, body) -> Column:
    """Bind ``value`` once as a lambda variable (transform over a
    single-element array) — Spark evaluates HOF lambdas interpreted
    and re-evaluates captured argument EXPRESSIONS per invocation, so
    anything referenced inside a fold step must be a bound value."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _frac_bit(frac: Column, k: Column) -> Column:
    """Binary digit k (0-based, most significant first) of a [0, 1)
    fraction: floor(frac · 2^(k+1)) mod 2. Repeated interval
    bisection IS the binary expansion, so this closed form matches
    the textbook encode loop bit-for-bit — with zero fold state."""
    return (
        F.floor(frac * F.pow(F.lit(2.0), (k + 1).cast("double")))
        .cast("int")
        % 2
    )


def _clamped_frac(v: Column, lo: float, span: float) -> Column:
    f = (v - F.lit(lo)) / F.lit(span)
    # the upper boundary (lon=180 / lat=90) belongs to the all-ones
    # cell, matching the bisection convention value >= mid
    return F.when(f >= 1.0, F.lit(1.0 - 1e-12)).otherwise(f)


def geohash_encode(lon, lat, precision=12) -> Column:
    """CH geohashEncode(longitude, latitude[, precision]) -> base-32
    geohash string.

    Literal precision (the overwhelmingly common spelling — CH clamps
    to [1, 12]) takes the STATIC path: the longitude/latitude
    fractions scale once to nlon/nlat-bit integers (scaling by a
    power of two is exact in IEEE, so the bits equal the per-bit
    closed form floor(frac·2^(k+1)) mod 2 — floor(floor(x)/m) =
    floor(x/m)), and every character unrolls to shift/mask
    arithmetic: zero higher-order functions, whole-stage codegen.
    A Column precision falls back to the per-bit fold."""
    if not isinstance(precision, Column):
        return _geohash_encode_static(
            lon, lat, min(12, max(1, int(precision)))
        )
    p = F.greatest(F.lit(1), F.least(F.lit(12), precision.cast("int")))
    lonfrac = _clamped_frac(_d(lon), -180.0, 360.0)
    latfrac = _clamped_frac(_d(lat), -90.0, 180.0)

    def bit(g: Column) -> Column:
        return F.when(
            g % 2 == 0, _frac_bit(lonfrac, (g / 2).cast("int"))
        ).otherwise(_frac_bit(latfrac, ((g - 1) / 2).cast("int")))

    def char_at(j: Column) -> Column:
        idx = (
            bit(5 * j) * 16
            + bit(5 * j + 1) * 8
            + bit(5 * j + 2) * 4
            + bit(5 * j + 3) * 2
            + bit(5 * j + 4)
        )
        return F.element_at(_b32_arr(), idx + 1)

    return F.array_join(
        F.transform(F.sequence(F.lit(0), p - 1), char_at), ""
    )


def _geohash_encode_static(lon, lat, p: int) -> Column:
    nbits = 5 * p
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    klon = F.floor(
        _clamped_frac(_d(lon), -180.0, 360.0) * F.lit(float(2**nlon))
    ).cast("long")
    klat = F.floor(
        _clamped_frac(_d(lat), -90.0, 180.0) * F.lit(float(2**nlat))
    ).cast("long")

    def bit(g: int) -> Column:
        if g % 2 == 0:
            return F.shiftrightunsigned(
                klon, nlon - 1 - g // 2
            ).bitwiseAND(F.lit(1))
        return F.shiftrightunsigned(
            klat, nlat - 1 - (g - 1) // 2
        ).bitwiseAND(F.lit(1))

    chars = []
    for j in range(p):
        idx = (
            bit(5 * j) * 16
            + bit(5 * j + 1) * 8
            + bit(5 * j + 2) * 4
            + bit(5 * j + 3) * 2
            + bit(5 * j + 4)
        )
        chars.append(F.element_at(_b32_arr(), (idx + 1).cast("int")))
    return F.concat(*chars)


# Morton bit-compaction masks: keep even-position bits, then fold
# them together in log2(64) mask-shift rounds (no per-bit loop).
_MORTON_MASKS = (
    0x3333333333333333,
    0x0F0F0F0F0F0F0F0F,
    0x00FF00FF00FF00FF,
    0x0000FFFF0000FFFF,
    0x00000000FFFFFFFF,
)


def _compact_even_bits(x: Column) -> Column:
    """Compact the even-position bits of a 64-bit pattern into the low
    half — the classic Morton deinterleave, 6 mask-shift rounds. Each
    round is LET-bound: the rounds reference their input twice, so
    unbound chaining doubles the expression tree per round."""
    def _round(shift: int, mask: int):
        def step(v: Column) -> Column:
            return v.bitwiseOR(
                F.shiftrightunsigned(v, shift)
            ).bitwiseAND(F.lit(mask))

        return step

    out = x.bitwiseAND(F.lit(0x5555555555555555))
    for i, mask in enumerate(_MORTON_MASKS):
        out = _let(out, _round(1 << i, mask))
    return out


def geohash_decode(h) -> Column:
    """CH geohashDecode(s) -> (longitude, latitude) — the center of
    the geohash cell, tuple fields named "1"/"2" so tupleElement
    resolves positionally (the sumMap convention).

    Fast shape (round 7): the base-32 chars fold into ONE interleaved
    bit integer N (<= 60 bits), padded to an even bit count, and the
    longitude/latitude integers come out via Morton mask-shift
    compaction — a constant number of codegen-friendly bit ops
    instead of a per-bit pow() fold. The K integers are exactly the
    per-bit sums the old fold produced (distinct powers of two sum
    exactly in either representation), so the centers are
    bit-identical."""
    s = F.lower(h if isinstance(h, Column) else F.lit(h))
    vals = F.transform(
        # split('') yields a trailing empty string element; filter it
        F.filter(F.split(s, ""), lambda c: c != ""),
        lambda c: F.array_position(_b32_arr(), c).cast("int") - 1,
    )
    # One fold yields the bit integer and the char count, so the LET
    # body below reads only its own variable: a lambda reading an
    # enclosing lambda's variable would keep a CH hash over the
    # result from running (see ch_compat._url_hierarchy).
    fold = F.aggregate(
        vals,
        F.struct(F.lit(0).cast("long").alias("n"), F.lit(0).alias("k")),
        lambda acc, v: F.struct(
            (acc["n"] * 32 + v.cast("long")).alias("n"),
            (acc["k"] + 1).alias("k"),
        ),
    )

    def centers(st: Column) -> Column:
        nchars = st["k"]
        nbits = nchars * 5
        nlon = ((nbits + 1) / 2).cast("int")  # even g positions
        nlat = (nbits / 2).cast("int")
        pad = nbits % 2  # one zero LSB makes the bit count even
        n = st["n"] * F.when(pad == 1, F.lit(2)).otherwise(F.lit(1)).cast(
            "long"
        )
        # with an even bit count, bit g=0 (longitude, MSB) sits at an
        # ODD position; the pad bit lands in the latitude slot and
        # divides out
        klon = _compact_even_bits(F.shiftrightunsigned(n, 1))
        klat_p = _compact_even_bits(n)
        klat = F.when(
            pad == 1, F.floor(klat_p / 2).cast("long")
        ).otherwise(klat_p)
        lon = F.lit(-180.0) + 360.0 * (
            klon.cast("double") + 0.5
        ) / F.pow(F.lit(2.0), nlon.cast("double"))
        lat = F.lit(-90.0) + 180.0 * (
            klat.cast("double") + 0.5
        ) / F.pow(F.lit(2.0), nlat.cast("double"))
        # the empty string decodes to the world center (0, 0)
        return F.struct(
            F.when(nchars == 0, F.lit(0.0)).otherwise(lon).alias("1"),
            F.when(nchars == 0, F.lit(0.0)).otherwise(lat).alias("2"),
        )

    return _let(fold, centers)
