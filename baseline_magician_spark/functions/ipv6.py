"""IPv6 / MAC address functions (CH network family).

IPv6 values carry as 16-byte ``binary`` columns (CH's FixedString(16)
wire shape); parsing and formatting are pure Column string algebra
over the 32-char hex transliteration — bounded 8-group folds, no
Python in the data path.

Reference scope note: the reference's IP surface is IPv4-only
(cidr/cidr.go; SURVEY §2.8 X1–X6) — the IPv6/MAC family is
§2.12 extension-tier surface its network-monitoring users expect of a
drop-in engine.

Documented divergences from ClickHouse:
- invalid text yields NULL (CH throws; the OrNull/OrZero variants
  match CH exactly);
- formatting follows glibc inet_ntop like CH: longest zero run
  (first on tie, runs of >= 2 groups) compresses to ``::``, and the
  v4-tail special cases (``::a.b.c.d``, ``::ffff:a.b.c.d``, the
  odd ``::0.0.0.x`` for 7 leading zero groups unless the value is
  ``::1``) print dotted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ip import ip4_to_long, long_to_ip4


from .stats_tests import _let  # noqa: E402  (the one binder)


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


_V4_RE = (
    r"^(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
    r"(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}$"
)
_HEXG = r"^[0-9a-f]{1,4}$"


def _empty_str_arr() -> Column:
    # built lazily: a module-level F.array() would demand an active
    # SparkContext at import time
    return F.array().cast("array<string>")


def is_ipv4_string(s) -> Column:
    """CH isIPv4String(): strict dotted-quad with 0-255 octets."""
    return F.coalesce(_c(s).rlike(_V4_RE), F.lit(False))


def _ipv6_hex(s) -> Column:
    """Parse IPv6 text -> 32-char lowercase hex, NULL when invalid.
    Handles ``::`` compression and an embedded dotted-IPv4 tail.

    Each LET step hands the next one a struct of what it needs, so no
    lambda reads an enclosing lambda's variable: such a closure would
    keep a CH hash over the result from running (see
    ch_compat._url_hierarchy)."""

    def with_v4(t: Column) -> Column:
        v4 = F.regexp_extract(t, r"(?:^|:)((\d{1,3}\.){3}\d{1,3})$", 1)
        return F.struct(t.alias("t"), v4.alias("v4"))

    def rewrite(e: Column) -> Column:
        t, v4c = e["t"], e["v4"]
        v4_ok = v4c.rlike(_V4_RE)
        v4hex = F.lpad(F.lower(F.hex(ip4_to_long(v4c))), 8, "0")
        rewritten = F.concat(
            F.substring(t, F.lit(1), F.length(t) - F.length(v4c)),
            F.substring(v4hex, 1, 4),
            F.lit(":"),
            F.substring(v4hex, 5, 4),
        )
        return F.when(v4c == "", t).when(v4_ok, rewritten)

    t2 = _let(_let(F.lower(F.trim(_c(s))), with_v4), rewrite)
    return _hex_from_groups_text(t2)


def _hex_from_groups_text(t2: Column) -> Column:
    """Colon-group text (no dotted tail) -> 32-char hex or NULL."""

    def split_text(t: Column) -> Column:
        return F.struct(
            t.contains(".").alias("bad_dot"),
            F.split(t, "::").alias("p"),
            F.split(t, ":").alias("full"),
        )

    def sides(e: Column) -> Column:
        p = e["p"]
        p0 = F.try_element_at(p, F.lit(1))
        p1 = F.coalesce(F.try_element_at(p, F.lit(2)), F.lit(""))
        return F.struct(
            e["bad_dot"].alias("bad_dot"),
            (F.size(p) - 1).alias("dc"),
            e["full"].alias("full"),
            F.when(p0 == "", _empty_str_arr())
            .otherwise(F.split(p0, ":"))
            .alias("l"),
            F.when(p1 == "", _empty_str_arr())
            .otherwise(F.split(p1, ":"))
            .alias("r"),
        )

    def groups(e: Column) -> Column:
        l_, r_, full, dc = e["l"], e["r"], e["full"], e["dc"]
        ok1 = (
            F.forall(l_, lambda g: g.rlike(_HEXG))
            & F.forall(r_, lambda g: g.rlike(_HEXG))
            & ((F.size(l_) + F.size(r_)) <= 7)
        )
        groups1 = F.concat(
            l_,
            F.array_repeat(F.lit("0"), 8 - F.size(l_) - F.size(r_)),
            r_,
        )
        ok0 = (F.size(full) == 8) & F.forall(
            full, lambda g: g.rlike(_HEXG)
        )
        return (
            F.when(e["bad_dot"] | (dc > 1), F.lit(None))
            .when(dc == 1, F.when(ok1, groups1))
            .otherwise(F.when(ok0, full))
        )

    return _let(
        _let(_let(_let(t2, split_text), sides), groups),
        lambda g: F.when(
            g.isNotNull(),
            F.aggregate(
                g,
                F.lit(""),
                lambda acc, e: F.concat(acc, F.lpad(e, 4, "0")),
            ),
        ),
    )


def is_ipv6_string(s) -> Column:
    """CH isIPv6String(): parseable as IPv6 text."""
    return _ipv6_hex(s).isNotNull()


def ipv6_string_to_num(s) -> Column:
    """CH IPv6StringToNum(): text -> 16 bytes. Also accepts a bare
    IPv4 string (maps to ::ffff:a.b.c.d, as CH does). NULL when
    invalid (CH throws — documented divergence; the OrNull spelling
    is exact)."""
    sc = _c(s)
    v4_mapped = F.concat(
        F.lit("00000000000000000000ffff"),
        F.lpad(F.lower(F.hex(ip4_to_long(sc))), 8, "0"),
    )
    return F.unhex(
        F.when(is_ipv4_string(sc), v4_mapped).otherwise(_ipv6_hex(sc))
    )


def ipv4_to_ipv6(n) -> Column:
    """CH IPv4ToIPv6(num): the ::ffff:a.b.c.d mapped 16 bytes."""
    return F.unhex(
        F.concat(
            F.lit("00000000000000000000ffff"),
            F.lpad(F.lower(F.hex(_c(n).cast("long"))), 8, "0"),
        )
    )


def _v4_tail_dotted(h: Column) -> Column:
    """Dotted text of the last 4 bytes of the 32-char hex."""
    return F.concat_ws(
        ".",
        F.conv(F.substring(h, 25, 2), 16, 10),
        F.conv(F.substring(h, 27, 2), 16, 10),
        F.conv(F.substring(h, 29, 2), 16, 10),
        F.conv(F.substring(h, 31, 2), 16, 10),
    )


def ipv6_num_to_string(b) -> Column:
    """CH IPv6NumToString(): 16 bytes -> canonical compressed text
    (glibc inet_ntop rules; see module docstring). Closure-free like
    _ipv6_hex."""
    h0 = F.lower(F.hex(_c(b)))

    def with_groups(h: Column) -> Column:
        gv = F.transform(
            F.regexp_extract_all(h, F.lit(".{4}"), 0),
            lambda g: F.conv(g, 16, 10).cast("int"),
        )
        return F.struct(h.alias("h"), gv.alias("gv"))

    def with_lead(e: Column) -> Column:
        lead = F.aggregate(
            e["gv"],
            F.struct(F.lit(0).alias("n"), F.lit(False).alias("stop")),
            lambda acc, v: F.struct(
                F.when(acc["stop"] | (v != 0), acc["n"])
                .otherwise(acc["n"] + 1)
                .alias("n"),
                (acc["stop"] | (v != 0)).alias("stop"),
            ),
        )["n"]
        return F.struct(
            e["h"].alias("h"), e["gv"].alias("gv"), lead.alias("ld")
        )

    def render(e: Column) -> Column:
        gv, ld = e["gv"], e["ld"]
        g6 = F.element_at(gv, 6)
        g8 = F.element_at(gv, 8)
        mapped = (ld == 5) & (g6 == 0xFFFF)
        v4tail = (ld == 6) | ((ld == 7) & (g8 != 1)) | mapped
        v4out = F.concat(
            F.lit("::"),
            F.when(mapped, F.lit("ffff:")).otherwise(F.lit("")),
            _v4_tail_dotted(e["h"]),
        )
        trimmed = F.transform(gv, lambda v: F.lower(F.hex(v)))
        return F.when(v4tail, v4out).otherwise(_compress(trimmed, gv))

    return F.when(
        F.length(h0) == 32,
        _let(_let(_let(h0, with_groups), with_lead), render),
    )


def _compress(tg: Column, gv: Column) -> Column:
    """Join 8 trimmed groups with the longest zero run (first on
    tie, length >= 2) compressed to ``::``. The fold walks the group
    values themselves (its index rides in the accumulator), and the
    trimmed groups ride along with its result, so no lambda reads an
    enclosing lambda's variable."""

    def step(acc: Column, v: Column) -> Column:
        i = acc["i"] + 1
        cs = F.when(
            v == 0, F.when(acc["cl"] == 0, i).otherwise(acc["cs"])
        ).otherwise(F.lit(0))
        cl = F.when(v == 0, acc["cl"] + 1).otherwise(F.lit(0))
        return F.struct(
            i.alias("i"),
            cs.alias("cs"),
            cl.alias("cl"),
            F.when(cl > acc["bl"], cs).otherwise(acc["bs"]).alias("bs"),
            F.greatest(cl, acc["bl"]).alias("bl"),
        )

    best = F.aggregate(
        gv,
        F.struct(
            F.lit(0).alias("i"),
            F.lit(0).alias("cs"), F.lit(0).alias("cl"),
            F.lit(0).alias("bs"), F.lit(0).alias("bl"),
        ),
        step,
    )

    def join(e: Column) -> Column:
        tg, bs, bl = e["tg"], e["b"]["bs"], e["b"]["bl"]
        left = F.array_join(F.slice(tg, 1, bs - 1), ":")
        right = F.array_join(
            F.slice(tg, bs + bl, F.lit(8) - (bs + bl) + 1), ":"
        )
        return F.when(
            bl >= 2, F.concat(left, F.lit("::"), right)
        ).otherwise(F.array_join(tg, ":"))

    return _let(F.struct(tg.alias("tg"), best.alias("b")), join)


def cut_ipv6(b, bytes_v6, bytes_v4) -> Column:
    """CH cutIPv6(x, bytesToCutForIPv6, bytesToCutForIPv4): zero the
    trailing N bytes (N chosen by whether the value is an
    IPv4-mapped address) and format."""
    h0 = F.lower(F.hex(_c(b)))
    b6 = _c(int(bytes_v6) if not isinstance(bytes_v6, Column) else bytes_v6)
    b4 = _c(int(bytes_v4) if not isinstance(bytes_v4, Column) else bytes_v4)

    def cut(h: Column) -> Column:
        mapped = h.startswith("00000000000000000000ffff")
        k = F.when(mapped, b4).otherwise(b6).cast("int")
        return F.unhex(
            F.rpad(F.substring(h, F.lit(1), F.lit(32) - k * 2), 32, "0")
        )

    return F.when(
        F.length(h0) == 32, ipv6_num_to_string(_let(h0, cut))
    )


# ------------------------------------------------------------------ MAC


# the FULL six-group shape, validated before separators are stripped:
# CH rejects colon-less or misplaced-colon inputs ('aabbccddeeff',
# 'aa:bbcc:dd:ee:ff:') with 0, so the strip-then-check spelling was
# accepting strings CH refuses
_MAC_RE = r"^[0-9a-f]{2}(:[0-9a-f]{2}){5}$"


def mac_string_to_num(s) -> Column:
    """CH MACStringToNum('AA:BB:CC:DD:EE:FF') -> UInt64; 0 when the
    format is invalid (CH's own contract)."""
    lowered = F.lower(_c(s))
    return _let(
        lowered,
        lambda c: F.when(
            c.rlike(_MAC_RE),
            F.conv(F.regexp_replace(c, ":", ""), 16, 10).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


def mac_num_to_string(n) -> Column:
    """CH MACNumToString(num) -> 'AA:BB:CC:DD:EE:FF' (uppercase)."""
    h = F.lpad(F.upper(F.hex(_c(n).cast("long"))), 12, "0")
    return F.regexp_replace(h, "(..)(?!$)", "$1:")


def mac_string_to_oui(s) -> Column:
    """CH MACStringToOUI(): the first three octets as a number; 0 on
    invalid input."""
    lowered = F.lower(_c(s))
    return _let(
        lowered,
        lambda c: F.when(
            c.rlike(_MAC_RE),
            F.conv(
                F.regexp_replace(F.substring(c, 1, 8), ":", ""), 16, 10
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


# ------------------------------------------------- toIPv4 / toIPv6


def to_ipv4(s) -> Column:
    """CH toIPv4(): numeric IPv4 carrier (the engine's IPv4 shape is
    the IPv4StringToNum int64); NULL when invalid (CH throws)."""
    sc = _c(s)
    return F.when(is_ipv4_string(sc), ip4_to_long(sc))


def to_ipv4_or_zero(s) -> Column:
    return F.coalesce(to_ipv4(s), F.lit(0).cast("long"))


def to_ipv6(s) -> Column:
    """CH toIPv6(): 16-byte carrier; IPv4 text maps to ::ffff:x."""
    return ipv6_string_to_num(s)


def to_ipv6_or_zero(s) -> Column:
    return F.coalesce(
        to_ipv6(s), F.unhex(F.lit("0" * 32))
    )


CH_IPV6_FUNCTIONS = {
    "isIPv4String": is_ipv4_string,
    "isIPv6String": is_ipv6_string,
    "IPv6StringToNum": ipv6_string_to_num,
    "IPv6StringToNumOrNull": ipv6_string_to_num,
    # OrDefault: CH falls back to the type default (the :: zero
    # address), not NULL
    "IPv6StringToNumOrDefault": lambda s, *d: F.coalesce(
        ipv6_string_to_num(s),
        _c(d[0]) if d else F.unhex(F.lit("0" * 32)),
    ),
    "IPv6NumToString": ipv6_num_to_string,
    "INET6_ATON": ipv6_string_to_num,
    "INET6_NTOA": ipv6_num_to_string,
    "IPv4ToIPv6": ipv4_to_ipv6,
    "cutIPv6": cut_ipv6,
    "toIPv4": to_ipv4,
    "toIPv4OrNull": to_ipv4,
    "toIPv4OrZero": to_ipv4_or_zero,
    "toIPv6": to_ipv6,
    "toIPv6OrNull": to_ipv6,
    "toIPv6OrZero": to_ipv6_or_zero,
    "MACStringToNum": mac_string_to_num,
    "MACNumToString": mac_num_to_string,
    "MACStringToOUI": mac_string_to_oui,
    # full-16-byte dotted helper CH pairs with the v4 family
    "IPv4NumToStringClassC": lambda n: F.concat(
        F.regexp_replace(long_to_ip4(_c(n)), r"\.\d+$", ""),
        F.lit(".xxx"),
    ),
}
