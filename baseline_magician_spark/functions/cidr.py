"""CIDR arithmetic helpers — the go-cidr surface (SURVEY §2.8 X5/X6).

Driver-side pure Python, family-agnostic like the vendored library
(go-cidr does all arithmetic through big.Int over the address's bit
length — 32 or 128, cidr.go:98-129): every helper accepts IPv4 and
IPv6 inputs and does its math at the input's width. The reference
*application* skips IPv6 networks outright (main.go:223-226), but the
library surface it vendors is dual-family, so this port is too.
Semantics follow vendor/github.com/apparentlymart/go-cidr/cidr/cidr.go:

- ``subnet``       — cidr.go:30-60   (Subnet: carve the num-th child
                     prefix of ``new_bits`` extra mask bits)
- ``host``         — cidr.go:62-96   (Host: the num-th address; num
                     may exceed the range only by masked-bit overflow,
                     which errors exactly like the Go version)
- ``address_range``— cidr.go:106-129 (first/last address)
- ``address_count``— cidr.go:136-139 (2^(bits-prefix))
- ``inc_ip``/``dec_ip`` — cidr/wrangling.go:9-37 (byte-wrap at the
  family width)
- ``previous_subnet``/``next_subnet`` — cidr.go:142-169 (returns the
  adjacent same-length prefix plus a rollover flag)
- ``verify_no_overlap`` — cidr.go:171-228 (every subnet inside the
  base and pairwise disjoint)

The engine's plans take each network's range bounds from
``functions.ip.parse_cidr_py`` on the driver (first address and one
past the broadcast address, the reference's off-by-one upper bound);
these helpers serve the rest of network-list preprocessing on the
driver, where the reference does the same work per-process.
"""

from __future__ import annotations

import ipaddress


def _parse(cidr: str) -> tuple[int, int, int]:
    """(network_int, masklen, family_bits); the address is masked down
    to the network base like net.ParseCIDR's returned *IPNet."""
    try:
        net = ipaddress.ip_network(cidr, strict=False)
    except ValueError as exc:
        raise ValueError(f"bad mask length in {cidr!r}: {exc}") from exc
    return int(net.network_address), net.prefixlen, net.max_prefixlen


def _addr(value: int, bits: int) -> str:
    if bits == 32:
        return str(ipaddress.IPv4Address(value))
    return str(ipaddress.IPv6Address(value))


def _render(base: int, masklen: int, bits: int) -> str:
    return f"{_addr(base, bits)}/{masklen}"


def address_count(cidr: str) -> int:
    _, masklen, bits = _parse(cidr)
    return 1 << (bits - masklen)


def address_range(cidr: str) -> tuple[str, str]:
    base, masklen, bits = _parse(cidr)
    return _addr(base, bits), _addr(base + (1 << (bits - masklen)) - 1, bits)


def subnet(cidr: str, new_bits: int, num: int) -> str:
    base, masklen, bits = _parse(cidr)
    new_len = masklen + new_bits
    if new_len > bits:
        raise ValueError(f"insufficient address space to extend {cidr!r} by {new_bits}")
    if num >= (1 << new_bits):
        raise ValueError(f"prefix extension of {new_bits} does not accommodate {num}")
    return _render(base + (num << (bits - new_len)), new_len, bits)


def host(cidr: str, num: int) -> str:
    """Negative ``num`` counts back from the end of the range
    (cidr.go:62-96: Host(-1) is the broadcast address)."""
    base, masklen, bits = _parse(cidr)
    size = 1 << (bits - masklen)
    if num < 0:
        if -num > size:
            raise ValueError(
                f"prefix of {masklen} does not accommodate host {num}"
            )
        num = size + num
    if num >= size:
        raise ValueError(f"prefix of {masklen} does not accommodate host {num}")
    return _addr(base + num, bits)


def _ip_int(ip: str) -> tuple[int, int]:
    a = ipaddress.ip_address(ip)
    return int(a), a.max_prefixlen


def inc_ip(ip: str) -> str:
    v, bits = _ip_int(ip)
    return _addr((v + 1) & ((1 << bits) - 1), bits)


def dec_ip(ip: str) -> str:
    v, bits = _ip_int(ip)
    return _addr((v - 1) & ((1 << bits) - 1), bits)


def next_subnet(cidr: str, prefix_len: int | None = None) -> tuple[str, bool]:
    """The adjacent higher ``prefix_len`` block AFTER the whole input
    network, go-cidr's exact algorithm (cidr.go:157-169): take the
    network's LAST address, mask it down to prefix_len, step one block
    past it. True flags rollover past the end of the address space
    (the wrapped value is returned with the flag rather than raising).
    """
    base, masklen, bits = _parse(cidr)
    top = (1 << bits) - 1
    plen = masklen if prefix_len is None else prefix_len
    mask = ~((1 << (bits - plen)) - 1) & top
    last = base + (1 << (bits - masklen)) - 1
    nxt = (last & mask) + (1 << (bits - plen))
    return _render(nxt & top & mask, plen, bits), nxt > top


def previous_subnet(cidr: str, prefix_len: int | None = None) -> tuple[str, bool]:
    """The ``prefix_len`` block containing the address just BEFORE the
    network's base (cidr.go:142-155: decrement, then mask). True flags
    rollover below address zero."""
    base, masklen, bits = _parse(cidr)
    top = (1 << bits) - 1
    plen = masklen if prefix_len is None else prefix_len
    mask = ~((1 << (bits - plen)) - 1) & top
    prev = base - 1
    return _render(prev & top & mask, plen, bits), prev < 0


def verify_no_overlap(subnets: list[str], base: str) -> None:
    """Raise ValueError unless every subnet lies inside ``base`` and no
    two subnets overlap (cidr.go:171-228's two checks, same order).
    Mixed-family subnets cannot be contained in a single base and fail
    the containment check naturally."""
    b_lo, b_len, b_bits = _parse(base)
    b_hi = b_lo + (1 << (b_bits - b_len)) - 1
    ranges = []
    for s in subnets:
        lo, mlen, bits = _parse(s)
        hi = lo + (1 << (bits - mlen)) - 1
        if bits != b_bits or lo < b_lo or hi > b_hi:
            raise ValueError(f"{s} is not contained within {base}")
        ranges.append((lo, hi, s))
    ranges.sort()
    for (lo1, hi1, s1), (lo2, hi2, s2) in zip(ranges, ranges[1:]):
        if lo2 <= hi1:
            raise ValueError(f"{s1} overlaps with {s2}")
