"""Canonical sortable entity keys.

The reference normalizes each IP to a fixed-width byte string whose byte
order equals numeric order, which turns CIDR queries into storage range
scans (/root/reference/ipset/ipset.go:23-53 ``IPToByteString`` /
``CIDRToByteStrings``). We reproduce the trick with fixed-width lowercase
hex strings: 8 chars for IPv4, 32 for IPv6. Lexicographic order over hex
== numeric order, key length separates the v4/v6 families (the reference's
family filter, /root/reference/store/leveldb.go:170-174), and a plain
string column gets Parquet min/max + dictionary + bloom-filter support.

Query-time helpers (``ip_to_key``, ``cidr_to_key_range``) run driver-side
and produce literals for ``between`` — never in the data plane. Data-plane
normalization lives with extraction: the Arrow-batched pandas UDF
``functions.extractors.normalize_ip_joined_udf``, cross-checked against
its array-shaped twin ``normalize_ip_array_udf`` (the reference keeps two
nfdump implementations and cross-checks them,
/root/reference/backend/nfdump_test.go:30-55).
"""

from __future__ import annotations

import ipaddress

V4_KEY_LEN = 8
V6_KEY_LEN = 32


def ip_to_key(ip: str) -> str | None:
    """Driver-side: dotted/colon IP string -> fixed-width hex key.

    Returns None for strings that are not valid IPs (candidate tokens from
    the loose extraction regex are validated here).
    """
    try:
        addr = ipaddress.ip_address(ip)
    except ValueError:
        return None
    return addr.packed.hex()


def key_to_ip(key: str) -> str:
    """Inverse of ip_to_key — hex key back to canonical display form.
    IPv4 renders from the octets directly, with no ``ipaddress`` object
    (an /expandcidr body renders hundreds); IPv6 goes through
    ``ipaddress`` for its canonical ``::`` compression. Bad hex or a bad
    length raises ValueError."""
    n = len(key)
    if n == V4_KEY_LEN:
        octets = bytes.fromhex(key)
        if len(octets) != 4:  # fromhex skips whitespace
            raise ValueError(f"bad IPv4 key {key!r}")
        return ".".join(map(str, octets))
    if n == V6_KEY_LEN:
        return str(ipaddress.IPv6Address(bytes.fromhex(key)))
    raise ValueError(f"bad key length {n}")


def cidr_to_key_range(cidr: str) -> tuple[str, str]:
    """CIDR -> (lo_key, hi_key) inclusive hex range.

    Analogue of CIDRToByteStrings (/root/reference/ipset/ipset.go:39-53):
    network address and broadcast address as fixed-width keys; the postings
    scan is then ``entity_key BETWEEN lo AND hi`` + a same-family length
    guard, which Parquet/Iceberg prune via min-max stats.
    """
    net = ipaddress.ip_network(cidr, strict=False)
    return net.network_address.packed.hex(), net[-1].packed.hex()
