"""Key normalization unit tests — analogue of the reference's ipset tests
and its adversarial key-collision store tests
(/root/reference/store/store_test.go:23-58)."""

import pytest

from flow_indexer_spark.functions.keys import (
    V4_KEY_LEN,
    V6_KEY_LEN,
    cidr_to_key_range,
    ip_to_key,
    key_to_ip,
)


def test_v4_key_roundtrip():
    assert ip_to_key("10.0.0.1") == "0a000001"
    assert key_to_ip("0a000001") == "10.0.0.1"


def test_v6_key_roundtrip():
    k = ip_to_key("2001:db8::1")
    assert len(k) == V6_KEY_LEN
    assert key_to_ip(k) == "2001:db8::1"
    assert ip_to_key("::1") == "0" * 31 + "1"


def test_byte_order_is_numeric_order():
    # lexicographic hex order == numeric order (ipset.go:23-37 invariant)
    ips = ["1.2.3.4", "10.0.0.1", "2.0.0.0", "192.168.1.1", "255.255.255.255"]
    nums = sorted(int(ipaddress_int(ip)) for ip in ips)
    keys = sorted(ip_to_key(ip) for ip in ips)
    assert [int(k, 16) for k in keys] == nums


def ipaddress_int(ip):
    import ipaddress

    return int(ipaddress.ip_address(ip))


def test_invalid_tokens_return_none():
    for bad in ["", "doc:", "max_id", "1.2.3", "999.1.1.1", "1.2.3.4.5", "10:27:26"]:
        assert ip_to_key(bad) is None


def test_adversarial_byte_collisions_still_normalize():
    # 100.111.99.58 -> bytes 'doc:'; 109.97.120.95 -> 'max_' — must be
    # ordinary keys here because postings and docs are separate tables
    # (SURVEY.md §1.3); store_test.go:33-39 analogue.
    assert ip_to_key("100.111.99.58") == bytes("doc:", "ascii").hex()
    assert ip_to_key("109.97.120.95") == bytes("max_", "ascii").hex()


def test_cidr_range_v4():
    lo, hi = cidr_to_key_range("192.168.1.0/24")
    assert lo == ip_to_key("192.168.1.0")
    assert hi == ip_to_key("192.168.1.255")
    assert len(lo) == len(hi) == V4_KEY_LEN


def test_cidr_range_v6():
    lo, hi = cidr_to_key_range("2001:db8::/32")
    assert lo == ip_to_key("2001:db8::")
    assert len(lo) == len(hi) == V6_KEY_LEN
    assert hi.startswith("20010db8")


def test_cidr_nonstrict_host_bits():
    lo, hi = cidr_to_key_range("192.168.1.77/24")
    assert lo == ip_to_key("192.168.1.0")
    assert hi == ip_to_key("192.168.1.255")


def test_key_to_ip_bad_length():
    with pytest.raises(ValueError):
        key_to_ip("0a00")


def test_v4_key_to_ip_equals_ipaddress():
    import ipaddress
    import random

    rng = random.Random(7)
    keys = ["00000000", "ffffffff", "0a000001", "FFFFFFFF"]
    keys += [f"{rng.getrandbits(32):08x}" for _ in range(2000)]
    for k in keys:
        assert key_to_ip(k) == str(ipaddress.IPv4Address(bytes.fromhex(k))), k


@pytest.mark.parametrize("key", ["0a00000g", "0a 00 01", "zzzzzzzz", "0a0000", "0" * 31])
def test_key_to_ip_bad_hex_or_length(key):
    with pytest.raises(ValueError):
        key_to_ip(key)
