"""IPv6 codecs for the dialect front end — pure Python stdlib.

Backs the reference's IPv6 scalar family (upstream
``src/Functions/FunctionsCoding.h`` — IPv6StringToNum / IPv6NumToString
/ toIPv6 / isIPv6String / IPv4ToIPv6 / cutIPv6) with ``socket.inet_pton
/ inet_ntop`` (RFC 5952 canonical rendering, the same convention
upstream follows: lowercase hex, longest zero-run compressed,
IPv4-mapped tail in dotted-quad form).

Per-value Python inside Arrow-batched pandas UDFs — compatibility
codecs for address-like short strings, the same stance as the
``textcodecs`` module (none sit on a scale path; the IPv4 family
remains pure JVM arithmetic in ch_sql templates).
"""

from __future__ import annotations

import socket

import pandas as pd

from clickhouse_clickhouse_spark.functions.kernels import kernel, per_value


def ipv6_pton_py(s: str) -> bytes:
    return socket.inet_pton(socket.AF_INET6, s)


def ipv6_ntop_py(b: bytes) -> str:
    if len(b) != 16:
        raise ValueError(f"IPv6 value must be 16 bytes, got {len(b)}")
    return socket.inet_ntop(socket.AF_INET6, bytes(b))


def is_ipv6_py(s: str) -> bool:
    try:
        socket.inet_pton(socket.AF_INET6, s)
        return True
    except OSError:
        return False


def ipv4_to_ipv6_py(n: int) -> bytes:
    """IPv4 (UInt32) → IPv4-mapped IPv6 bytes ::ffff:a.b.c.d."""
    return b"\x00" * 10 + b"\xff\xff" + int(n).to_bytes(4, "big")


def cut_ipv6_py(b: bytes, bytes_v6: int, bytes_v4: int) -> str:
    """Zero the trailing ``bytes_v6`` bytes (or ``bytes_v4`` for an
    IPv4-mapped address) and render — upstream's anonymization helper."""
    b = bytes(b)
    if len(b) != 16:
        raise ValueError(f"IPv6 value must be 16 bytes, got {len(b)}")
    is_mapped = b[:12] == b"\x00" * 10 + b"\xff\xff"
    cut = int(bytes_v4) if is_mapped else int(bytes_v6)
    cut = max(0, min(16, cut))
    kept = b[:16 - cut] + b"\x00" * cut
    return socket.inet_ntop(socket.AF_INET6, kept)


def ipv6_cidr_range_py(v, prefix: int) -> tuple[str, str]:
    """IPv6CIDRToRange: (address, prefix) → (first, last) canonical
    text of the CIDR block — byte-wise masking, no 128-bit arithmetic.
    Accepts the string-carried address or the 16-byte binary form."""
    b = bytearray(v if isinstance(v, (bytes, bytearray))
                  else ipv6_pton_py(v))
    if len(b) != 16:
        raise ValueError(f"IPv6 value must be 16 bytes, got {len(b)}")
    prefix = max(0, min(128, int(prefix)))
    full, rem = divmod(prefix, 8)
    lo, hi = bytearray(b), bytearray(b)
    if rem and full < 16:
        mask = (0xFF << (8 - rem)) & 0xFF
        lo[full] &= mask
        hi[full] = (hi[full] & mask) | (0xFF >> rem)
    for i in range(full + (1 if rem else 0), 16):
        lo[i], hi[i] = 0, 0xFF
    return (socket.inet_ntop(socket.AF_INET6, bytes(lo)),
            socket.inet_ntop(socket.AF_INET6, bytes(hi)))


def ipv6_in_range_py(addr: str, cidr: str) -> bool:
    net, _, p = cidr.partition("/")
    lo, hi = ipv6_cidr_range_py(net, int(p) if p else 128)
    a = ipv6_pton_py(addr)
    return ipv6_pton_py(lo) <= a <= ipv6_pton_py(hi)


def to_ipv6_py(s: str) -> str:
    """Canonical RFC 5952 text of an IPv6 address string."""
    return ipv6_ntop_py(ipv6_pton_py(s))


# the OrNull twins are not just IF-wrapped strict calls: python UDFs are
# batch-extracted out of IF branches, so the strict form would fire even
# on the not-taken branch
kernel("IPv6StringToNum", "binary")(per_value(ipv6_pton_py))
kernel("IPv6StringToNumOrNull", "binary")(per_value(ipv6_pton_py, None))
kernel("IPv6NumToString", "string")(per_value(ipv6_ntop_py))
kernel("isIPv6String", "boolean")(per_value(is_ipv6_py))
kernel("toIPv6", "string")(per_value(to_ipv6_py))
kernel("toIPv6OrNull", "string")(per_value(to_ipv6_py, None))
kernel("IPv4ToIPv6", "binary")(per_value(ipv4_to_ipv6_py))
kernel("cutIPv6", "string")(per_value(cut_ipv6_py))
kernel("__ipv6_in_range", "boolean")(per_value(ipv6_in_range_py))


@kernel("IPv6CIDRToRange", "_1 string, _2 string")
def _ipv6_cidr_to_range(a: pd.Series, p: pd.Series) -> pd.DataFrame:
    out = [(None, None) if v is None or pr is None
           else ipv6_cidr_range_py(v, pr) for v, pr in zip(a, p)]
    return pd.DataFrame(out, columns=["_1", "_2"])
