"""Bit-parity hash functions (reference ``sipHash64`` / ``cityHash64``,
upstream ``src/Functions/FunctionsHashing.h``).

Anyone porting data with PERSISTED hash keys (sampling keys, shard keys,
pre-computed fingerprints) needs these exact bit patterns — xxhash64
(``F.xxhash64``, JVM-side) remains this engine's fast path for new hashes,
and these two exist as the compatibility escape hatch, implemented from
the public algorithm specifications:

* ``sipHash64`` — SipHash-2-4 (Aumasson & Bernstein, the published
  reference algorithm) with the zero key, which is what the reference
  engine uses for its keyless ``sipHash64``. The core is verified in
  tests against the official test vectors from the SipHash paper.
* ``cityHash64`` — CityHash64 v1.0.2 (Pike & Alakuijala, Google; the
  exact version the reference pins for compatibility). Implemented from
  the public v1.0.2 algorithm; deterministic and self-consistent, pinned
  by regression vectors in tests.

All are Arrow-batched pandas UDFs. ``sipHash64`` and the murmur
family run numpy-VECTORIZED batch kernels (word rounds across the
whole column with an active-row mask — ~17x the scalar loop,
bit-parity property-tested); ``cityHash64``'s
length-branched finishers resist row-vectorization and stay per-value
— the compatibility-only stance holds for it. xxhash64 (JVM) remains
the engine's hot-path hash everywhere. The pure-Python cores
(``siphash64_py`` / ``cityhash64_py`` / ``murmurhash2_64_py``) are
importable for oracle generation.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column

from clickhouse_clickhouse_spark.functions.kernels import (
    arrow_udf, kernel, per_value, udf,
)

_M64 = (1 << 64) - 1


def _rotl(x: int, b: int) -> int:
    return ((x << b) | (x >> (64 - b))) & _M64


def siphash64_py(data: bytes, k0: int = 0, k1: int = 0) -> int:
    """SipHash-2-4 of ``data`` (public reference algorithm). The
    reference engine's ``sipHash64`` is this with k0 = k1 = 0."""
    v0 = k0 ^ 0x736F6D6570736575
    v1 = k1 ^ 0x646F72616E646F6D
    v2 = k0 ^ 0x6C7967656E657261
    v3 = k1 ^ 0x7465646279746573

    def sipround():
        nonlocal v0, v1, v2, v3
        v0 = (v0 + v1) & _M64
        v1 = _rotl(v1, 13)
        v1 ^= v0
        v0 = _rotl(v0, 32)
        v2 = (v2 + v3) & _M64
        v3 = _rotl(v3, 16)
        v3 ^= v2
        v0 = (v0 + v3) & _M64
        v3 = _rotl(v3, 21)
        v3 ^= v0
        v2 = (v2 + v1) & _M64
        v1 = _rotl(v1, 17)
        v1 ^= v2
        v2 = _rotl(v2, 32)

    n = len(data)
    end = n - (n % 8)
    for off in range(0, end, 8):
        m = struct.unpack_from("<Q", data, off)[0]
        v3 ^= m
        sipround()
        sipround()
        v0 ^= m
    b = (n & 0xFF) << 56
    for i, ch in enumerate(data[end:]):
        b |= ch << (8 * i)
    v3 ^= b
    sipround()
    sipround()
    v0 ^= b
    v2 ^= 0xFF
    for _ in range(4):
        sipround()
    return (v0 ^ v1 ^ v2 ^ v3) & _M64


# -- CityHash64 v1.0.2 ----------------------------------------------------

_K0 = 0xC3A5C85C97CB3127
_K1 = 0xB492B66FBE98F273
_K2 = 0x9AE16A3B2F90404F
_K3 = 0xC949D7C7509E6557
_KMUL = 0x9DDFEA08EB382D69


def _f64(s: bytes, i: int) -> int:
    return struct.unpack_from("<Q", s, i)[0]


def _f32(s: bytes, i: int) -> int:
    return struct.unpack_from("<I", s, i)[0]


def _rot(v: int, shift: int) -> int:
    return v if shift == 0 else ((v >> shift) | (v << (64 - shift))) & _M64


def _rot1(v: int, shift: int) -> int:   # RotateByAtLeast1
    return ((v >> shift) | (v << (64 - shift))) & _M64 if shift else _rot(v, 1)


def _shiftmix(v: int) -> int:
    return (v ^ (v >> 47)) & _M64


def _hash16(u: int, v: int) -> int:     # Hash128to64
    a = ((u ^ v) * _KMUL) & _M64
    a ^= a >> 47
    b = ((v ^ a) * _KMUL) & _M64
    b ^= b >> 47
    return (b * _KMUL) & _M64


def _len0to16(s: bytes) -> int:
    n = len(s)
    if n >= 8:
        a = _f64(s, 0)
        b = _f64(s, n - 8)
        return (_hash16(a, _rot1((b + n) & _M64, n & 63)) ^ b) & _M64
    if n >= 4:
        a = _f32(s, 0)
        return _hash16((n + (a << 3)) & _M64, _f32(s, n - 4))
    if n > 0:
        a, b, c = s[0], s[n >> 1], s[n - 1]
        y = (a + (b << 8)) & _M64
        z = (n + (c << 2)) & _M64
        return (_shiftmix((y * _K2 ^ z * _K3) & _M64) * _K2) & _M64
    return _K2


def _len17to32(s: bytes) -> int:
    n = len(s)
    a = (_f64(s, 0) * _K1) & _M64
    b = _f64(s, 8)
    c = (_f64(s, n - 8) * _K2) & _M64
    d = (_f64(s, n - 16) * _K0) & _M64
    return _hash16(
        (_rot((a - b) & _M64, 43) + _rot(c, 30) + d) & _M64,
        (a + _rot((b ^ _K3) & _M64, 20) - c + n) & _M64)


def _weak32(s: bytes, i: int, a: int, b: int) -> tuple[int, int]:
    w, x, y, z = _f64(s, i), _f64(s, i + 8), _f64(s, i + 16), _f64(s, i + 24)
    a = (a + w) & _M64
    b = _rot((b + a + z) & _M64, 21)
    c = a
    a = (a + x + y) & _M64
    b = (b + _rot(a, 44)) & _M64
    return (a + z) & _M64, (b + c) & _M64


def _len33to64(s: bytes) -> int:
    n = len(s)
    z = _f64(s, 24)
    a = (_f64(s, 0) + (n + _f64(s, n - 16)) * _K0) & _M64
    b = _rot((a + z) & _M64, 52)
    c = _rot(a, 37)
    a = (a + _f64(s, 8)) & _M64
    c = (c + _rot(a, 7)) & _M64
    a = (a + _f64(s, 16)) & _M64
    vf = (a + z) & _M64
    vs = (b + _rot(a, 31) + c) & _M64
    a = (_f64(s, 16) + _f64(s, n - 32)) & _M64
    z = _f64(s, n - 8)
    b = _rot((a + z) & _M64, 52)
    c = _rot(a, 37)
    a = (a + _f64(s, n - 24)) & _M64
    c = (c + _rot(a, 7)) & _M64
    a = (a + _f64(s, n - 16)) & _M64
    wf = (a + z) & _M64
    ws = (b + _rot(a, 31) + c) & _M64
    r = _shiftmix(((vf + ws) * _K2 + (wf + vs) * _K0) & _M64)
    return (_shiftmix((r * _K0 + vs) & _M64) * _K2) & _M64


def cityhash64_py(s: bytes) -> int:
    """CityHash64 v1.0.2 of ``s`` (public algorithm)."""
    n = len(s)
    if n <= 16:
        return _len0to16(s)
    if n <= 32:
        return _len17to32(s)
    if n <= 64:
        return _len33to64(s)
    x = _f64(s, n - 40)
    y = (_f64(s, n - 16) + _f64(s, n - 56)) & _M64
    z = _hash16((_f64(s, n - 48) + n) & _M64, _f64(s, n - 24))
    v = _weak32(s, n - 64, n, z)
    w = _weak32(s, n - 32, (y + _K1) & _M64, x)
    x = (x * _K1 + _f64(s, 0)) & _M64
    i = 0
    remaining = (n - 1) & ~63
    while True:
        x = (_rot((x + y + v[0] + _f64(s, i + 8)) & _M64, 37) * _K1) & _M64
        y = (_rot((y + v[1] + _f64(s, i + 48)) & _M64, 42) * _K1) & _M64
        x ^= w[1]
        y = (y + v[0] + _f64(s, i + 40)) & _M64
        z = (_rot((z + w[0]) & _M64, 33) * _K1) & _M64
        v = _weak32(s, i, (v[1] * _K1) & _M64, (x + w[0]) & _M64)
        w = _weak32(s, i + 32, (z + w[1]) & _M64,
                    (y + _f64(s, i + 16)) & _M64)
        z, x = x, z
        i += 64
        remaining -= 64
        if remaining == 0:
            break
    return _hash16(
        (_hash16(v[0], w[0]) + _shiftmix(y) * _K1 + z) & _M64,
        (_hash16(v[1], w[1]) + x) & _M64)


def _to_signed(u: int) -> int:
    """uint64 -> the two's-complement int64 Spark LongType carries
    (the reference returns UInt64; the BITS are identical)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def _as_bytes(v) -> bytes:
    return v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")


# -- numpy-vectorized SipHash-2-4 / MurmurHash2-64A ----------------------
# Both are plain 8-byte-word loops, so they vectorize ACROSS rows: pad
# each batch into one zero-filled uint8 matrix, view it as little-endian
# uint64 words, and run the word rounds over the whole column with an
# active-row mask (rows shorter than the current word index keep their
# state). Per-value Python drops out of the batch hot loop — the only
# per-row cost left is the memcpy into the matrix. Bit-parity with the
# scalar references is property-tested (tests/test_ch_functions.py).

def _pack_batch(data: list[bytes]):
    n = len(data)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    full = lens // 8
    width = (int(full.max()) + 1) * 8 if n else 8
    mat = np.zeros((n, width), dtype=np.uint8)
    for i, b in enumerate(data):
        if b:
            mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    return lens, full, mat.view("<u8")


def _np_rotl(x, b):
    b = np.uint64(b)
    return (x << b) | (x >> (np.uint64(64) - b))


def siphash64_np(data: list[bytes]) -> "np.ndarray":
    lens, full, words = _pack_batch(data)
    n = len(data)
    u = np.uint64
    v0 = np.full(n, u(0x736F6D6570736575), dtype=np.uint64)
    v1 = np.full(n, u(0x646F72616E646F6D), dtype=np.uint64)
    v2 = np.full(n, u(0x6C7967656E657261), dtype=np.uint64)
    v3 = np.full(n, u(0x7465646279746573), dtype=np.uint64)

    def rounds(v0, v1, v2, v3, k):
        for _ in range(k):
            v0 = v0 + v1
            v1 = _np_rotl(v1, 13) ^ v0
            v0 = _np_rotl(v0, 32)
            v2 = v2 + v3
            v3 = _np_rotl(v3, 16) ^ v2
            v0 = v0 + v3
            v3 = _np_rotl(v3, 21) ^ v0
            v2 = v2 + v1
            v1 = _np_rotl(v1, 17) ^ v2
            v2 = _np_rotl(v2, 32)
        return v0, v1, v2, v3

    for j in range(int(full.max()) if n else 0):
        active = full > j
        m = np.where(active, words[:, j], u(0))
        n0, n1, n2, n3 = rounds(v0, v1, v2, v3 ^ m, 2)
        n0 = n0 ^ m
        v0 = np.where(active, n0, v0)
        v1 = np.where(active, n1, v1)
        v2 = np.where(active, n2, v2)
        v3 = np.where(active, n3, v3)
    # tail word: the zero-padded partial word at index `full` plus the
    # length byte in the top position (tail bytes occupy at most 7
    # low bytes, so the length byte never collides)
    tail = words[np.arange(n), full] | \
        ((lens.astype(np.uint64) & u(0xFF)) << u(56))
    v0, v1, v2, v3 = rounds(v0, v1, v2, v3 ^ tail, 2)
    v0 = v0 ^ tail
    v0, v1, v2, v3 = rounds(v0, v1, v2 ^ u(0xFF), v3, 4)
    return v0 ^ v1 ^ v2 ^ v3


def murmurhash2_64_np(data: list[bytes], seed: int = 0) -> "np.ndarray":
    lens, full, words = _pack_batch(data)
    n = len(data)
    u = np.uint64
    m = u(0xC6A4A7935BD1E995)
    r = u(47)
    h = (u(seed) ^ (lens.astype(np.uint64) * m))
    for j in range(int(full.max()) if n else 0):
        active = full > j
        k = words[:, j] * m
        k ^= k >> r
        k = k * m
        h = np.where(active, (h ^ k) * m, h)
    rem = (lens % 8) > 0
    tail = words[np.arange(n), full]        # little-endian, zero-padded
    h = np.where(rem, (h ^ tail) * m, h)
    h ^= h >> r
    h = h * m
    h ^= h >> r
    return h


# matrix cells per packed bucket (~64 MB of uint8): _pack_batch pads
# every row to the bucket's longest value, so one long outlier in a
# big Arrow batch would otherwise allocate n_rows x max_len zeros —
# bucketing rows by length bounds the padding waste
_PACK_MAX_CELLS = 1 << 26


def _hash_series(s: "pd.Series", np_fn) -> "pd.Series":
    mask = s.notna()
    data = [_as_bytes(v) for v in s[mask]]
    out = pd.Series([pd.NA] * len(s), index=s.index, dtype="Int64")
    if data:
        order = sorted(range(len(data)), key=lambda i: len(data[i]))
        vals = np.empty(len(data), dtype=np.int64)
        with np.errstate(over="ignore"):
            start = 0
            while start < len(order):
                end, width = start, 8
                while end < len(order):
                    width = max(width, (len(data[order[end]]) // 8
                                        + 1) * 8)
                    if (end - start + 1) * width > _PACK_MAX_CELLS \
                            and end > start:
                        break
                    end += 1
                idx = order[start:end]
                vals[idx] = np_fn([data[i] for i in idx]) \
                    .astype(np.int64)
                start = end
        out[mask] = vals
    return out


def _city_hash64(v) -> int:
    return _to_signed(cityhash64_py(_as_bytes(v)))


# CityHash64's length-branched finishers (<=16/32/64/loop) resist
# row-vectorization — stays per-value, parity-only
kernel("cityHash64", "long")(per_value(_city_hash64))


def sip_hash64(c: Column) -> Column:
    """Column wrapper: ``sipHash64(x)`` (SipHash-2-4, zero key)."""
    return udf("sipHash64")(c)


def city_hash64(c: Column) -> Column:
    """Column wrapper: ``cityHash64(x)`` (CityHash64 v1.0.2)."""
    return udf("cityHash64")(c)


def murmurhash2_64_py(data: bytes, seed: int = 0) -> int:
    """MurmurHash2 64A (Appleby's public algorithm; the reference's
    murmurHash2_64 with seed 0)."""
    m = 0xC6A4A7935BD1E995
    r = 47
    n = len(data)
    h = (seed ^ (n * m)) & _M64
    end = n - (n % 8)
    for off in range(0, end, 8):
        k = struct.unpack_from("<Q", data, off)[0]
        k = (k * m) & _M64
        k ^= k >> r
        k = (k * m) & _M64
        h ^= k
        h = (h * m) & _M64
    rem = n & 7
    if rem:
        tail = 0
        for i in range(rem - 1, -1, -1):
            tail = (tail << 8) | data[end + i]
        h ^= tail
        h = (h * m) & _M64
    h ^= h >> r
    h = (h * m) & _M64
    h ^= h >> r
    return h


def jaro_winkler_py(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity (public algorithm: Jaro matches within
    floor(max/2)-1, half-transpositions, Winkler prefix boost p=0.1 up to
    4 chars when jaro > 0.7 — the same definition DuckDB's
    jaro_winkler_similarity implements, which the oracle leans on —
    including its empty-vs-empty = 0.0 edge)."""
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(n1, n2) // 2 - 1
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(n1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    # DuckDB (rapidfuzz convention) floors the half-transposition count
    jaro = (matches / n1 + matches / n2
            + (matches - t // 2) / matches) / 3
    if jaro > 0.7:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix += 1
        jaro += prefix * 0.1 * (1 - jaro)
    return jaro


def murmurhash2_32_py(data: bytes, seed: int = 0) -> int:
    """32-bit MurmurHash2 (Appleby's public murmur2), the upstream
    ``murmurHash2_32`` ([U] src/Functions/FunctionsHashing.h, seed 0).
    kafka_murmur2_py delegates here with the Kafka seed and 31-bit
    sign mask — the equality is pinned in tests/test_probe_r14b.py."""
    m32 = 0xFFFFFFFF
    m = 0x5BD1E995
    r = 24
    n = len(data)
    h = (seed ^ n) & m32
    end = n - (n % 4)
    for i in range(0, end, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * m) & m32
        k ^= k >> r
        k = (k * m) & m32
        h = (h * m) & m32
        h ^= k
    tail = data[end:]
    if len(tail) >= 3:
        h ^= tail[2] << 16
    if len(tail) >= 2:
        h ^= tail[1] << 8
    if len(tail) >= 1:
        h ^= tail[0]
        h = (h * m) & m32
    h ^= h >> 13
    h = (h * m) & m32
    h ^= h >> 15
    return h


def murmurhash3_32_py(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86_32 (Appleby's public murmur3), the upstream
    ``murmurHash3_32`` ([U] src/Functions/FunctionsHashing.h, seed 0).
    Verified two ways (tests/test_probe_r14b.py): the published
    reference vectors ('' -> 0, 'abc' -> 0xB3DD93FA, 'hello' ->
    0x248BFA47), and a differential against Spark's builtin ``hash()``
    (Murmur3 x86_32, seed 42) on length%4==0 inputs — Spark's kernel
    is standard murmur3 for whole 4-byte words and only deviates in
    its per-byte tail mixing."""
    m32 = 0xFFFFFFFF
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & m32
    n = len(data)
    end = n - (n % 4)
    for i in range(0, end, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & m32
        k = ((k << 15) | (k >> 17)) & m32
        k = (k * c2) & m32
        h ^= k
        h = ((h << 13) | (h >> 19)) & m32
        h = (h * 5 + 0xE6546B64) & m32
    k = 0
    tail = data[end:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & m32
        k = ((k << 15) | (k >> 17)) & m32
        k = (k * c2) & m32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m32
    h ^= h >> 16
    return h


def _pack_batch32(data: list[bytes]):
    """_pack_batch with 4-byte little-endian words (the 32-bit murmur
    chunk size)."""
    n = len(data)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    full = lens // 4
    width = (int(full.max()) + 1) * 4 if n else 4
    mat = np.zeros((n, width), dtype=np.uint8)
    for i, b in enumerate(data):
        if b:
            mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    return lens, full, mat.view("<u4")


def _np_rotl32(x, b):
    b = np.uint32(b)
    return (x << b) | (x >> (np.uint32(32) - b))


def murmurhash2_32_np(data: list[bytes], seed: int = 0) -> "np.ndarray":
    """Vectorized murmurhash2_32_py (bit-parity pinned in tests). The
    1-3 tail bytes collapse to one step: the zero-padded partial word
    IS the byte cascade h^=b2<<16; h^=b1<<8; h^=b0."""
    lens, full, words = _pack_batch32(data)
    n = len(data)
    u = np.uint32
    m = u(0x5BD1E995)
    r = u(24)
    h = u(seed) ^ lens.astype(np.uint32)
    for j in range(int(full.max()) if n else 0):
        active = full > j
        k = words[:, j] * m
        k ^= k >> r
        k = k * m
        h = np.where(active, (h * m) ^ k, h)
    rem = (lens % 4) > 0
    tail = words[np.arange(n), full]
    h = np.where(rem, (h ^ tail) * m, h)
    h ^= h >> u(13)
    h = h * m
    h ^= h >> u(15)
    return h


def murmurhash3_32_np(data: list[bytes], seed: int = 0) -> "np.ndarray":
    """Vectorized murmurhash3_32_py (bit-parity pinned in tests)."""
    lens, full, words = _pack_batch32(data)
    n = len(data)
    u = np.uint32
    c1, c2 = u(0xCC9E2D51), u(0x1B873593)
    h = np.full(n, u(seed), dtype=np.uint32)
    for j in range(int(full.max()) if n else 0):
        active = full > j
        k = words[:, j] * c1
        k = _np_rotl32(k, 15) * c2
        h = np.where(active,
                     _np_rotl32(h ^ k, 13) * u(5) + u(0xE6546B64), h)
    rem = (lens % 4) > 0
    k = words[np.arange(n), full] * c1
    k = _np_rotl32(k, 15) * c2
    h = np.where(rem, h ^ k, h)
    h ^= lens.astype(np.uint32)
    h ^= h >> u(16)
    h = h * u(0x85EBCA6B)
    h ^= h >> u(13)
    h = h * u(0xC2B2AE35)
    h ^= h >> u(16)
    return h


def _batch_hash(np_fn):
    def run(s: pd.Series) -> pd.Series:
        return _hash_series(s, np_fn)
    run.__name__ = np_fn.__name__
    return run


# numpy batch kernels; the 32-bit pair returns BIGINT over the UInt32
# range (upstream's UInt32 return — crc32's Spark convention)
for _name, _np_fn in (("sipHash64", siphash64_np),
                      ("murmurHash2_64", murmurhash2_64_np),
                      ("murmurHash2_32", murmurhash2_32_np),
                      ("murmurHash3_32", murmurhash3_32_np)):
    kernel(_name, "long")(_batch_hash(_np_fn))

# DataFrame-only: the dialect's jaroWinklerSimilarity is a SQL template
_jaro_winkler = per_value(jaro_winkler_py)


def jaro_winkler(a: Column, b: Column) -> Column:
    """Column wrapper: ``jaroWinklerSimilarity(a, b)``."""
    return arrow_udf(_jaro_winkler, "double")(a, b)


def kafka_murmur2_py(data: bytes) -> int:
    """Kafka's 32-bit MurmurHash2 (Appleby's public murmur2 with the
    Kafka client's seed 0x9747b28c), sign-masked to the non-negative
    31-bit value Kafka's default partitioner consumes — the reference's
    ``kafkaMurmurHash`` ([U] src/Functions/FunctionsHashing.h): the
    seed-parameterized ``murmurhash2_32_py``."""
    return murmurhash2_32_py(data, 0x9747B28C) & 0x7FFFFFFF


kernel("__kafka_murmur2", "int")(per_value(
    lambda v: kafka_murmur2_py(_as_bytes(v))))


def siphash128_py(data: bytes, k0: int = 0, k1: int = 0,
                  reference: bool = False) -> bytes:
    """SipHash-2-4 with 128-bit output, two dialects:

    ``reference=False`` — the upstream engine's LEGACY ``get128``
    ([U] src/Common/SipHash.h): the 64-bit rounds verbatim (length-byte
    tail word, ``v2 ^= 0xFF`` finalize) emitting ``LE(v0^v1) ||
    LE(v2^v3)``. Consequence pinned in tests: the XOR of the two
    halves equals the paper-vector-pinned sipHash64, so the legacy
    128-bit form inherits those pins.

    ``reference=True`` — the official 128-bit variant of the SipHash
    reference implementation (Aumasson & Bernstein): ``v1 ^= 0xEE`` at
    init, first finalize ``v2 ^= 0xEE`` → out0, then ``v1 ^= 0xDD`` +
    4 more rounds → out1. Pinned against the published
    ``vectors_sip128`` test vectors."""
    v0 = k0 ^ 0x736F6D6570736575
    v1 = k1 ^ 0x646F72616E646F6D
    v2 = k0 ^ 0x6C7967656E657261
    v3 = k1 ^ 0x7465646279746573
    if reference:
        v1 ^= 0xEE

    def sipround():
        nonlocal v0, v1, v2, v3
        v0 = (v0 + v1) & _M64
        v1 = _rotl(v1, 13)
        v1 ^= v0
        v0 = _rotl(v0, 32)
        v2 = (v2 + v3) & _M64
        v3 = _rotl(v3, 16)
        v3 ^= v2
        v0 = (v0 + v3) & _M64
        v3 = _rotl(v3, 21)
        v3 ^= v0
        v2 = (v2 + v1) & _M64
        v1 = _rotl(v1, 17)
        v1 ^= v2
        v2 = _rotl(v2, 32)

    n = len(data)
    end = n - (n % 8)
    for off in range(0, end, 8):
        m = struct.unpack_from("<Q", data, off)[0]
        v3 ^= m
        sipround()
        sipround()
        v0 ^= m
    b = (n & 0xFF) << 56
    for i, ch in enumerate(data[end:]):
        b |= ch << (8 * i)
    v3 ^= b
    sipround()
    sipround()
    v0 ^= b
    if reference:
        v2 ^= 0xEE
        for _ in range(4):
            sipround()
        out0 = (v0 ^ v1 ^ v2 ^ v3) & _M64
        v1 ^= 0xDD
        for _ in range(4):
            sipround()
        out1 = (v0 ^ v1 ^ v2 ^ v3) & _M64
    else:
        v2 ^= 0xFF
        for _ in range(4):
            sipround()
        out0 = (v0 ^ v1) & _M64
        out1 = (v2 ^ v3) & _M64
    return struct.pack("<QQ", out0, out1)


def _declare_siphash128(reference: bool, suffix: str) -> None:
    kernel(f"__siphash128{suffix}", "string")(per_value(
        lambda v: siphash128_py(_as_bytes(v), reference=reference).hex()))
    kernel(f"__siphash128{suffix}_keyed", "string")(per_value(
        lambda k0, k1, v: siphash128_py(
            _as_bytes(v), int(k0) & _M64, int(k1) & _M64,
            reference=reference).hex()))


_declare_siphash128(False, "")
_declare_siphash128(True, "_ref")

kernel("__siphash64_keyed", "long")(per_value(
    lambda k0, k1, v: _to_signed(siphash64_py(
        _as_bytes(v), int(k0) & _M64, int(k1) & _M64))))

# FIPS 180-4 SHA-512/256 (distinct IV; NOT a truncation of SHA-512),
# hex output like the MD5 mapping (upstream returns FixedString(32))
kernel("__sha512_256", "string")(per_value(
    lambda v: hashlib.new("sha512_256", _as_bytes(v)).hexdigest()))


def _require_ripemd160() -> None:
    """RIPEMD160 depends on the box's OpenSSL build (legacy provider)."""
    try:
        hashlib.new("ripemd160", b"")
    except ValueError as e:        # pragma: no cover - env gate
        raise EnvironmentError(
            "ripeMD160 needs OpenSSL's legacy ripemd160 provider, "
            "absent from this build; use SHA256/SHA512_256") from e


# ISO/IEC 10118-3 vector pinned in tests (RIPEMD160('abc') = 8eb208f7...)
kernel("__ripemd160", "string", probe=_require_ripemd160)(per_value(
    lambda v: hashlib.new("ripemd160", _as_bytes(v)).hexdigest()))


def jump_consistent_hash_py(key: int, n: int) -> int:
    """Jump consistent hash ([U] src/Functions/jumpConsistentHash.cpp;
    published algorithm: Lamport & Veach 2014, "A Fast, Minimal Memory,
    Consistent Hash Algorithm" — this is the paper's code verbatim,
    including the double-precision division, which upstream shares).
    O(ln n) iterations; moving from n to n+1 buckets only ever
    reassigns keys INTO the new bucket (pinned property test)."""
    key &= _M64
    b, j = -1, 0
    while j < n:
        b = j
        key = (key * 2862933555777941757 + 1) & _M64
        j = int(float(b + 1) * (float(1 << 31)
                                / float((key >> 33) + 1)))
    return b


kernel("__jump_hash", "int")(per_value(
    lambda k, n: None if int(n) <= 0
    else jump_consistent_hash_py(int(k), int(n))))
