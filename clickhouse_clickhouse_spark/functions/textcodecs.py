"""Unicode/text codecs for the dialect front end — pure Python stdlib.

Backs the reference's punycode/IDNA/UTF8-normalization/base58 scalar
functions (upstream ``src/Functions/punycode.cpp`` / ``idna.cpp`` /
``normalizeUTF8.h`` / ``FunctionBase58Conversion.h``) with stdlib
codecs — no external libraries:

* ``punycodeEncode/Decode`` — RFC 3492 via Python's built-in
  ``punycode`` codec (the same algorithm upstream takes from ada/idna).
* ``idnaEncode/Decode`` — per-label ToASCII/ToUnicode: ASCII labels
  lowercase-pass-through, non-ASCII labels get ``xn--`` + punycode.
  This is the raw-punycode label mapping (matches upstream's documented
  examples, e.g. ``straße.münchen.de → xn--strae-oqa.xn--mnchen-3ya.de``);
  the IDNA2003 nameprep remappings (``ß → ss``) are deliberately NOT
  applied — Python's ``idna`` codec would, upstream does not.
* ``normalizeUTF8NFC/NFD/NFKC/NFKD`` — ``unicodedata.normalize``.
* ``base58Encode/Decode`` — Bitcoin alphabet, leading-zero ``1`` runs
  preserved (the convention upstream pins).

Per-value Python inside Arrow-batched pandas UDFs — these are
compatibility codecs for name-like short strings, the same stance as
``cityHash64`` (documented in SCALE.md); none sit on a scale path.
"""

from __future__ import annotations

import unicodedata

from clickhouse_clickhouse_spark.functions.kernels import kernel, per_value

_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_B58_IDX = {c: i for i, c in enumerate(_B58)}


def punycode_encode_py(s: str) -> str:
    return s.encode("punycode").decode("ascii")


def punycode_decode_py(s: str) -> str:
    return s.encode("ascii").decode("punycode")


def idna_encode_py(domain: str) -> str:
    out = []
    for label in domain.split("."):
        low = label.lower()
        if low.isascii():
            out.append(low)
        else:
            out.append("xn--" + low.encode("punycode").decode("ascii"))
    return ".".join(out)


def idna_decode_py(domain: str) -> str:
    out = []
    for label in domain.split("."):
        low = label.lower()
        if low.startswith("xn--"):
            out.append(low[4:].encode("ascii").decode("punycode"))
        else:
            out.append(low)
    return ".".join(out)


def base58_encode_py(s: str) -> str:
    data = s.encode("utf-8")
    n = int.from_bytes(data, "big")
    enc = ""
    while n:
        n, rem = divmod(n, 58)
        enc = _B58[rem] + enc
    pad = 0
    for b in data:
        if b:
            break
        pad += 1
    return "1" * pad + enc


def base58_decode_py(s: str) -> str:
    n = 0
    for c in s:
        if c not in _B58_IDX:
            raise ValueError(f"invalid base58 character {c!r}")
        n = n * 58 + _B58_IDX[c]
    raw = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
    pad = 0
    for c in s:
        if c != "1":
            break
        pad += 1
    return (b"\x00" * pad + raw).decode("utf-8")


def base32_encode_py(s: str) -> str:
    import base64
    return base64.b32encode(s.encode("utf-8")).decode("ascii")


def base32_decode_py(s: str) -> str:
    import base64
    return base64.b32decode(s.encode("ascii"), casefold=False) \
        .decode("utf-8")


# CRC-64 per upstream src/Functions/CRC.h (CRC-64/XZ parameters:
# poly 0x42F0E1EBA9EA3693 reflected, init/xorout all-ones) — table-driven
_CRC64_POLY_REFL = 0xC96C5795D7870F42
_CRC64_TABLE: list[int] = []


def _crc64_table() -> list[int]:
    if not _CRC64_TABLE:
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ _CRC64_POLY_REFL if c & 1 else c >> 1
            _CRC64_TABLE.append(c)
    return _CRC64_TABLE


def crc64_py(s: str) -> int:
    tbl = _crc64_table()
    crc = 0xFFFFFFFFFFFFFFFF
    for b in s.encode("utf-8"):
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    crc ^= 0xFFFFFFFFFFFFFFFF
    return crc - (1 << 64) if crc >= (1 << 63) else crc  # BIGINT wrap


def bfloat16_py(x: float) -> float:
    """Round a double to bfloat16 precision (round-to-nearest-even on
    the float32 representation, the standard truncation trick)."""
    import struct
    v = struct.unpack("<I", struct.pack("<f", x))[0]
    v = (v + 0x7FFF + ((v >> 16) & 1)) & 0xFFFF0000
    return struct.unpack("<f", struct.pack("<I", v))[0]


def _normalizer(form: str):
    def normalize(v: str) -> str:
        return unicodedata.normalize(form, v)
    return normalize


# try* forms map failures to '' (the reference's contract); the others
# raise with the offending value named
for _name, _core in (
        ("punycodeEncode", punycode_encode_py),
        ("punycodeDecode", punycode_decode_py),
        ("idnaEncode", idna_encode_py),
        ("idnaDecode", idna_decode_py),
        ("base58Encode", base58_encode_py),
        ("base58Decode", base58_decode_py),
        ("base32Encode", base32_encode_py),
        ("base32Decode", base32_decode_py)):
    kernel(_name, "string")(per_value(_core))
for _name, _core in (("tryPunycodeDecode", punycode_decode_py),
                     ("tryIdnaEncode", idna_encode_py),
                     ("tryBase58Decode", base58_decode_py),
                     ("tryBase32Decode", base32_decode_py)):
    kernel(_name, "string")(per_value(_core, ""))
for _form in ("NFC", "NFD", "NFKC", "NFKD"):
    kernel(f"normalizeUTF8{_form}", "string")(per_value(_normalizer(_form)))
kernel("crc64", "bigint")(per_value(crc64_py))
kernel("toBFloat16", "float")(per_value(bfloat16_py))
