"""AES stream-mode compat codecs — CTR / OFB / CFB / CFB8.

The reference's ``encrypt``/``decrypt`` ([U] src/Functions/FunctionsAES.h)
support aes-{128,192,256}-{ecb,cbc,cfb1,cfb8,cfb128,ofb,gcm,ctr}. Spark's
``aes_encrypt`` carries ECB/CBC/GCM natively (ch_sql._aes_tpl); the
stream modes have no Spark carrier, so they run through this
Arrow-batched pandas UDF over the python ``cryptography`` package —
OpenSSL-backed, the same cipher implementations the reference links, so
ciphertexts are byte-identical (stream modes have no padding and no
tag: output length == input length, decrypt == re-keystream).

Gating: ``cryptography`` is present in this container but is NOT in the
guaranteed baked-in set — the kernel's probe raises a loud
EnvironmentError naming the package when absent (import-try stance per
the project brief). Compat path only (per-row python; same stance as
functions/hashing.cityHash64): xxhash64 / Spark-native aes stay the
scale paths.

CFB1 is refused upstream of here (ch_sql names the supported modes):
``cryptography`` exposes CFB (128-bit feedback) and CFB8 only.
"""

from __future__ import annotations

# module-level: pandas_udf type-hint inference resolves 'pd.Series'
# against the DEFINING module's globals (verify-skill gotcha)
import pandas as pd

from clickhouse_clickhouse_spark.functions.kernels import kernel


def _require_cryptography() -> None:
    try:
        import cryptography  # noqa: F401 — probe only: module objects
        #                      must NOT be captured (cloudpickle cannot
        #                      serialize them into the UDF closure)
    except ImportError as e:           # pragma: no cover - env gate
        raise EnvironmentError(
            "encrypt/decrypt aes-*-ctr/ofb/cfb need the python "
            "'cryptography' package (OpenSSL backend), absent from this "
            "environment; ECB/CBC/GCM run on Spark's native aes_encrypt"
        ) from e


@kernel("__aes_stream", "binary", probe=_require_cryptography)
def _aes_stream(data: pd.Series, key: pd.Series, iv: pd.Series,
                mode: pd.Series, direction: pd.Series,
                bits: pd.Series) -> pd.Series:
    """``__aes_stream(data, key, iv, mode, direction, bits)`` -> binary.

    One kernel serves encrypt AND decrypt — CTR/OFB keystreams are
    plaintext-independent and CFB's decryptor differs only in the
    feedback register source, which the `direction` flag selects.
    """
    # worker-side import: the kernel captures no module object
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )
    mode_ctors = {"ctr": modes.CTR, "ofb": modes.OFB,
                  "cfb": modes.CFB, "cfb128": modes.CFB,
                  "cfb8": modes.CFB8}
    out = []
    for d, k, v, m, dr, b in zip(data, key, iv, mode, direction, bits):
        if d is None or k is None or v is None:
            out.append(None)
            continue
        k = bytes(k)
        if len(k) * 8 != int(b):
            raise ValueError(
                f"encrypt/decrypt aes-{int(b)}-{m}: key must be "
                f"{int(b) // 8} bytes, got {len(k)} (the reference "
                "requires the key length to match the declared mode)")
        c = Cipher(algorithms.AES(k), mode_ctors[m](bytes(v)))
        ctx = c.encryptor() if dr == "enc" else c.decryptor()
        out.append(ctx.update(bytes(d)) + ctx.finalize())
    return pd.Series(out)
