"""Multimodal column plumbing (SURVEY.md §7 M7 / driver brief): image,
audio, video as opaque ``binary`` columns with typed metadata structs.

Kernels are REAL wherever the format needs no external library: PNG /
BMP / binary-PPM decode+resize+re-encode (``functions/png.py``),
RIFF-PCM WAV decode + DSP features (``functions/audio.py``), ISO-BMFF
demux + frame sampling (``functions/mp4.py``), and header probes for
all of them. Only the codec-dependent steps (JPEG pixels, H.264/HEVC
frame decode, compressed audio) raise ``NotImplementedError`` —
swapping in a real decoder is a one-function change; the Spark-side
plumbing (schemas, Arrow batch shape, ``mapInPandas`` signatures,
partitioning) is identical either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_clickhouse_spark.session import local_frame

# Typed metadata carried alongside the opaque payload.
IMAGE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]), True),
])

FEATURE_DIM = 16

_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table: payload = seeded bytes, metadata
    consistent with it. Stands in for `spark.read.format('binaryFile')`."""
    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed=i)
        payload = rng.integers(0, 256, size=64, dtype=np.uint8).tobytes()
        rows.append((i, bytearray(payload), ("fake/raw", 8, 8)))
    return local_frame(spark, rows, IMAGE_SCHEMA)


def _decode_stub(payload: bytes) -> np.ndarray:
    """STUB decode: real implementation would call PIL/ffmpeg. The fake is
    deterministic in the payload bytes so tests can assert end-to-end."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    return arr.reshape(-1)


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over opaque payloads via ``mapInPandas`` — the
    Arrow-batched slow path the reference reaches with executable UDFs
    (SURVEY.md §2.10). Batches stream per partition; nothing accumulates
    on the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None)
                    continue
                decoded = _decode_stub(bytes(payload))
                # STUB feature: histogram of byte values into FEATURE_DIM bins.
                hist, _ = np.histogram(decoded, bins=FEATURE_DIM, range=(0, 256))
                feats.append((hist / max(hist.sum(), 1)).astype(np.float32).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return media.mapInPandas(run, schema=_FEATURE_SCHEMA)


def synthetic_png_media(spark, n: int = 16) -> DataFrame:
    """Deterministic REAL-PNG media table (valid files, seeded pixels) —
    the in-repo PNG codec needs no external libraries."""
    from clickhouse_clickhouse_spark.functions.png import png_encode

    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed=i)
        w, h = 8 + i % 5, 6 + i % 4
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((i, bytearray(png_encode(np.asarray(img))),
                     ("image/png", w, h)))
    return local_frame(spark, rows, IMAGE_SCHEMA)


_PROBE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("format", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("extra", T.DoubleType(), True),
])


def probe_media(media: DataFrame) -> DataFrame:
    """Header-level metadata probe (PNG/JPEG/GIF/WAV) — REAL decode of
    container headers via the stdlib-only sniffer, Arrow-batched per
    partition. The cheap first pass of any media-curation pipeline:
    dimensions/duration without touching pixel/sample data."""
    import sys

    from pyspark import cloudpickle

    from clickhouse_clickhouse_spark.functions import png as _png
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    # the closure references the png module — ship it by value as well
    # (executor workers under an external session lack the repo on
    # sys.path)
    cloudpickle.register_pickle_by_value(_png)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "format": [], "width": [],
                   "height": [], "extra": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                meta = (_png.sniff_media(bytes(payload))
                        if payload is not None else None) or {}
                out["media_id"].append(mid)
                out["format"].append(meta.get("format"))
                out["width"].append(meta.get("width"))
                out["height"].append(meta.get("height"))
                out["extra"].append(meta.get("extra"))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=_PROBE_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize. REAL kernel for every lib-free raster format —
    PNG, BMP (24-bit BI_RGB), binary PPM/PGM, GIF, and baseline JPEG
    (round-10 in-repo T.81 codec) — via the stdlib codecs: decode →
    nearest-neighbor resample → re-encode in the same format (JPEG
    re-encodes at the codec's default quality — lossy, like any
    JPEG-to-JPEG resize). Video frames still raise per-row (their
    decoders need external libs absent here)."""
    import sys

    from pyspark import cloudpickle

    from clickhouse_clickhouse_spark.functions import jpeg as _jpeg
    from clickhouse_clickhouse_spark.functions import png as _png
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    # the closures reference the png/jpeg modules — ship them by value
    # as well (executor workers under an external session lack the repo
    # on sys.path)
    cloudpickle.register_pickle_by_value(_png)
    cloudpickle.register_pickle_by_value(_jpeg)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads, metas = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    ids.append(mid)
                    payloads.append(None)
                    metas.append(None)
                    continue
                data = bytes(payload)
                sniff = _png.sniff_media(data)
                fmt = sniff and sniff["format"]
                if fmt not in ("png", "bmp", "ppm", "gif", "jpeg"):
                    raise NotImplementedError(
                        "resize kernel covers the lib-free rasters "
                        f"(png/bmp/ppm/gif/jpeg); got {fmt!r} — video "
                        "frames need external decoders absent here")
                resized = _png.raster_resize_nearest(data, width, height)
                ids.append(mid)
                payloads.append(resized)
                out_fmt = "png" if fmt == "gif" else fmt
                metas.append((f"image/{out_fmt}", width, height))
            yield pd.DataFrame({"media_id": ids, "payload": payloads,
                                "meta": metas})

    return media.mapInPandas(run, schema=IMAGE_SCHEMA)


_FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("sample_idx", T.IntegerType(), False),
    T.StructField("offset", T.LongType(), False),
    T.StructField("size", T.LongType(), False),
    T.StructField("frame_payload", T.BinaryType(), True),
    T.StructField("codec", T.StringType(), True),
])


def frame_sample(media: DataFrame, every_n: int) -> DataFrame:
    """Video frame sampling at CONTAINER level (round-5: real MP4 demux
    replaces the former NotImplementedError): ``functions/mp4.py`` walks
    the ISO-BMFF boxes, resolves the sample tables to per-sample byte
    ranges, and every ``every_n``-th encoded sample's bytes are emitted
    as a row — the exact unit a downstream GPU decode stage consumes.
    DECODING the returned payloads (H.264/HEVC) still needs codec
    libraries absent here; selecting them does not."""
    import sys

    from pyspark import cloudpickle
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    from clickhouse_clickhouse_spark.functions import mp4 as _mp4
    cloudpickle.register_pickle_by_value(_mp4)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                data = bytes(payload)
                parsed = _mp4.parse_mp4(data)
                vid = next((t for t in parsed["tracks"]
                            if t["handler"] == "vide"), None)
                if vid is None:
                    raise ValueError(
                        f"media_id {mid}: no video track (payload is not "
                        "an MP4 with a vide handler)")
                offs, sizes = _mp4.sample_ranges(vid)
                for idx in range(0, sizes.size, every_n):
                    o, s = int(offs[idx]), int(sizes[idx])
                    rows.append((int(mid), idx, o, s, data[o:o + s],
                                 vid["codec"]))
            if rows:
                yield pd.DataFrame(
                    rows, columns=[f.name for f in _FRAME_SCHEMA.fields])

    return media.mapInPandas(run, schema=_FRAME_SCHEMA)


def probe_video(media: DataFrame) -> DataFrame:
    """MP4 metadata probe: duration, first-video-track codec/dimensions/
    sample count — per-row demux inside Arrow batches."""
    import sys

    from pyspark import cloudpickle
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    from clickhouse_clickhouse_spark.functions import mp4 as _mp4
    cloudpickle.register_pickle_by_value(_mp4)

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("major_brand", T.StringType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
        T.StructField("video_codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                p = _mp4.probe_mp4(bytes(payload))
                rows.append((int(mid), p["major_brand"], p["duration_s"],
                             p["n_tracks"], p["video_codec"],
                             p["width"], p["height"], p["n_samples"]))
            if rows:
                yield pd.DataFrame(
                    rows, columns=[f.name for f in schema.fields])

    return media.mapInPandas(run, schema=schema)


_AUDIO_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("rate", T.IntegerType(), True),
    T.StructField("duration_s", T.DoubleType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("zcr_hz", T.DoubleType(), True),
    T.StructField("dominant_hz", T.DoubleType(), True),
])


def synthetic_wav_media(spark, n: int = 8, rate: int = 8000,
                        seconds: float = 0.5) -> DataFrame:
    """Deterministic sine-tone WAV clips (REAL RIFF/PCM-16 bytes via
    functions/audio.wav_encode): clip i is a pure tone at
    200·(i+1) Hz with amplitude 0.1·(i+1) — every feature the DSP path
    should recover is known in closed form."""
    from clickhouse_clickhouse_spark.functions.audio import wav_encode

    rows = []
    t = np.arange(int(rate * seconds)) / rate
    for i in range(n):
        freq, amp = 200.0 * (i + 1), 0.1 * (i + 1)
        wav = wav_encode(rate, amp * np.sin(2 * np.pi * freq * t))
        rows.append((i, bytearray(wav), ("audio/wav", None, None)))
    return local_frame(spark, rows, IMAGE_SCHEMA)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode + DSP features (round 10): PCM WAV payloads →
    (rate, duration, RMS, zero-crossing rate, dominant frequency via
    rFFT) — numpy kernels in an Arrow-batched mapInPandas, the same
    shape a real embedding/featurizer stage takes. Non-WAV payloads
    raise per-row (compressed audio needs codec libs absent here)."""
    import sys

    from pyspark import cloudpickle

    from clickhouse_clickhouse_spark.functions import audio as _audio
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(_audio)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "rate", "duration_s",
                                   "rms", "zcr_hz", "dominant_hz")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                if payload is None:
                    for k in ("rate", "duration_s", "rms", "zcr_hz",
                              "dominant_hz"):
                        out[k].append(None)
                    continue
                f = _audio.audio_features(bytes(payload))
                for k in ("rate", "duration_s", "rms", "zcr_hz",
                          "dominant_hz"):
                    out[k].append(f[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=_AUDIO_SCHEMA)


_EMB_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
])


def audio_embedding(media: DataFrame, bands: int = 16) -> DataFrame:
    """REAL audio embedding (round 10): mono mix → rFFT magnitude →
    ``bands`` equal-width spectral band energies → log1p → L2
    normalize. Deterministic, library-free, and shaped exactly like the
    ``embeddings`` fixture column — so the ANN/similarity operators
    (pipeline/similarity.*) consume it unchanged. The audio analog of
    an embedding-model featurizer at the plumbing level."""
    import sys

    from pyspark import cloudpickle

    from clickhouse_clickhouse_spark.functions import audio as _audio
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(_audio)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, embs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                ids.append(mid)
                if payload is None:
                    embs.append(None)
                    continue
                _, samples = _audio.wav_decode(bytes(payload))
                mono = samples.mean(axis=1)
                spec = np.abs(np.fft.rfft(mono))
                edges = np.linspace(0, len(spec), bands + 1).astype(int)
                e = np.array([spec[a:b].sum()
                              for a, b in zip(edges[:-1], edges[1:])])
                e = np.log1p(e)
                n = np.linalg.norm(e)
                embs.append((e / n if n > 0 else e)
                            .astype(np.float32).tolist())
            yield pd.DataFrame({"media_id": ids, "embedding": embs})

    return media.mapInPandas(run, schema=_EMB_SCHEMA)


def synthetic_jpeg_media(spark, n: int = 12) -> DataFrame:
    """Deterministic REAL-JPEG media table: gradient RGB images encoded
    by the in-repo baseline T.81 codec, cycling subsampling (4:4:4 /
    4:2:2 / 4:2:0) and restart intervals so all decoder paths are on
    the driver's oracle gate."""
    from clickhouse_clickhouse_spark.functions.jpeg import jpeg_encode

    subs = ["444", "422", "420"]
    rows = []
    for i in range(n):
        h, w = 9 + i % 4, 12 + i % 5
        img = _gradient_rgb(h, w)
        payload = jpeg_encode(img, quality=92, subsampling=subs[i % 3],
                              restart_interval=i % 3)
        rows.append((i, bytearray(payload), ("image/jpeg", w, h)))
    return local_frame(spark, rows, IMAGE_SCHEMA)


def _gradient_rgb(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([xx * 255 // max(w - 1, 1),
                     yy * 255 // max(h - 1, 1),
                     (xx + yy) * 255 // max(h + w - 2, 1)],
                    axis=-1).astype(np.uint8)


_JPEG_REPORT_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("format", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mae_ok", T.BooleanType(), True),
])


def jpeg_roundtrip_report(media: DataFrame) -> DataFrame:
    """Decode every JPEG payload with the in-repo codec, recompute the
    deterministic gradient the encoder saw, and report sniffed
    format/dims plus a lossy-accuracy invariant (mean abs error < 8/255;
    the steep tiny-image gradients push subsampled chroma to ~6, while
    a wrong decode would sit near 85) — the hash-matchable form of
    'the codec round-trips'."""
    import sys

    from pyspark import cloudpickle

    from clickhouse_clickhouse_spark.functions import jpeg as _jpeg
    from clickhouse_clickhouse_spark.functions import png as _png
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(_png)
    cloudpickle.register_pickle_by_value(_jpeg)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "format": [], "width": [],
                   "height": [], "mae_ok": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    # skip like every sibling kernel — bytes(None)
                    # aborted the whole stage on one NULL row
                    # (round-14 review)
                    continue
                data = bytes(payload)
                s = _png.sniff_media(data) or {}
                img = _jpeg.jpeg_decode(data)
                ref = _gradient_rgb(*img.shape[:2])
                mae = float(np.abs(img.astype(int)
                                   - ref.astype(int)).mean())
                out["media_id"].append(mid)
                out["format"].append(s.get("format"))
                out["width"].append(s.get("width"))
                out["height"].append(s.get("height"))
                out["mae_ok"].append(mae < 8.0)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=_JPEG_REPORT_SCHEMA)


def synthetic_mjpeg_media(spark, n: int = 4, frames: int = 6) -> DataFrame:
    """Deterministic Motion-JPEG videos: gradient frames (intensity
    shifted per sample index) baseline-JPEG-encoded and muxed into a
    minimal ISO-BMFF container (functions/mp4.build_mp4, fourcc
    'jpeg') — the repo's first fully decodable video fixture."""
    from clickhouse_clickhouse_spark.functions.jpeg import jpeg_encode
    from clickhouse_clickhouse_spark.functions.mp4 import build_mp4

    rows = []
    for i in range(n):
        h, w = 16 + 8 * (i % 2), 24 + 8 * (i % 3)
        payloads = [jpeg_encode(_mjpeg_frame(j, h, w), quality=90)
                    for j in range(frames)]
        rows.append((i, bytearray(build_mp4(payloads, codec="jpeg",
                                            width=w, height=h)),
                     ("video/mp4", w, h)))
    return local_frame(spark, rows, IMAGE_SCHEMA)


def _mjpeg_frame(j: int, h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([(xx * 8 + j * 10) % 256, (yy * 10) % 256,
                     (xx + yy + j * 5) % 256], axis=-1).astype(np.uint8)


_FRAME_PIXELS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("sample_idx", T.IntegerType(), False),
    T.StructField("codec", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_rgb", T.ArrayType(T.DoubleType()), True),
])


def decode_frames(media: DataFrame, every_n: int) -> DataFrame:
    """Frame sampling WITH pixel decode (round 10): demux the container
    (functions/mp4.py), take every ``every_n``-th sample, and — for
    Motion-JPEG tracks (fourcc jpeg/mjpa/mjpb/MJPG) — decode the sample
    to pixels with the in-repo baseline T.81 codec, emitting decoded
    dimensions and per-channel means. H.264/HEVC samples still raise
    per-row naming the gate (entropy decode needs codec libraries).
    One mapInPandas pass; nothing driver-side."""
    import sys

    from pyspark import cloudpickle
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    from clickhouse_clickhouse_spark.functions import jpeg as _jpeg
    from clickhouse_clickhouse_spark.functions import mp4 as _mp4
    cloudpickle.register_pickle_by_value(_mp4)
    cloudpickle.register_pickle_by_value(_jpeg)

    mjpeg = {"jpeg", "mjpa", "mjpb", "mjpg"}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                data = bytes(payload)
                parsed = _mp4.parse_mp4(data)
                vid = next((t for t in parsed["tracks"]
                            if t["handler"] == "vide"), None)
                if vid is None:
                    continue
                codec = (vid["codec"] or "").strip()
                offs, sizes = _mp4.sample_ranges(vid)
                for idx in range(0, len(sizes), every_n):
                    sample = data[int(offs[idx]):int(offs[idx])
                                  + int(sizes[idx])]
                    if codec.lower() not in mjpeg:
                        raise NotImplementedError(
                            f"frame decode for fourcc {codec!r} needs "
                            "codec libraries absent here — Motion-JPEG "
                            "(jpeg/mjpa/MJPG) decodes in-repo; use "
                            "frame_sample for encoded passthrough")
                    img = _jpeg.jpeg_decode(sample)
                    h, w = img.shape[:2]
                    if img.ndim == 2:
                        means = [float(img.mean())] * 3
                    else:
                        means = [float(img[..., c].mean())
                                 for c in range(3)]
                    rows.append((mid, idx, codec, w, h,
                                 [round(m, 2) for m in means]))
            cols = ["media_id", "sample_idx", "codec", "width",
                    "height", "mean_rgb"]
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(run, schema=_FRAME_PIXELS_SCHEMA)
