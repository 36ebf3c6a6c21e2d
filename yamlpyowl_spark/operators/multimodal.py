"""Multimodal columns: images/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side plumbing is real and tested: schemas, partitioning,
``mapInPandas`` batch shapes, explode of frame samples. The *codec*
step is minimal but honest: ``decode_audio`` parses real PCM WAV via
the stdlib ``wave`` module (r6), ``decode_image`` parses real PNG
(stdlib zlib + RFC 2083 unfiltering) and binary PPM (r6); both also
accept the deterministic synthetic payloads (md5-keystream bytes) and
raise loudly on anything else (JPEG/mp3/... need libraries not in
this container). Swapping in a richer codec changes ONE function;
every plan stays identical.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schema import arrow_local_df

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("data", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("channels", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            False,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mean_x100", T.LongType(), False),
        T.StructField("std_x100", T.LongType(), False),
        T.StructField("n_pixels", T.LongType(), False),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_data", T.BinaryType(), False),
    ]
)


def _keystream(seed: str, n: int) -> bytes:
    """Deterministic byte stream (stands in for decoded pixel data)."""
    out = bytearray()
    counter = 0
    while len(out) < n:
        out += hashlib.md5(f"{seed}:{counter}".encode()).digest()
        counter += 1
    return bytes(out[:n])


def synthesize_media(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (no external data)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            w, h, c = 8 + (i % 8), 8 + (i % 4), 3
            data = _keystream(f"{seed}:img:{i}", w * h * c)
            meta = (w, h, c, None, None, "fake-rgb8")
        elif kind == "audio":
            sr, secs = 8000, 1 + (i % 2)
            data = _keystream(f"{seed}:aud:{i}", sr * secs)
            meta = (None, None, 1, sr, None, "fake-pcm8")
        else:
            w, h, c, nf = 8, 8, 3, 4 + (i % 5)
            data = _keystream(f"{seed}:vid:{i}", w * h * c * nf)
            meta = (w, h, c, None, nf, "fake-rgb8-frames")
        meta_d = dict(
            zip(("width", "height", "channels", "sample_rate", "n_frames", "format"), meta)
        )
        rows.append((i, kind, bytes(data), meta_d))
    return arrow_local_df(spark, rows, MEDIA_SCHEMA)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_png(data: bytes) -> np.ndarray:
    """Real PNG decode via stdlib ``zlib`` + scanline unfiltering
    (RFC 2083 §6): 8-bit depth, color types 0 (gray), 2 (RGB), 4
    (gray+alpha), 6 (RGBA), non-interlaced. Palette/16-bit/interlaced
    images raise loudly."""
    import struct
    import zlib

    pos, width = len(_PNG_MAGIC), None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + CRC
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8 or interlace != 0 or color not in (0, 2, 4, 6):
                raise NotImplementedError(
                    f"PNG depth={depth} color_type={color} interlace={interlace} "
                    "not supported (8-bit gray/RGB/+alpha, non-interlaced only)"
                )
            nch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None:
        raise NotImplementedError("PNG payload missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * nch
    px = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int16)
        if ftype == 0:
            out = line
        elif ftype == 2:  # Up
            out = (line + prev) & 0xFF
        else:  # Sub/Average/Paeth carry left-pixel state: sequential
            out = np.empty(stride, dtype=np.int16)
            for i in range(stride):
                a = out[i - nch] if i >= nch else 0
                b = int(prev[i])
                if ftype == 1:
                    out[i] = (line[i] + a) & 0xFF
                elif ftype == 3:
                    out[i] = (line[i] + (a + b) // 2) & 0xFF
                elif ftype == 4:
                    c = int(px[y - 1, i - nch]) if (i >= nch and y > 0) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    out[i] = (line[i] + pred) & 0xFF
                else:
                    raise NotImplementedError(f"PNG filter type {ftype}")
        px[y] = out.astype(np.uint8)
        prev = px[y]
    return px.reshape(height, width, nch)


def _decode_ppm(data: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval 255): ASCII header then raw RGB bytes."""
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"PPM maxval {maxval} not supported (255 only)")
    return np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos).reshape(
        h, w, 3
    )


def decode_image(data: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """Image codec: real PNG (stdlib zlib + unfilter) and binary PPM
    (P6), plus the deterministic synthetic 'fake-rgb8' payload (raw
    uint8 pixels). Dispatch is by CONTENT, mirroring ``decode_audio``:
    container dimensions win over the metadata columns, and a mismatch
    raises loudly rather than silently reshaping. Compressed formats
    needing libraries not in this container (JPEG/WebP/...) raise
    ``NotImplementedError`` — a real deployment swaps this ONE function
    (e.g. ``np.asarray(PIL.Image.open(io.BytesIO(data)))``)."""
    if data[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        px = _decode_png(data)
    elif data[:2] == b"P6":
        px = _decode_ppm(data)
    else:
        arr = np.frombuffer(data, dtype=np.uint8)
        if arr.size != width * height * channels:
            raise NotImplementedError(
                "unrecognized image payload (not PNG/PPM/fake-rgb8): real "
                "compressed codecs are not available in this environment"
            )
        return arr.reshape(height, width, channels)
    if px.shape != (height, width, channels):
        raise ValueError(
            f"image container decodes to {px.shape}, metadata says "
            f"({height}, {width}, {channels}) — refusing to guess"
        )
    return px


def image_features(media: DataFrame) -> DataFrame:
    """Per-image mean/std (scaled ints) via one mapInPandas stage.

    Batch shape: the UDF receives Arrow batches of (media_id, data,
    meta) and returns one feature row per image — the canonical
    decode-then-reduce pattern; heavy pixel data never crosses back to
    the JVM."""
    src = media.filter(F.col("kind") == "image").select("media_id", "data", "meta.*")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, data, w, h, c in zip(
                pdf["media_id"], pdf["data"], pdf["width"], pdf["height"], pdf["channels"]
            ):
                px = decode_image(bytes(data), int(w), int(h), int(c)).astype(np.float64)
                out.append(
                    (
                        int(mid),
                        int(np.floor(px.mean() * 100)),
                        int(np.floor(px.std() * 100)),
                        int(px.size // int(c)),
                    )
                )
            yield pd.DataFrame(out, columns=["media_id", "mean_x100", "std_x100", "n_pixels"])

    return src.mapInPandas(batches, schema=IMAGE_FEATURES_SCHEMA)


def resize_images(media: DataFrame, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """Nearest-neighbor resize inside the UDF; returns a new media table
    with updated payloads + metadata (same schema → composable)."""
    src = media.filter(F.col("kind") == "image")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                m = r["meta"]
                px = decode_image(bytes(r["data"]), m["width"], m["height"], m["channels"])
                ys = (np.arange(out_h) * m["height"] // out_h).astype(int)
                xs = (np.arange(out_w) * m["width"] // out_w).astype(int)
                small = px[np.ix_(ys, xs)]
                rows.append(
                    (
                        int(r["media_id"]),
                        "image",
                        small.tobytes(),
                        {
                            "width": out_w,
                            "height": out_h,
                            "channels": int(m["channels"]),
                            "sample_rate": None,
                            "n_frames": None,
                            "format": "fake-rgb8",
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "data", "meta"])

    return src.mapInPandas(batches, schema=MEDIA_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_sec", T.LongType(), False),
        T.StructField("mean_x100", T.LongType(), False),
        T.StructField("rms_x100", T.LongType(), False),
    ]
)


def decode_audio(data: bytes, sample_rate: int, fmt: str | None = None) -> np.ndarray:
    """Audio codec: real PCM WAV via the stdlib ``wave`` module, plus
    the deterministic synthetic 'fake-pcm8' payload (raw uint8 PCM).

    Dispatch is by CONTENT AND TAG, not a byte-length heuristic (r5
    advice #4 — a real payload whose length happened to divide the
    sample rate used to decode as garbage): a RIFF/WAVE header parses
    as PCM WAV (8/16/32-bit; multi-channel averages to mono); payloads
    tagged ``fake-pcm8`` (or untagged with the synthetic whole-second
    shape, kept for compatibility) decode as raw uint8; anything else
    raises ``NotImplementedError`` naming the format — compressed
    codecs (mp3/ogg/flac) need libraries not in this container; a real
    deployment swaps this ONE function."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(data), "rb") as w:
            nch, sw = w.getnchannels(), w.getsampwidth()
            frames = w.readframes(w.getnframes())
        if sw == 1:
            arr = np.frombuffer(frames, dtype=np.uint8)
        elif sw == 2:
            arr = np.frombuffer(frames, dtype=np.int16)
        elif sw == 4:
            arr = np.frombuffer(frames, dtype=np.int32)
        else:
            raise NotImplementedError(
                f"unsupported WAV sample width: {sw * 8}-bit"
            )
        if nch > 1:
            arr = arr.reshape(-1, nch).mean(axis=1)
        return arr
    arr = np.frombuffer(data, dtype=np.uint8)
    synthetic_shape = bool(sample_rate) and arr.size % int(sample_rate) == 0
    if fmt == "fake-pcm8" or (fmt is None and synthetic_shape):
        if not synthetic_shape:
            raise ValueError(
                "fake-pcm8 payload is not a whole number of seconds "
                f"({arr.size} samples at {sample_rate} Hz)"
            )
        return arr
    raise NotImplementedError(
        "real audio codecs beyond PCM WAV are not available in this "
        f"environment; cannot decode format {fmt!r}"
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Per-clip sample count / duration / mean / RMS via one
    ``mapInPandas`` stage — the audio twin of :func:`image_features`
    (decode-then-reduce: PCM samples never cross back to the JVM)."""
    src = media.filter(F.col("kind") == "audio").select("media_id", "data", "meta.*")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, data, sr, fmt in zip(
                pdf["media_id"], pdf["data"], pdf["sample_rate"], pdf["format"]
            ):
                x = decode_audio(bytes(data), int(sr), fmt).astype(np.float64)
                out.append(
                    (
                        int(mid),
                        int(x.size),
                        int(x.size // int(sr)),
                        int(np.floor(x.mean() * 100)),
                        int(np.floor(np.sqrt(np.mean(x * x)) * 100)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_samples", "duration_sec", "mean_x100", "rms_x100"],
            )

    return src.mapInPandas(batches, schema=AUDIO_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video → one row per sampled frame (frame explode pattern)."""
    src = media.filter(F.col("kind") == "video").select("media_id", "data", "meta.*")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, data, w, h, c, nf in zip(
                pdf["media_id"], pdf["data"], pdf["width"], pdf["height"], pdf["channels"], pdf["n_frames"]
            ):
                frame_bytes = int(w) * int(h) * int(c)
                for fi in range(0, int(nf), every_n):
                    rows.append(
                        (int(mid), fi, bytes(data)[fi * frame_bytes : (fi + 1) * frame_bytes])
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_data"])

    return src.mapInPandas(batches, schema=FRAME_SCHEMA)
