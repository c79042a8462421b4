"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched pandas stages
(`mapInPandas`).

``decode_image`` is a REAL pure-stdlib PNG decoder (zlib inflate +
struct chunk walk + per-scanline unfilter incl. Paeth, r5): 8-bit
gray/RGB/palette/gray-alpha/RGBA, non-interlaced — the subset a
training pipeline's thumbnails overwhelmingly use. It exists to prove
the decode stage END TO END (``decode_image_stats`` runs it inside the
same Arrow-batched mapInPandas shape as every other stage); a
production deployment swaps in a C-backed decoder (PIL/libvips) behind
the identical signature for throughput, not correctness.
``fake_decode_stats`` (deterministic byte-level statistics) remains the
cross-engine ORACLE twin — DuckDB cannot decode PNG, so the hash-gated
query keeps using it.

Scale notes: binary payloads ride the Arrow stream in batches
(spark.sql.execution.arrow.maxRecordsPerBatch bounds executor memory);
metadata-only transformations should project the binary column AWAY
before any shuffle — a 100 TB media table shuffles its metadata, never
its bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .util import fan_out

DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("payload_md5", T.StringType(), True),
        T.StructField("mean_byte", T.DoubleType(), True),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (at bit depth 8: bytes per pixel)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_image(payload: bytes):
    """Decode a PNG payload with the stdlib only (``zlib`` + ``struct``)
    and return a ``numpy`` uint8 array of shape ``(height, width,
    channels)`` (palette images are expanded through PLTE to RGB).

    Supported: bit depth 8, color types 0/2/3/4/6, non-interlaced —
    the common training-thumbnail subset. Raises ``ValueError`` for
    non-PNG payloads or unsupported variants (callers treat that as a
    decode failure row, exactly like a corrupt file in a real crawl).

    This is the correctness-reference decoder that retires the r1-r4
    NotImplementedError stub; swap a C-backed library here for
    production throughput — the signature and the Arrow stage around it
    (``decode_image_stats``) do not change."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload is None or len(payload) < 8 or not bytes(payload[:8]) == _PNG_SIG:
        raise ValueError("decode_image: payload is not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = bytes(payload[pos + 4 : pos + 8])
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # data + 4-byte CRC (CRCs not verified)
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = bytes(data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("decode_image: missing IHDR or IDAT chunk")
    width, height, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
        raise ValueError(
            f"decode_image: unsupported PNG variant (depth={depth}, "
            f"color_type={color}, interlace={interlace}); supported: "
            "8-bit gray/RGB/palette/gray-alpha/RGBA, non-interlaced"
        )
    bpp = _PNG_CHANNELS[color]
    stride = width * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("decode_image: IDAT length does not match dimensions")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters = raw[:, 0]
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        f = int(filters[y])
        cur = raw[y, 1:].astype(np.int32)
        if f == 0:  # None
            line = cur
        elif f == 1:  # Sub — sequential in x, loop over pixels
            line = cur.copy()
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif f == 2:  # Up — vectorized
            line = (cur + prev) & 0xFF
        elif f == 3:  # Average
            line = cur.copy()
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            line = cur.copy()
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                line[x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"decode_image: unknown PNG filter type {f}")
        out[y] = line.astype(np.uint8)
        prev = line
    px = out.reshape(height, width, bpp)
    if color == 3:  # palette -> RGB
        if plte is None:
            raise ValueError("decode_image: palette image without PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        px = pal[px[:, :, 0]]
    return px


def encode_png(px, color_type: int, filters=None, palette: bytes | None = None) -> bytes:
    """Minimal stdlib PNG *encoder* (8-bit, non-interlaced): the inverse
    of ``decode_image``, used by the media sink side of the pipeline
    (write processed thumbnails back out) and to synthesize
    deterministic test payloads. ``px`` is a numpy uint8 array
    ``(h, w, channels)``; ``filters`` selects the per-scanline filter
    type (default all-0) — rows are forward-filtered so every decoder
    unfilter branch can be exercised round-trip."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    h, w, ch = px.shape
    bpp = ch
    filters = filters if filters is not None else [0] * h
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int32)
        f = filters[y]
        raw.append(f)
        if f == 0:
            enc = line
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), line[:-bpp]])
            enc = (line - left) & 0xFF
        elif f == 2:  # Up
            enc = (line - prev) & 0xFF
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), line[:-bpp]])
            enc = (line - ((left + prev) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), line[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            enc = (line - pred) & 0xFF
        else:
            raise ValueError(f"encode_png: unknown filter type {f}")
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))

    out = _PNG_SIG
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
    if palette is not None:
        out += chunk(b"PLTE", palette)
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


DECODED_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("mean_pixel_milli", T.LongType(), True),
    ]
)


def _decode_stage(media: DataFrame, stats_of, schema: T.StructType) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` pass over ``(media_id,
    payload)``: ``stats_of(payload)`` returns the values of ``schema``'s
    columns after ``media_id, decode_ok``; a payload it raises on
    becomes a ``decode_ok = false`` row with NULL stats."""
    stats = schema.fields[2:]
    dtypes = ["Int32" if f.dataType == T.IntegerType() else "Int64" for f in stats]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            oks, cols = [], [[] for _ in stats]
            for b in pdf["payload"]:
                try:
                    vals, ok = stats_of(b), True
                except Exception:  # noqa: BLE001 - ValueError from the
                    # decoder plus zlib.error / struct.error from
                    # truncated payloads: all are "this row didn't decode"
                    vals, ok = [None] * len(stats), False
                oks.append(ok)
                for col, v in zip(cols, vals):
                    col.append(v)
            yield pd.DataFrame(
                {
                    "media_id": list(pdf["media_id"]),
                    "decode_ok": oks,
                    **{
                        f.name: pd.array(col, dtype=d)
                        for f, col, d in zip(stats, cols, dtypes)
                    },
                }
            )

    return fan_out(media.select("media_id", "payload")).mapInPandas(batches, schema)


def decode_image_stats(media: DataFrame) -> DataFrame:
    """The REAL decode stage: run ``decode_image`` over every payload in
    the same Arrow-batched ``mapInPandas`` shape as ``fake_decode_stats``
    and emit per-image pixel statistics (mean pixel value in integer
    milli-units — deterministic across runs/partitionings). Payloads
    that fail to decode (non-PNG, unsupported variant, corrupt) become
    ``decode_ok = false`` rows with NULL stats — a crawl pipeline drops
    or quarantines them downstream instead of dying mid-job."""
    import numpy as np  # noqa: PLC0415

    def stats(payload):
        px = decode_image(payload)
        h, w, c = px.shape
        return w, h, c, int(round(float(np.mean(px.astype(np.float64))) * 1000.0))

    return _decode_stage(media, stats, DECODED_STATS_SCHEMA)


def fake_decode_stats(media: DataFrame) -> DataFrame:
    """Deterministic stand-in decoder: byte stats per payload, computed
    in Arrow-batched pandas (the exact shape a real decode stage has)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else None),
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                    ),
                    "mean_byte": payloads.map(
                        lambda b: float(sum(b)) / len(b) if b else None
                    ),
                }
            )

    return fan_out(media.select("media_id", "payload")).mapInPandas(
        batches, DECODE_STATS_SCHEMA
    )


def decode_audio(payload: bytes):
    """Decode a RIFF/WAVE PCM payload with the stdlib only (``struct``
    chunk walk) and return ``(samples, sample_rate)`` where ``samples``
    is a numpy int32 array of shape ``(n_frames, channels)``.

    Supported: uncompressed PCM (format tag 1), 8-bit unsigned or
    16-bit signed, any channel count / sample rate — the raw-audio
    subset a training pipeline's speech clips use. Unknown chunks
    (LIST, fact, ...) are skipped per the RIFF contract. Raises
    ``ValueError`` on anything else; callers treat that as a decode
    failure row. Like ``decode_image``, this is the
    correctness-reference decoder — production swaps in a C-backed
    library behind the same signature."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload is None or len(payload) < 12 or bytes(payload[:4]) != b"RIFF" or bytes(payload[8:12]) != b"WAVE":
        raise ValueError("decode_audio: payload is not a RIFF/WAVE file")
    pos = 12
    fmt = None
    data = None
    n = len(payload)
    while pos + 8 <= n:
        ctype = bytes(payload[pos : pos + 4])
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if ctype == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif ctype == b"data":
            data = bytes(body)
    if fmt is None or data is None:
        raise ValueError("decode_audio: missing fmt or data chunk")
    audio_fmt, channels, sample_rate, _byte_rate, block_align, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16) or channels < 1:
        raise ValueError(
            f"decode_audio: unsupported WAVE variant (format={audio_fmt}, "
            f"bits={bits}, channels={channels}); supported: PCM 8/16-bit"
        )
    width = bits // 8
    if block_align != channels * width:
        raise ValueError("decode_audio: block_align does not match fmt")
    usable = (len(data) // block_align) * block_align
    raw = np.frombuffer(data[:usable], dtype=np.uint8 if width == 1 else np.dtype("<i2"))
    if width == 1:
        samples = raw.astype(np.int32) - 128  # 8-bit WAV is unsigned, center it
    else:
        samples = raw.astype(np.int32)
    return samples.reshape(-1, channels), int(sample_rate)


def encode_wav(samples, sample_rate: int) -> bytes:
    """Minimal stdlib 16-bit PCM WAV *encoder*: the inverse of
    ``decode_audio``. ``samples`` is a numpy int array ``(n_frames,
    channels)`` in the signed 16-bit range."""
    import struct  # noqa: PLC0415

    _frames, channels = samples.shape
    body = samples.astype("<i2").tobytes()
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    out = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body)) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        out += b"\x00"
    return out


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("n_audio_channels", T.IntegerType(), True),
        T.StructField("mean_abs_milli", T.LongType(), True),
    ]
)


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """The real AUDIO decode stage (twin of ``decode_image_stats``):
    ``decode_audio`` over every payload in an Arrow-batched
    ``mapInPandas``, emitting per-clip stats (mean absolute amplitude in
    integer milli-units). Undecodable payloads become
    ``decode_ok = false`` rows."""
    import numpy as np  # noqa: PLC0415

    def stats(payload):
        samples, sr = decode_audio(payload)
        n, c = samples.shape
        mean = (
            int(round(float(np.mean(np.abs(samples.astype(np.float64)))) * 1000.0))
            if samples.size
            else 0
        )
        return sr, n, c, mean

    return _decode_stage(media, stats, AUDIO_STATS_SCHEMA)
