"""Multimodal-column plumbing: binary payloads with typed metadata.

Image/audio/video ride as opaque ``binary`` columns next to typed
metadata; decode / feature-extract run as Arrow-batch UDFs over
``mapInPandas``.

Two decode tiers:

* **container headers — REAL decode, pure stdlib**: WAV (RIFF chunk
  walk → sample rate / channels / bit depth / frame count / duration),
  PNG (signature + IHDR → width / height / bit depth) and JPEG
  (marker-segment walk to the first SOF frame header → width / height /
  precision / component count), emitted as typed ``decoded_*``
  columns.  Malformed or foreign payloads yield NULLs, never a stage
  crash.
* **pixel/waveform content** (PIL resize, librosa frames, video frame
  sampling): the codec libraries are NOT in this container, so the
  content-feature step stays a clearly-marked deterministic stub
  (``_decode_stub``) — the Spark-side plumbing (schema, batch shape,
  partitioning, UDF signature) is real and tested, and a real decoder
  drops in unchanged.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta_width", T.IntegerType()),
    T.StructField("meta_height", T.IntegerType()),
    T.StructField("meta_duration_ms", T.IntegerType()),
])

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("payload_bytes", T.IntegerType()),
    T.StructField("content_digest", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
    T.StructField("decoded_width", T.IntegerType()),
    T.StructField("decoded_height", T.IntegerType()),
    T.StructField("decoded_bit_depth", T.IntegerType()),
    T.StructField("decoded_sample_rate", T.IntegerType()),
    T.StructField("decoded_channels", T.IntegerType()),
    T.StructField("decoded_duration_ms", T.IntegerType()),
])

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_wav_header(payload: bytes) -> dict | None:
    """REAL (stdlib-only) WAV decode: walk the RIFF chunk list for
    ``fmt `` and ``data`` and return ``{sample_rate, channels,
    bit_depth, n_frames, duration_ms}``; None for anything that is not
    a well-formed PCM WAV (graceful — corpus media columns always
    contain strays)."""
    try:
        if len(payload) < 12 or payload[:4] != b"RIFF" \
                or payload[8:12] != b"WAVE":
            return None
        pos, fmt, data_size = 12, None, None
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body = payload[pos + 8:pos + 8 + size]
            if cid == b"fmt " and len(body) >= 16:
                fmt = struct.unpack_from("<HHIIHH", body, 0)
            elif cid == b"data":
                data_size = len(body)
            pos += 8 + size + (size & 1)     # chunks are word-aligned
        if fmt is None or data_size is None:
            return None
        _tag, channels, rate, _bps, block_align, bits = fmt
        if not channels or not rate or not block_align:
            return None
        n_frames = data_size // block_align
        return {"sample_rate": rate, "channels": channels,
                "bit_depth": bits, "n_frames": n_frames,
                "duration_ms": n_frames * 1000 // rate}
    except Exception:
        return None


def decode_png_header(payload: bytes) -> dict | None:
    """REAL (stdlib-only) PNG decode: signature + IHDR → ``{width,
    height, bit_depth}``; None for non-PNG bytes."""
    try:
        if len(payload) < 33 or payload[:8] != _PNG_SIG \
                or payload[12:16] != b"IHDR":
            return None
        width, height, depth = struct.unpack_from(">IIB", payload, 16)
        if not width or not height:
            return None
        return {"width": width, "height": height, "bit_depth": depth}
    except Exception:
        return None


def decode_jpeg_header(payload: bytes) -> dict | None:
    """REAL (stdlib-only) JPEG decode: walk the marker segments (ITU
    T.81 §B) to the first SOF0..SOF15 frame header and return
    ``{width, height, bit_depth, components}`` (bit_depth = sample
    precision); None for non-JPEG bytes or a stream whose entropy data
    starts before any frame header."""
    try:
        if len(payload) < 4 or payload[:2] != b"\xff\xd8":
            return None
        pos = 2
        while pos + 2 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker == 0xFF:                  # fill byte
                pos += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                pos += 2                        # standalone, no length
                continue
            if marker == 0xD9:                  # EOI before any SOF
                return None
            if pos + 4 > len(payload):
                return None
            (size,) = struct.unpack_from(">H", payload, pos + 2)
            if size < 2:
                return None
            # SOF0..SOF15 minus the non-frame C-class markers
            # DHT (C4) / JPG (C8) / DAC (CC)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8,
                                                         0xCC):
                precision, height, width, ncomp = struct.unpack_from(
                    ">BHHB", payload, pos + 4)
                if not width or not height:
                    return None
                return {"width": width, "height": height,
                        "bit_depth": precision, "components": ncomp}
            if marker == 0xDA:                  # SOS: SOF must precede
                return None
            pos += 2 + size
        return None
    except Exception:
        return None


def _decode_headers(payload: bytes) -> tuple:
    """(width, height, bit_depth, sample_rate, channels, duration_ms)
    from whichever container signature matches — the payload's MAGIC
    decides, not the ``kind`` tag (tags lie in scraped corpora).  JPEG
    reports its component count in the ``channels`` slot (the same
    physical meaning: interleaved sample streams)."""
    png = decode_png_header(payload)
    if png is not None:
        return (png["width"], png["height"], png["bit_depth"],
                None, None, None)
    jpg = decode_jpeg_header(payload)
    if jpg is not None:
        return (jpg["width"], jpg["height"], jpg["bit_depth"],
                None, jpg["components"], None)
    wav = decode_wav_header(payload)
    if wav is not None:
        return (None, None, wav["bit_depth"], wav["sample_rate"],
                wav["channels"], wav["duration_ms"])
    return (None, None, None, None, None, None)


def make_wav(sample_rate: int, channels: int, n_frames: int) -> bytes:
    """Deterministic minimal 16-bit PCM WAV writer (stdlib struct only)
    — the synth side of the decode round-trip tests/oracle."""
    block = channels * 2
    data = bytes(i % 251 for i in range(n_frames * block))
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block, block, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_png(width: int, height: int) -> bytes:
    """Deterministic minimal 8-bit grayscale PNG writer (stdlib struct +
    zlib): real IHDR/IDAT/IEND chunks with correct CRCs."""
    def chunk(cid: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes((x * 7) % 256 for x in range(width))
                   for _ in range(height))
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def make_jpeg(width: int, height: int, components: int = 3) -> bytes:
    """Deterministic minimal 8-bit JPEG header writer (stdlib struct only):
    SOI + JFIF APP0 + SOF0 frame header with per-component specs +
    EOI — the synth side of the decode round-trip tests/oracle (no
    entropy-coded scan; the header walk is what's under test)."""
    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
            + body

    app0 = (b"JFIF\x00" + bytes([1, 2, 0])
            + struct.pack(">HH", 72, 72) + b"\x00\x00")
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(components))
    sof0 = struct.pack(">BHHB", 8, height, width,
                       components) + comps
    return b"\xff\xd8" + seg(0xE0, app0) + seg(0xC0, sof0) + b"\xff\xd9"


def _decode_stub(payload: bytes, kind: str) -> list[float]:
    """STUB content-feature decoder: deterministic 8-dim feature from a
    content digest.

    Container HEADERS are genuinely decoded (:func:`decode_wav_header`
    / :func:`decode_png_header` feed the ``decoded_*`` columns); this
    stub stands in only for pixel/waveform CONTENT features (PIL
    resize / librosa frames / frame sampling), whose codec libraries
    are not in this container.  The function contract — bytes in,
    fixed-dim float feature out — is what the pipeline depends on; a
    real decoder drops in unchanged.
    """
    digest = hashlib.sha256(payload + kind.encode()).digest()
    return [b / 255.0 for b in digest[:8]]


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Binary columns are large: the input is hash-repartitioned by
    media_id so Arrow batches stay size-bounded regardless of upstream
    skew.  Rows per Arrow batch are governed by the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — lower it for
    multi-MB payloads.  Payloads never reach the driver.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            # NULL payloads (the schema permits them) yield NULL
            # features instead of crashing the whole stage on len(None)
            decoded = [
                _decode_headers(bytes(p)) if p is not None
                else (None,) * 6
                for p in batch["payload"]]
            out = {
                "media_id": batch["media_id"],
                "kind": batch["kind"],
                "payload_bytes": batch["payload"].map(
                    lambda b: len(b) if b is not None else None),
                "content_digest": batch["payload"].map(
                    lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    if b is not None else None),
                "feature": [
                    _decode_stub(bytes(p), k) if p is not None else None
                    for p, k in zip(batch["payload"], batch["kind"])],
                "decoded_width": [d[0] for d in decoded],
                "decoded_height": [d[1] for d in decoded],
                "decoded_bit_depth": [d[2] for d in decoded],
                "decoded_sample_rate": [d[3] for d in decoded],
                "decoded_channels": [d[4] for d in decoded],
                "decoded_duration_ms": [d[5] for d in decoded],
            }
            yield pd.DataFrame(out)

    return (media.repartition(F.xxhash64("media_id"))
            .mapInPandas(fn, schema=FEATURES_SCHEMA))


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests."""
    import random
    rng = random.Random(42)
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(64, 512)))
        rows.append((i, kind, payload,
                     640 if kind == "image" else None,
                     480 if kind == "image" else None,
                     1000 * rng.randint(1, 60) if kind != "image" else None))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
