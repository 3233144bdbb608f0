"""Multimodal column conventions + processing plumbing.

Design (per the build brief): image/audio/video payloads are opaque
``binary`` columns with a typed metadata struct alongside. The Spark
side — schema, partition sizing, Arrow batch shape, mapInPandas UDF
signatures — is real and tested. PNG and PCM WAV are decoded in
stdlib (png_decode_rgb, wav_decode_pcm16); compressed formats need
codec libraries (PIL/ffmpeg) that the engine does not depend on, so
for those only the container header is parsed (sniff_media_meta).

At 100 TB: binary payloads dominate row size, so all transforms here
are mapInPandas (streaming Arrow batches, constant memory) and
``maxRecordsPerBatch`` should be tuned down for multi-MB payloads;
metadata-only operations project the struct and never touch bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: canonical multimodal record schema
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), True),
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("duration_ms", LongType(), True),
                    StructField("n_bytes", LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


# ---------------------------------------------------------------------------
# Stdlib PNG codec: the ONE format this container can decode for real.
#
# Scope: 8-bit truecolor (color type 2), non-interlaced — exactly what
# synth_png_media generates. The decoder implements the full RFC 2083 /
# W3C filter set (None/Sub/Up/Average/Paeth), so the encode side can
# cycle through ALL five filters and the oracle hash only matches if
# every unfilter branch reconstructs its scanlines exactly.
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (W3C PNG spec §6.6): nearest of left/up/up-left
    to the linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_encode_rgb(pixels, filters=None) -> bytes:
    """Minimal 8-bit RGB PNG writer, pure stdlib (zlib + struct).

    ``pixels`` is an (h, w, 3) uint8 numpy array; ``filters`` picks the
    per-scanline filter type (0-4), default all-0. Scanlines are
    filtered, concatenated behind their filter byte, zlib-compressed
    into one IDAT. Used by synth_png_media so the a32 fixture payloads
    are REAL decodable PNGs, not header stubs."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = px.shape
    assert ch == 3, "png_encode_rgb writes color type 2 (RGB) only"
    bpp = 3
    raw = bytearray()
    prior = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int32)
        ftype = int(filters[y]) if filters is not None else 0
        raw.append(ftype)
        if ftype == 0:
            filt = line
        elif ftype == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            filt = line - left
        elif ftype == 2:  # Up
            filt = line - prior
        elif ftype == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            filt = line - (left + prior) // 2
        elif ftype == 4:  # Paeth
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int32), prior[:-bpp]])
            filt = line - np.array(
                [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prior, upleft)],
                dtype=np.int32,
            )
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        raw.extend((filt % 256).astype(np.uint8).tobytes())
        prior = line

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes(raw), 6)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


def png_decode_rgb(payload: bytes):
    """Stdlib PNG pixel decode (closes the former env-blocked stub for
    this one format): chunk walk with CRC verification, concatenated
    IDAT -> zlib.decompress, then per-scanline unfilter over all five
    W3C filter types. Returns (width, height, (h, w, 3) uint8 array).

    Only 8-bit truecolor non-interlaced PNGs are supported — anything
    else raises ValueError (palette/alpha/16-bit need no new
    dependencies, just code, and can be added when a fixture needs
    them)."""
    import struct
    import zlib

    import numpy as np

    if payload is None or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    i = 8
    w = h = None
    idat = bytearray()
    while i + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[i : i + 4])
        typ = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        (crc,) = struct.unpack(">I", payload[i + 8 + length : i + 12 + length])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "png_decode_rgb supports 8-bit truecolor non-interlaced only "
                    f"(got depth={depth} color={ctype} interlace={interlace})"
                )
        elif typ == b"IDAT":
            idat.extend(data)
        elif typ == b"IEND":
            break
        i += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    bpp = 3
    stride = w * bpp
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (1 + stride)]
        line = np.frombuffer(
            raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)], dtype=np.uint8
        ).astype(np.int32)
        if ftype == 0:
            recon = line
        elif ftype == 2:  # Up
            recon = (line + prior) % 256
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth: left-sequential
            recon = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                left = recon[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + prior[x]) // 2
                else:
                    upleft = prior[x - bpp] if x >= bpp else 0
                    pred = _paeth(int(left), int(prior[x]), int(upleft))
                recon[x] = (line[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = recon.astype(np.uint8)
        prior = recon
    return int(w), int(h), out.reshape(h, w, bpp)


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a multimodal table from the documents fixture: the text
    bytes stand in for an opaque payload. Exercises the real schema,
    binary column handling, and metadata struct without codec libs."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int")).alias("modality"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def sniff_media_meta(payload: bytes | None):
    """REAL container-header parsing — pure stdlib ``struct``, no
    codec libraries: returns (mime, width, height, duration_ms), all
    None when the payload matches no known magic. Full pixel decode
    of compressed formats needs codec libraries (PIL/ffmpeg), but
    dimensions/duration live in the container HEADER, and at 100 TB
    header-probing is the cheap first pass that routes/filters media
    before any expensive decode (drop sub-thumbnail images, cap durations) — reading ~64
    bytes per multi-MB payload.

    Formats: PNG (IHDR), GIF (logical screen descriptor), JPEG (SOF
    marker scan), WAV (RIFF fmt/data chunks -> exact duration).
    """
    import struct

    if not payload or len(payload) < 12:
        return (None, None, None, None)
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        w, h = struct.unpack(">II", payload[16:24])
        return ("image/png", w, h, None)
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return ("image/gif", w, h, None)
    if payload[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(payload) and payload[i] == 0xFF:
            marker = payload[i + 1]
            seglen = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            # SOF0..SOF15 minus DHT(C4)/JPG(C8)/DAC(CC) carry dimensions
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return ("image/jpeg", w, h, None)
            i += 2 + seglen
        return ("image/jpeg", None, None, None)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        byte_rate = None
        i = 12
        while i + 8 <= len(payload):
            chunk, size = payload[i : i + 4], struct.unpack("<I", payload[i + 4 : i + 8])[0]
            if chunk == b"fmt " and i + 20 <= len(payload):
                byte_rate = struct.unpack("<I", payload[i + 16 : i + 20])[0]
            elif chunk == b"data" and byte_rate:
                return ("audio/wav", None, None, int(size * 1000 // byte_rate))
            i += 8 + size + (size % 2)
        return ("audio/wav", None, None, None)
    return (None, None, None, None)


def probe_media(media: DataFrame) -> DataFrame:
    """Fill each row's meta struct from its payload's container header
    (sniff_media_meta) over Arrow batches: mime from magic bytes (more
    trustworthy than the ingest extension), dimensions/duration where
    the format carries them, n_bytes always. Same constant-memory
    mapInPandas shape as the other batch operators here; unknown payloads keep their
    ingest meta untouched except n_bytes."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # payloads are untrusted bytes: a single malformed header
            # must degrade to "unknown", not fail the whole stage
            sniffed = []
            for p in pdf["payload"]:
                try:
                    sniffed.append(sniff_media_meta(p))
                except Exception:
                    sniffed.append((None, None, None, None))
            metas = []
            for old, (mime, w, h, dur), p in zip(pdf["meta"], sniffed, pdf["payload"]):
                old = dict(old) if old is not None else {}
                metas.append(
                    {
                        "mime": mime or old.get("mime"),
                        "width": w if w is not None else old.get("width"),
                        "height": h if h is not None else old.get("height"),
                        "duration_ms": dur if dur is not None else old.get("duration_ms"),
                        "n_bytes": len(p) if p is not None else 0,
                    }
                )
            out = pdf.copy()
            out["meta"] = metas
            yield out

    return media.mapInPandas(process, MEDIA_SCHEMA)


def _be32(col):
    """4-byte big-endian binary of a non-negative int column (codegen:
    hex -> pad -> unhex)."""
    return F.unhex(F.lpad(F.hex(col), 8, "0"))


def _le32(col):
    """4-byte little-endian binary of a non-negative int column: the
    padded big-endian hex string with its byte pairs reversed."""
    h = F.lpad(F.hex(col), 8, "0")
    return F.unhex(
        F.concat(
            F.substring(h, 7, 2), F.substring(h, 5, 2), F.substring(h, 3, 2), F.substring(h, 1, 2)
        )
    )


def _le16(col):
    h = F.lpad(F.hex(col), 4, "0")
    return F.unhex(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)))


def synth_media_with_headers(docs: DataFrame) -> DataFrame:
    """Multimodal table whose payloads carry REAL container headers,
    built with deterministic Spark expressions from doc_id arithmetic:
    image rows get a minimal PNG (signature + IHDR with
    width = 16 + id%1024, height = 16 + id%768), audio rows a minimal
    WAV (RIFF/fmt/data with byte_rate = 8000 + id%32*1000 and
    data_size = 1000 + id%50000 -> exact duration), video rows keep
    opaque text bytes (no known magic — the unknown-payload fallback).

    The point: probe_media's Python struct parsing round-trips
    byte-for-byte against this generator, so a SQL oracle that knows
    only the ARITHMETIC (never the bytes) can hash-gate the whole
    Arrow-batched mapInPandas path — generator (codegen binary
    concat) -> header bytes -> stdlib parse -> fields == arithmetic.

    Requires non-negative doc_id: the int->binary packing goes
    through hex(), whose two's-complement form for negatives would
    widen the fields past their header slots.
    """
    d = F.col("doc_id")
    w = (F.lit(16) + d % 1024).cast("int")
    h = (F.lit(16) + d % 768).cast("int")
    byte_rate = (F.lit(8000) + (d % 32) * 1000).cast("int")
    data_size = (F.lit(1000) + d % 50000).cast("int")
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),  # PNG signature
        F.unhex(F.lit("0000000D")),          # IHDR length 13
        F.unhex(F.lit("49484452")),          # "IHDR"
        _be32(w),
        _be32(h),
    )
    wav = F.concat(
        F.unhex(F.lit("52494646")),          # "RIFF"
        _le32(F.lit(36) + data_size),        # riff size
        F.unhex(F.lit("57415645")),          # "WAVE"
        F.unhex(F.lit("666D7420")),          # "fmt "
        _le32(F.lit(16)),                    # fmt chunk size
        _le16(F.lit(1)),                     # PCM
        _le16(F.lit(1)),                     # mono
        _le32(byte_rate),                    # sample rate (== byte rate here)
        _le32(byte_rate),                    # byte rate (what the probe reads)
        _le16(F.lit(1)),                     # block align
        _le16(F.lit(8)),                     # bits per sample
        F.unhex(F.lit("64617461")),          # "data"
        _le32(data_size),                    # data size -> duration
    )
    opaque = F.encode(F.col("text"), "utf-8")
    payload = (
        F.when(d % 3 == 0, png).when(d % 3 == 1, wav).otherwise(opaque)
    )
    return docs.select(
        d.alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (d % 3 + 1).cast("int")
        ).alias("modality"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def synth_png_media(docs: DataFrame) -> DataFrame:
    """Multimodal image table whose payloads are FULL, decodable PNGs
    (png_encode_rgb), one per document with doc_id % 3 == 0 (the same
    rows synth_media_with_headers marks "image"). Pixels come from
    pure doc_id arithmetic so a SQL oracle that never sees a byte can
    replay the per-channel statistics:

        seed      = doc_id % 251
        width     = 4 + doc_id % 13      (4..16)
        height    = 4 + doc_id % 11      (4..14)
        v(x,y,c)  = (seed + 3*x + 5*y + 11*c) % 256

    The per-scanline filter type cycles (doc_id + y) % 5 — every
    image exercises ALL five W3C filters, so decode_image_stats only
    hash-matches the oracle if each unfilter branch is exact.

    mapInPandas (not a codegen expression) because zlib compression
    and CRC32 are Python-side; payload construction is the cheap part
    next to what a real pipeline does with the bytes."""
    import numpy as np

    imgs = docs.filter(F.col("doc_id") % 3 == 0).select(F.col("doc_id").alias("media_id"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                seed, w, h = mid % 251, 4 + mid % 13, 4 + mid % 11
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)
                c = np.arange(3, dtype=np.int64)
                px = (
                    (seed + 3 * x[None, :, None] + 5 * y[:, None, None] + 11 * c[None, None, :])
                    % 256
                ).astype(np.uint8)
                filters = [(mid + yy) % 5 for yy in range(h)]
                payloads.append(png_encode_rgb(px, filters))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": ["image"] * len(pdf),
                    "payload": payloads,
                    "meta": [
                        {
                            "mime": "image/png",
                            "width": 4 + int(m) % 13,
                            "height": 4 + int(m) % 11,
                            "duration_ms": None,
                            "n_bytes": len(p),
                        }
                        for m, p in zip(pdf["media_id"], payloads)
                    ],
                }
            )

    return imgs.mapInPandas(build, MEDIA_SCHEMA)


#: decode_image_stats output — all-integer so the oracle hash is exact
IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("channel", IntegerType(), False),
        StructField("n_px", LongType(), False),
        StructField("sum_v", LongType(), False),
        StructField("min_v", IntegerType(), False),
        StructField("max_v", IntegerType(), False),
    ]
)


def decode_image_stats(media: DataFrame) -> DataFrame:
    """REAL pixel-level decode over Arrow batches: each PNG payload is
    decoded with png_decode_rgb (stdlib zlib + unfilter) and reduced to
    per-channel integer statistics (pixel count, value sum, extrema) —
    the shape a data-quality pass over an image corpus computes (dark/
    blown-out detection, channel imbalance) without ever materializing
    pixels outside the executor batch.

    Constant memory: one image's pixel array lives only inside the
    loop; output is 3 rows per image. Non-PNG payloads are skipped (a
    mixed corpus routes by sniffed mime first — probe_media). At
    100 TB the only change is maxRecordsPerBatch tuning; the stats are
    integers, so downstream aggregation is exact and mergeable."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "channel", "n_px", "sum_v", "min_v", "max_v")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or bytes(payload[:8]) != b"\x89PNG\r\n\x1a\n":
                    continue
                w, h, px = png_decode_rgb(bytes(payload))
                flat = px.reshape(-1, 3).astype("int64")
                for ch in range(3):
                    col = flat[:, ch]
                    rows["media_id"].append(int(mid))
                    rows["channel"].append(ch)
                    rows["n_px"].append(w * h)
                    rows["sum_v"].append(int(col.sum()))
                    rows["min_v"].append(int(col.min()))
                    rows["max_v"].append(int(col.max()))
            yield pd.DataFrame(rows)

    return media.mapInPandas(process, IMAGE_STATS_SCHEMA)


def wav_encode_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Minimal PCM WAV writer, pure stdlib ``struct``: 16-bit signed
    little-endian mono samples behind a canonical RIFF/fmt/data header
    (the exact layout sniff_media_meta already parses). Used by
    synth_wav_media so the a33 fixture payloads are REAL decodable
    audio, not header stubs."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype=np.int16).tobytes()
    n = len(pcm)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + n)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", n)
    )
    return hdr + pcm


def wav_decode_pcm16(payload: bytes):
    """Stdlib PCM WAV decode (the audio analogue of png_decode_rgb):
    RIFF chunk walk, fmt validation (PCM, 16-bit — the one audio
    format that needs no codec library), data chunk to an int16
    sample array. Returns (sample_rate, numpy int16 array).

    Compressed audio (MP3/FLAC/AAC) genuinely needs external codecs
    (ffmpeg/soundfile) that the engine does not depend on."""
    import struct

    import numpy as np

    if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    rate = None
    bits = channels = fmt_code = None
    while i + 8 <= len(payload):
        chunk = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if chunk == b"fmt " and i + 8 + 16 <= len(payload):
            fmt_code, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", payload[i + 8 : i + 24]
            )
        elif chunk == b"data":
            if fmt_code != 1 or bits != 16 or channels != 1:
                raise ValueError(
                    "wav_decode_pcm16 supports 16-bit mono PCM only "
                    f"(got fmt={fmt_code} bits={bits} channels={channels})"
                )
            data = payload[i + 8 : i + 8 + size]
            if len(data) != size:
                raise ValueError("WAV data chunk truncated")
            return int(rate), np.frombuffer(data, dtype="<i2")
        i += 8 + size + (size % 2)
    raise ValueError("WAV missing data chunk")


def synth_wav_media(docs: DataFrame) -> DataFrame:
    """Audio twin of synth_png_media: each document with
    doc_id % 3 == 1 (the rows the media fixtures mark "audio") gets a
    FULL decodable PCM WAV whose samples come from pure doc_id
    arithmetic, so a byte-blind SQL oracle can replay the decoded
    statistics:

        seed        = doc_id % 1009
        n_samples   = 64 + doc_id % 937
        sample(i)   = ((seed + 13*i + 7*i*i) % 65536) - 32768
    """
    import numpy as np

    aud = docs.filter(F.col("doc_id") % 3 == 1).select(F.col("doc_id").alias("media_id"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                seed, n = mid % 1009, 64 + mid % 937
                i = np.arange(n, dtype=np.int64)
                s = ((seed + 13 * i + 7 * i * i) % 65536) - 32768
                payloads.append(wav_encode_pcm16(s.astype(np.int16)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": ["audio"] * len(pdf),
                    "payload": payloads,
                    "meta": [
                        {
                            "mime": "audio/wav",
                            "width": None,
                            "height": None,
                            "duration_ms": None,
                            "n_bytes": len(p),
                        }
                        for p in payloads
                    ],
                }
            )

    return aud.mapInPandas(build, MEDIA_SCHEMA)


#: decode_audio_stats output — all-integer (sum of squares included so
#: RMS-style energy checks stay exact)
AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sum_v", LongType(), False),
        StructField("sum_sq", LongType(), False),
        StructField("min_v", IntegerType(), False),
        StructField("max_v", IntegerType(), False),
    ]
)


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """REAL sample-level audio decode over Arrow batches: each PCM WAV
    payload is decoded with wav_decode_pcm16 and reduced to exact
    integer statistics (count, sum, sum of squares, extrema) — the
    loudness/clipping screen an audio-corpus quality pass runs before
    any expensive model pass. Non-RIFF payloads are skipped; same
    constant-memory mapInPandas shape as decode_image_stats."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "n_samples", "sum_v", "sum_sq", "min_v", "max_v")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or bytes(payload[:4]) != b"RIFF":
                    continue
                _rate, s = wav_decode_pcm16(bytes(payload))
                v = s.astype("int64")
                rows["media_id"].append(int(mid))
                rows["n_samples"].append(len(v))
                rows["sum_v"].append(int(v.sum()))
                rows["sum_sq"].append(int((v * v).sum()))
                rows["min_v"].append(int(v.min()))
                rows["max_v"].append(int(v.max()))
            yield pd.DataFrame(rows)

    return media.mapInPandas(process, AUDIO_STATS_SCHEMA)
