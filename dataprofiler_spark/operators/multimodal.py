"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata. The Spark-side
plumbing — schema contract, Arrow batch shape, ``mapInPandas`` UDF
signature, partition sizing — is real and tested, and so is the default
feature extractor: :func:`parse_media_header` reads format + dimensions
straight from PNG/GIF/BMP/JPEG container headers in pure Python (no
codec library needed — dimension metadata lives in the first bytes).
Full pixel/audio decode (PIL/librosa/ffmpeg) is not part of the
package. Swapping in a real pixel decoder changes no Spark code: same
iterator-of-DataFrames contract.

Scale notes: media rows are large, so ``spark.sql.files.maxPartitionBytes``
and ``maxRecordsPerBatch`` bound executor memory per Arrow batch;
feature-extraction output is tiny relative to input, so the UDF projects
early and never returns raw bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "id long, byte_len long, format string, width int, height int, checksum string"
)

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_media_header(payload: bytes) -> tuple[str, int | None, int | None]:
    """(format, width, height) from container header bytes — REAL parsing,
    no codec library: every major image container stores dimensions in
    its first bytes (PNG IHDR, GIF logical screen descriptor, BMP
    BITMAPINFOHEADER, JPEG SOFn marker)."""
    try:
        if payload[:8] == PNG_SIG and payload[12:16] == b"IHDR":
            return ("png", int.from_bytes(payload[16:20], "big"),
                    int.from_bytes(payload[20:24], "big"))
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return ("gif", int.from_bytes(payload[6:8], "little"),
                    int.from_bytes(payload[8:10], "little"))
        if payload[:2] == b"BM" and len(payload) >= 26:
            # BITMAPINFOHEADER dimensions are SIGNED; negative height is
            # a top-down DIB (common) — the image is abs(height) tall
            return ("bmp",
                    abs(int.from_bytes(payload[18:22], "little",
                                       signed=True)),
                    abs(int.from_bytes(payload[22:26], "little",
                                       signed=True)))
        if payload[:2] == b"\xff\xd8":
            pos = 2
            while pos + 1 < len(payload):
                if payload[pos] != 0xFF:
                    break  # desynced: not at a marker
                # 0xFF fill bytes may pad between segments
                while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
                    pos += 1
                marker = payload[pos + 1]
                # standalone markers carry no length field: TEM (0x01),
                # RST0-7 (0xD0-D7), SOI (0xD8), EOI (0xD9)
                if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                    pos += 2
                    continue
                if pos + 9 >= len(payload):
                    break
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    return ("jpeg",
                            int.from_bytes(payload[pos + 7:pos + 9], "big"),
                            int.from_bytes(payload[pos + 5:pos + 7], "big"))
                pos += 2 + int.from_bytes(payload[pos + 2:pos + 4], "big")
            return ("jpeg", None, None)
    except (IndexError, ValueError):  # truncated/corrupt header
        pass
    return ("unknown", None, None)


AV_SCHEMA = ("id long, byte_len long, format string, channels int, "
             "sample_rate int, bits_per_sample int, duration_ms long, "
             "checksum string")


def parse_av_header(payload: bytes) -> dict:
    """Audio/video container metadata from header bytes — REAL parsing,
    no codec library: WAV (RIFF fmt/data chunk walk), FLAC (STREAMINFO
    bitfields), MP4 (box walk to moov/mvhd). Returns format, channels,
    sample_rate, bits_per_sample, duration_ms (None where the container
    doesn't carry the field)."""
    out = {"format": "unknown", "channels": None, "sample_rate": None,
           "bits_per_sample": None, "duration_ms": None}
    try:
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            out["format"] = "wav"
            pos, byte_rate, data_size = 12, None, None
            while pos + 8 <= len(payload):
                cid = payload[pos:pos + 4]
                csz = int.from_bytes(payload[pos + 4:pos + 8], "little")
                if cid == b"fmt " and pos + 24 <= len(payload):
                    b = payload[pos + 8:pos + 8 + 16]
                    out["channels"] = int.from_bytes(b[2:4], "little")
                    out["sample_rate"] = int.from_bytes(b[4:8], "little")
                    byte_rate = int.from_bytes(b[8:12], "little")
                    out["bits_per_sample"] = int.from_bytes(b[14:16],
                                                            "little")
                elif cid == b"data":
                    data_size = csz
                # chunks are word-aligned: odd sizes carry a pad byte
                pos += 8 + csz + (csz & 1)
            if byte_rate and data_size is not None:
                out["duration_ms"] = (data_size * 1000) // byte_rate
            return out
        if payload[:4] == b"fLaC" and len(payload) >= 4 + 4 + 34:
            out["format"] = "flac"
            # first metadata block must be STREAMINFO (34 bytes)
            b = payload[8:42]
            out["sample_rate"] = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
            out["channels"] = ((b[12] >> 1) & 0x7) + 1
            out["bits_per_sample"] = (((b[12] & 1) << 4) | (b[13] >> 4)) + 1
            total = ((b[13] & 0x0F) << 32) | int.from_bytes(b[14:18], "big")
            if out["sample_rate"]:
                out["duration_ms"] = (total * 1000) // out["sample_rate"]
            return out
        if len(payload) >= 12 and payload[4:8] == b"ftyp":
            out["format"] = "mp4"

            def find_box(buf, start, end, name):
                pos = start
                while pos + 8 <= end:
                    size = int.from_bytes(buf[pos:pos + 4], "big")
                    if size < 8:
                        return None
                    if buf[pos + 4:pos + 8] == name:
                        return pos
                    pos += size
                return None

            moov = find_box(payload, 0, len(payload), b"moov")
            if moov is not None:
                mend = moov + int.from_bytes(payload[moov:moov + 4], "big")
                mvhd = find_box(payload, moov + 8, min(mend, len(payload)),
                                b"mvhd")
                if mvhd is not None:
                    ver = payload[mvhd + 8]
                    if ver == 1:
                        ts = int.from_bytes(payload[mvhd + 28:mvhd + 32],
                                            "big")
                        dur = int.from_bytes(payload[mvhd + 32:mvhd + 40],
                                             "big")
                    else:
                        ts = int.from_bytes(payload[mvhd + 20:mvhd + 24],
                                            "big")
                        dur = int.from_bytes(payload[mvhd + 24:mvhd + 28],
                                             "big")
                    if ts:
                        out["duration_ms"] = (dur * 1000) // ts
            return out
    except (IndexError, ValueError):  # truncated/corrupt header
        pass
    return out


def decode_av_features(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """mapInPandas audio/video metadata extraction over a binary column
    (same Arrow-batched contract as decode_media_features)."""
    import hashlib

    id_name, bin_name = id_col, bin_col

    _null = {"format": None, "channels": None, "sample_rate": None,
             "bits_per_sample": None, "duration_ms": None}

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL media cell -> NULL features (a real corpus has NULL
            # binary cells; aggregates then skip them like any NULL)
            feats = [_null if p is None else parse_av_header(p)
                     for p in pdf[bin_name]]
            yield pd.DataFrame({
                "id": pdf[id_name].astype("int64"),
                "byte_len": pd.array(
                    [None if p is None else len(p)
                     for p in pdf[bin_name]], dtype="Int64"),
                "format": [f["format"] for f in feats],
                "channels": pd.array([f["channels"] for f in feats],
                                     dtype="Int32"),
                "sample_rate": pd.array([f["sample_rate"] for f in feats],
                                        dtype="Int32"),
                "bits_per_sample": pd.array(
                    [f["bits_per_sample"] for f in feats], dtype="Int32"),
                "duration_ms": pd.array([f["duration_ms"] for f in feats],
                                        dtype="Int64"),
                "checksum": [None if p is None
                             else hashlib.md5(p).hexdigest()
                             for p in pdf[bin_name]],
            })

    return df.select(id_col, bin_col).mapInPandas(extract, schema=AV_SCHEMA)


def av_profile(features: DataFrame) -> DataFrame:
    """Aggregate audio/video profile — wide-agg like media_profile."""
    return features.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("byte_len").alias("total_bytes"),
        F.count_distinct("format").alias("n_formats"),
        F.round(F.avg("sample_rate"), 6).alias("avg_sample_rate"),
        F.max("sample_rate").cast("long").alias("max_sample_rate"),
        F.round(F.avg("channels"), 6).alias("avg_channels"),
        F.sum("duration_ms").alias("total_duration_ms"),
        F.max("duration_ms").alias("max_duration_ms"),
    )


def _le_bytes(c, width_hex: int):
    """Little-endian byte string of a column value (expression-only)."""
    hx = F.lpad(F.hex(c.cast("long")), width_hex, "0")
    pairs = [F.substring(hx, i, 2)
             for i in range(width_hex - 1, 0, -2)]
    return F.unhex(F.concat(*pairs))


def documents_as_wav_media(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Testdata adapter: synthesize a VALID 44-byte PCM WAV header ahead
    of the text payload (the 'data' chunk), expression-only. Audio
    parameters derive deterministically from (id, text length) so an
    independent SQL oracle can recompute the profile:
    channels = id % 2 + 1, sample_rate = 8000 + (len % 8) * 1000,
    bits = 16, data_size = octet_length(text)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    channels = (F.col(id_col) % 2 + 1).cast("long")
    rate = (F.length(c) % 8 * 1000 + 8000).cast("long")
    bits = F.lit(16).cast("long")
    data_size = F.octet_length(F.encode(c, "UTF-8")).cast("long")
    byte_rate = rate * channels * 2
    block_align = channels * 2
    payload = F.concat(
        F.encode(F.lit("RIFF"), "UTF-8"), _le_bytes(data_size + 36, 8),
        F.encode(F.lit("WAVEfmt "), "UTF-8"),
        _le_bytes(F.lit(16), 8),            # fmt chunk size
        _le_bytes(F.lit(1), 4),             # PCM
        _le_bytes(channels, 4),
        _le_bytes(rate, 8),
        _le_bytes(byte_rate, 8),
        _le_bytes(block_align, 4),
        _le_bytes(bits, 4),
        F.encode(F.lit("data"), "UTF-8"), _le_bytes(data_size, 8),
        F.encode(c, "UTF-8"),
    )
    return df.select(F.col(id_col).alias("id"), payload.alias("payload"))


def _header_decode(payload: bytes) -> dict:
    import hashlib

    fmt, w, h = parse_media_header(payload)
    return {"byte_len": len(payload), "format": fmt, "width": w,
            "height": h, "checksum": hashlib.md5(payload).hexdigest()}


def decode_media_features(df: DataFrame, id_col: str,
                          bin_col: str) -> DataFrame:
    """mapInPandas feature extraction over a binary column: parses the
    real container headers (:func:`parse_media_header`).
    Arrow-batched: each pandas DataFrame chunk holds ``maxRecordsPerBatch``
    rows; the UDF is a generator so memory stays bounded per batch.
    """
    id_name, bin_name = id_col, bin_col

    _null = {"byte_len": None, "format": None, "width": None,
             "height": None, "checksum": None}

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL media cell -> NULL features (aggregates skip them,
            # n_media still counts the row — mirrors SQL NULL algebra)
            feats = pdf[bin_name].map(
                lambda p: _null if p is None else _header_decode(p))
            out = pd.DataFrame({
                "id": pdf[id_name].astype("int64"),
                "byte_len": pd.array([f["byte_len"] for f in feats],
                                     dtype="Int64"),
                "format": [f["format"] for f in feats],
                "width": pd.array([f["width"] for f in feats],
                                  dtype="Int32"),
                "height": pd.array([f["height"] for f in feats],
                                   dtype="Int32"),
                "checksum": [f["checksum"] for f in feats],
            })
            yield out

    return df.select(id_col, bin_col).mapInPandas(extract, schema=MEDIA_SCHEMA)


def media_profile(features: DataFrame) -> DataFrame:
    """Aggregate profile of decoded media features — the same wide-agg
    pattern as every other profile operator."""
    return features.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("byte_len").alias("total_bytes"),
        F.min("byte_len").alias("min_bytes"),
        F.max("byte_len").alias("max_bytes"),
        F.count_distinct("checksum").alias("distinct_payloads"),
        F.count_distinct("format").alias("n_formats"),
        F.round(F.avg("width"), 6).alias("avg_width"),
        F.max("width").cast("long").alias("max_width"),
        F.round(F.avg("height"), 6).alias("avg_height"),
        F.max("height").cast("long").alias("max_height"),
    )


def documents_as_media(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Testdata adapter: materialize a binary column from text (the
    testdata ships no real media; the binary path must still be exercised
    end-to-end)."""
    return df.select(
        F.col(id_col).alias("id"), F.encode(F.col(text_col), "UTF-8").alias("payload")
    )


def documents_as_png_media(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Testdata adapter that synthesizes a VALID PNG header (signature +
    full 13-byte IHDR + CRC placeholder) ahead of the text payload —
    expression-only (concat of binary columns), with dimensions derived
    from (text length, id) so an independent oracle can recompute the
    dimension statistics the real header parser extracts."""
    def be4(c):
        return F.unhex(F.lpad(F.hex(c.cast("long")), 8, "0"))

    w = F.length(F.col(text_col)) % 512 + 16
    h = F.col(id_col) % 512 + 16
    payload = F.concat(
        F.lit(PNG_SIG),
        F.unhex(F.lit("0000000D")),            # IHDR chunk length (13)
        F.encode(F.lit("IHDR"), "UTF-8"),
        be4(w), be4(h),
        F.unhex(F.lit("0806000000")),          # bit depth/color/etc
        F.unhex(F.lit("00000000")),            # CRC placeholder
        F.encode(F.col(text_col), "UTF-8"),
    )
    return df.select(F.col(id_col).alias("id"), payload.alias("payload"))
