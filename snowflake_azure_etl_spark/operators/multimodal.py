"""Multimodal column handling (north-star extension).

Images, audio and video are opaque `binary` columns. Each modality has
ONE per-payload body, a plain-Python function from (doc_id, payload)
to rows in q60's 11-column `PIPELINE_SCHEMA` shape:

- `_image_rows`: binary PPM (P6) or 24-bit BMP decode, aspect-
  preserving nearest-neighbor resize to `MAX_DIM`, `N_FRAMES` row
  frames;
- `_audio_rows`: RIFF/WAV PCM16 decode, integer decimation towards
  `TARGET_RATE`, `AUDIO_FRAMES` windows of `FRAME_LEN` samples;
- `_video_rows`: YUV4MPEG2 decode, every-`EVERY_K` temporal frame
  sampling.

Every codec is pure Python over the uncompressed classic formats, so
no media library is needed. Compressed formats (JPEG/PNG, MP3/AAC,
MP4/H.264) need codec libraries the engine does not ship and raise
ValueError; swapping a body's parser for a PIL/ffmpeg call changes
nothing in the Spark plan.

The Spark side is one pass: `fused_media_table` builds all three
payloads from each document in one codegen'd projection, and
`fused_modalities_pipeline` ships them through ONE Arrow-batched
Python map that calls the three bodies per document. Each such map
costs one JVM↔Arrow↔Python round-trip whatever it does (an identity
leg measured ~0.4-0.5 s at sf0.1, as much as a real one), so one pass
over the shared input replaces one scan and one worker pass per
modality. Batch size is spark.sql.execution.arrow.maxRecordsPerBatch;
blobs never reach the driver.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Longest side of a resized image; the image rows' resize geometry.
MAX_DIM = 64
#: Row frames sampled per image.
N_FRAMES = 4
#: Audio decimates by k = rate div TARGET_RATE (at least 1).
TARGET_RATE = 4000
#: Samples per audio frame window, and windows per clip.
FRAME_LEN = 256
AUDIO_FRAMES = 2
#: Every EVERY_K-th video frame is kept.
EVERY_K = 2

PIPELINE_SCHEMA = ("doc_id long, media_type string, byte_len int, "
                   "feature_sig string, width int, height int, "
                   "out_width int, out_height int, resized_sig string, "
                   "frame_idx int, frame_sig string")
_COLUMNS = [f.split()[0] for f in PIPELINE_SCHEMA.split(", ")]


def _sig(data: bytes) -> str:
    """8-hex-char fingerprint: the md5 prefix every signature column
    carries (and the q60 oracle mirrors)."""
    return hashlib.md5(data).hexdigest()[:8]


# ---------------------------------------------------------------------------
# Image: binary PPM (P6) and uncompressed 24-bit BMP.

def _parse_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Binary PPM (P6) header parse: magic, then width/height/maxval as
    whitespace-separated ASCII ints with '#' comments allowed, then one
    whitespace byte, then w·h·3 pixel bytes."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    i, fields = 2, []
    while len(fields) < 3:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":
            nl = payload.find(b"\n", i)
            if nl < 0:
                raise ValueError("unterminated PPM comment")
            i = nl + 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[i:j]))
        i = j
    i += 1  # exactly one whitespace byte after maxval
    w, h, maxval = fields
    if not (0 < maxval < 256):
        raise ValueError("only 8-bit PPM supported")
    pixels = payload[i:i + w * h * 3]
    if len(pixels) < w * h * 3:
        raise ValueError("truncated PPM pixel data")
    return w, h, pixels


def _parse_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Uncompressed 24-bit BMP → (w, h, pixels) with the pixels
    NORMALIZED to the PPM convention — top-down rows, RGB channel
    order, no row padding — so the same image re-encoded as PPM or BMP
    fingerprints identically.

    Standards handling: bpp at offset 28 must be 24 (16/32-bpp layouts
    would silently mis-slice), each stored row is padded to a 4-byte
    stride (((w·3+3)//4)·4) and sliced back to w·3, positive height
    means bottom-up row order (flipped here; negative height is
    already top-down), and BMP's BGR channels are swapped to RGB."""
    if not payload.startswith(b"BM") or len(payload) < 54:
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    bpp = struct.unpack_from("<H", payload, 28)[0]
    if bpp != 24:
        raise ValueError(f"only 24-bit BMP supported (got {bpp} bpp)")
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:
        raise ValueError("compressed BMP not supported")
    w = struct.unpack_from("<i", payload, 18)[0]
    h_raw = struct.unpack_from("<i", payload, 22)[0]
    h = abs(h_raw)
    if w <= 0 or h == 0:
        raise ValueError("degenerate BMP dimensions")
    stride = ((w * 3 + 3) // 4) * 4
    if data_off + stride * h > len(payload):
        raise ValueError("truncated BMP payload")
    rows = [payload[data_off + y * stride:data_off + y * stride + w * 3]
            for y in range(h)]
    if h_raw > 0:                       # bottom-up storage → top-down
        rows.reverse()
    bgr = b"".join(rows)
    rgb = bytearray(len(bgr))           # vectorized BGR → RGB swap
    rgb[0::3] = bgr[2::3]
    rgb[1::3] = bgr[1::3]
    rgb[2::3] = bgr[0::3]
    return w, h, bytes(rgb)


def _resize_nn(pixels: bytes, w: int, h: int, ow: int, oh: int) -> bytes:
    """Nearest-neighbor RGB resample. Vectorized with numpy fancy
    indexing (source row = oy·h//oh, source col = ox·w//ow — the same
    truncating-division grid as the scalar definition, which the test
    suite checks against an independent Python loop); the per-item
    cost is what lets the resample run inside q60's Arrow batches at
    bench scale."""
    arr = np.frombuffer(pixels, dtype=np.uint8)[:w * h * 3]
    arr = arr.reshape(h, w, 3)
    rows = (np.arange(oh) * h) // oh
    cols = (np.arange(ow) * w) // ow
    return arr[rows][:, cols].tobytes()


def _image_rows(doc_id: int, payload: bytes) -> list[tuple]:
    """decode → resize → row frames for one PPM/BMP payload.

    feature_sig fingerprints the decoded pixels (not the container),
    so re-encodings of one image agree; the resize keeps the aspect
    ratio with its longest side at `MAX_DIM` (truncating division, as
    the oracle computes it) and resized_sig fingerprints the resampled
    pixels; one row per frame, frame i being pixel row i·h div
    `N_FRAMES` (the raster analog of video frame sampling)."""
    if payload.startswith(b"P6"):
        mt, (w, h, px) = "image/ppm", _parse_ppm(payload)
    elif payload.startswith(b"BM"):
        mt, (w, h, px) = "image/bmp", _parse_bmp(payload)
    else:
        raise ValueError(
            "unsupported media format (pure-Python path decodes PPM/BMP; "
            "compressed formats need codec libraries)")
    longest = max(w, h)
    ow, oh = w * MAX_DIM // longest, h * MAX_DIM // longest
    head = (doc_id, mt, len(payload), _sig(px), w, h, ow, oh,
            _sig(_resize_nn(px, w, h, ow, oh)))
    rows = []
    for i in range(N_FRAMES):
        y = i * h // N_FRAMES
        rows.append(head + (i, _sig(px[y * w * 3:(y + 1) * w * 3])))
    return rows


# ---------------------------------------------------------------------------
# Audio: canonical RIFF/WAV PCM16. decode → decimate → frame windows
# mirror the image's decode → resize → row frames.

def _parse_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """Canonical-WAV parse → (sample_rate, n_channels, n_samples,
    sample_bytes): RIFF/WAVE container, chunk walk to 'fmt ' (must be
    PCM uncompressed, 16-bit) and 'data'. Pure struct, no libs."""
    if len(payload) < 12 or payload[0:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        raise ValueError(
            "unsupported audio format (pure-Python path decodes PCM WAV; "
            "compressed formats need codec libraries)")
    i, fmt, data = 12, None, None
    while i + 8 <= len(payload):
        cid = payload[i:i + 4]
        sz = struct.unpack_from("<I", payload, i + 4)[0]
        body = payload[i + 8:i + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)          # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        # validate BEFORE unpack_from: a truncated 'fmt ' chunk must
        # surface as the documented ValueError gate, not struct.error
        raise ValueError(
            f"truncated fmt chunk ({len(fmt)} bytes, need >= 16)")
    audio_fmt, n_ch, rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt != 1:
        raise ValueError("compressed WAV not supported (PCM only)")
    if bits != 16:
        raise ValueError(f"only 16-bit PCM supported (got {bits})")
    if n_ch < 1:
        raise ValueError("degenerate channel count")
    n_samples = len(data) // (2 * n_ch)
    return rate, n_ch, n_samples, data[:n_samples * 2 * n_ch]


def _audio_rows(doc_id: int, payload: bytes) -> list[tuple]:
    """decode → decimate → frame windows for one WAV payload, in the
    image columns: sample_rate/n_samples → width/height, out_rate/
    out_samples → out_width/out_height, the decimated-bytes sig →
    resized_sig.

    feature_sig fingerprints the raw sample bytes; decimation keeps
    every k-th whole sample frame (all channels), k = rate div
    `TARGET_RATE` (at least 1); frame f is `FRAME_LEN` samples from
    f·(n_samples div `AUDIO_FRAMES`), clamped at the end."""
    rate, n_ch, ns, data = _parse_wav(payload)
    bp = 2 * n_ch                       # bytes per sample frame
    k = max(1, rate // TARGET_RATE)
    dec = (np.frombuffer(data, dtype=np.uint8).reshape(ns, bp)[::k]
           .tobytes())
    head = (doc_id, "audio/wav", len(payload), _sig(data), rate, ns,
            rate // k, (ns + k - 1) // k, _sig(dec))
    rows = []
    for f in range(AUDIO_FRAMES):
        off = f * (ns // AUDIO_FRAMES)
        rows.append(head + (f, _sig(data[off * bp:(off + FRAME_LEN) * bp])))
    return rows


# ---------------------------------------------------------------------------
# Video: YUV4MPEG2 (.y4m), the canonical uncompressed video interchange
# format (a plain-text stream header, then FRAME-delimited raw planes —
# what ffmpeg emits for codec-free pipelines). Frame sampling here is
# temporal sampling over real container frames.

def _parse_y4m(payload: bytes) -> tuple[int, int, str, list[bytes]]:
    """(width, height, colorspace, frames): YUV4MPEG2 stream header
    (W/H mandatory, C defaults to 420jpeg per spec), then a chunk walk
    of FRAME markers each carrying one raw picture of the fixed
    plane size (C420 family: w·h·3/2; C444: w·h·3)."""
    nl = payload.find(b"\n")
    if not payload.startswith(b"YUV4MPEG2") or nl < 0:
        raise ValueError(
            "unsupported video format (pure-Python path decodes "
            "YUV4MPEG2; compressed formats need codec libraries)")
    w = h = None
    cs = "420jpeg"
    for tok in payload[10:nl].split(b" "):
        if tok.startswith(b"W"):
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            h = int(tok[1:])
        elif tok.startswith(b"C"):
            cs = tok[1:].decode("ascii")
    if not w or not h:
        raise ValueError("missing Y4M geometry")
    if cs.startswith("420"):
        if w % 2 or h % 2:
            raise ValueError("C420 needs even dimensions")
        fsize = w * h * 3 // 2
    elif cs.startswith("444"):
        fsize = w * h * 3
    else:
        raise ValueError(f"unsupported Y4M colorspace C{cs}")
    frames, i = [], nl + 1
    while i < len(payload):
        if payload[i:i + 5] != b"FRAME":
            raise ValueError("expected FRAME marker")
        fnl = payload.find(b"\n", i)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        body = payload[fnl + 1:fnl + 1 + fsize]
        if len(body) < fsize:
            raise ValueError("truncated Y4M frame")
        frames.append(body)
        i = fnl + 1 + fsize
    return w, h, cs, frames


def _video_rows(doc_id: int, payload: bytes) -> list[tuple]:
    """decode → every-`EVERY_K` temporal sampling for one Y4M payload,
    in the image columns: n_frames/n_sampled → out_width/out_height,
    the kept-subset sig → resized_sig.

    feature_sig fingerprints the full frame stream; one row per kept
    frame carries its original frame index and its own fingerprint."""
    w, h, _, frames = _parse_y4m(payload)
    kept = range(0, len(frames), EVERY_K)
    head = (doc_id, "video/y4m", len(payload), _sig(b"".join(frames)),
            w, h, len(frames), len(kept),
            _sig(b"".join(frames[i] for i in kept)))
    return [head + (i, _sig(frames[i])) for i in kept]


# ---------------------------------------------------------------------------
# The one Spark pass.

def _ppm_payload() -> Column:
    """P6 payload over pre-projected `_pw`/`_ph` dimension columns;
    the pixel body is a constant fill of exactly w·h·3 bytes."""
    return F.encode(F.concat(
        F.lit("P6\n"), F.col("_pw").cast("string"), F.lit(" "),
        F.col("_ph").cast("string"), F.lit("\n255\n"),
        F.expr("repeat('x', _pw * _ph * 3)")), "UTF-8")


def _le32(col):
    hx = F.lpad(F.conv(col.cast("string"), 10, 16), 8, "0")
    return F.unhex(F.concat(
        F.substring(hx, 7, 2), F.substring(hx, 5, 2),
        F.substring(hx, 3, 2), F.substring(hx, 1, 2)))


def _le16(col):
    hx = F.lpad(F.conv(col.cast("string"), 10, 16), 4, "0")
    return F.unhex(F.concat(F.substring(hx, 3, 2),
                            F.substring(hx, 1, 2)))


def _wav_payload() -> Column:
    """Mono RIFF/PCM16 payload over pre-projected `_ar`/`_an` columns:
    headers assembled with a little-endian int→unhex byte-swap, the
    sample body a constant fill of exactly n·2 bytes ('x' = 0x78)."""
    data_len = F.col("_an") * 2
    byte_rate = F.col("_ar") * 2         # mono, 2 bytes per sample
    return F.concat(
        F.encode(F.lit("RIFF"), "UTF-8"), _le32(data_len + 36),
        F.encode(F.lit("WAVEfmt "), "UTF-8"), _le32(F.lit(16)),
        _le16(F.lit(1)), _le16(F.lit(1)),        # PCM, mono
        _le32(F.col("_ar")), _le32(byte_rate),
        _le16(F.lit(2)), _le16(F.lit(16)),       # block align, bits
        F.encode(F.lit("data"), "UTF-8"), _le32(data_len),
        F.encode(F.expr("repeat('x', _an * 2)"), "UTF-8"))


def _y4m_payload() -> Column:
    """C444 Y4M payload over pre-projected `_vw`/`_vh`/`_vnf` columns:
    constant plane fill, FRAME markers via repeat(concat(...))."""
    return F.encode(F.concat(
        F.lit("YUV4MPEG2 W"), F.col("_vw").cast("string"),
        F.lit(" H"), F.col("_vh").cast("string"),
        F.lit(" F25:1 C444\n"),
        F.expr("repeat(concat('FRAME\n', repeat('x', _vw * _vh * 3)), "
               "_vnf)")), "UTF-8")


def fused_media_table(docs: DataFrame) -> DataFrame:
    """(doc_id, p_img, p_wav, p_y4m): a valid P6 image, mono PCM16 WAV
    clip and C444 Y4M stream per (doc_id, text) document, all three
    built in ONE narrow codegen'd projection — no UDF, so a billion
    media wrappers is a JVM-side scan. Geometry, sample rate/count and
    frame count are digits of md5(text), mirrored by the q60 oracle."""
    dig = F.md5(F.col("text"))

    def hex_int(pos: int, n: int = 2) -> Column:
        return F.conv(F.substring(dig, pos, n), 16, 10).cast("int")

    d = docs.select(
        "doc_id",
        (F.lit(64) + hex_int(1) % 64).alias("_pw"),
        (F.lit(64) + hex_int(3) % 64).alias("_ph"),
        (F.lit(8000) + (hex_int(1) % 8) * F.lit(1000)).alias("_ar"),
        (F.lit(1000) + hex_int(5, 4) % 4000).alias("_an"),
        (F.lit(8) + hex_int(11) % 16).alias("_vw"),
        (F.lit(8) + hex_int(13) % 16).alias("_vh"),
        (F.lit(3) + hex_int(9) % 6).alias("_vnf"))
    return d.select("doc_id",
                    _ppm_payload().alias("p_img"),
                    _wav_payload().alias("p_wav"),
                    _y4m_payload().alias("p_y4m"))


def fused_modalities_pipeline(docs: DataFrame) -> DataFrame:
    """Image, audio and video rows of every (doc_id, text) document in
    ONE Arrow pass over `fused_media_table`: each document's three
    payloads go through `_image_rows`, `_audio_rows` and `_video_rows`,
    and the rows land in the common `PIPELINE_SCHEMA` shape. One
    payload projection, one decode per payload, no stage joins, no
    shuffle; payloads never reach the driver."""
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, p_img, p_wav, p_y4m in zip(
                    pdf["doc_id"], pdf["p_img"], pdf["p_wav"],
                    pdf["p_y4m"]):
                rows += _image_rows(doc_id, p_img)
                rows += _audio_rows(doc_id, p_wav)
                rows += _video_rows(doc_id, p_y4m)
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return fused_media_table(docs).mapInPandas(op, schema=PIPELINE_SCHEMA)
