"""Audio body of the media pipeline (`multimodal._audio_rows`, WAV/
PCM16): hand-built RIFF payloads with VARIED samples — parse fields,
decimation, frame windows — checked against an independent Python/
struct reference; format gates for compressed/wrong-depth audio; stereo
sample-frame handling; and the engine-built payload's byte-for-byte
validity."""

from __future__ import annotations

import hashlib
import random
import struct

import pytest

from snowflake_azure_etl_spark.operators import multimodal as M


def _wav(rate=8000, samples=(), n_ch=1, bits=16, fmt=1,
         extra_chunk=False):
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt_body = struct.pack("<HHIIHH", fmt, n_ch, rate,
                           rate * n_ch * bits // 8, n_ch * bits // 8, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
    if extra_chunk:
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_wav_varied_samples_and_chunk_walk():
    samples = [i * 31 - 500 for i in range(100)]
    rate, n_ch, ns, data = M._parse_wav(
        _wav(rate=12345, samples=samples, extra_chunk=True))
    assert (rate, n_ch, ns) == (12345, 1, 100)
    assert data == b"".join(struct.pack("<h", s) for s in samples)


def test_format_gates():
    with pytest.raises(ValueError, match="PCM only"):
        M._parse_wav(_wav(samples=[1], fmt=3))
    with pytest.raises(ValueError, match="16-bit"):
        M._parse_wav(_wav(samples=[1], bits=8))
    with pytest.raises(ValueError, match="unsupported audio format"):
        M._audio_rows(1, b"ID3\x04not a wav")


def audio_rows(payload: bytes) -> list[dict]:
    """`_audio_rows` of one payload, each row keyed by column name."""
    return [dict(zip(M._COLUMNS, r)) for r in M._audio_rows(1, payload)]


def _pcm(samples) -> bytes:
    return b"".join(struct.pack("<h", s) for s in samples)


def test_pipeline_decimation_and_frames_match_reference():
    samples = [((i * 7919) % 4001) - 2000 for i in range(1000)]
    rows = audio_rows(_wav(rate=9000, samples=samples))
    assert len(rows) == 2
    r = rows[0]
    k = 9000 // 4000
    # audio rides the image columns: rate/samples → width/height,
    # decimated rate/samples → out_width/out_height
    assert (r["width"], r["height"]) == (9000, 1000)
    assert (r["out_width"], r["out_height"]) == (9000 // k,
                                                 (1000 + k - 1) // k)
    assert r["feature_sig"] == hashlib.md5(_pcm(samples)).hexdigest()[:8]
    assert r["resized_sig"] == hashlib.md5(
        _pcm(samples[::k])).hexdigest()[:8]
    for f, row in enumerate(rows):
        assert row["frame_idx"] == f
        off = f * (1000 // 2)
        frame = _pcm(samples[off:off + 256])
        assert row["frame_sig"] == hashlib.md5(frame).hexdigest()[:8]


def test_stereo_sample_frames():
    # L/R interleaved: decimation must keep whole 4-byte sample frames
    samples = [(i, -i) for i in range(10)]
    flat = [v for pair in samples for v in pair]
    data = _pcm(flat)
    payload = _wav(rate=8000, samples=flat, n_ch=2)
    rate, n_ch, ns, got = M._parse_wav(payload)
    assert (n_ch, ns) == (2, 10) and got == data
    rows = audio_rows(payload)
    kept = [v for pair in samples[::2] for v in pair]
    assert (rows[0]["out_width"], rows[0]["out_height"]) == (4000, 5)
    assert rows[0]["resized_sig"] == hashlib.md5(_pcm(kept)).hexdigest()[:8]
    # frame windows clamp at the clip end: samples 0.. and 5..
    assert [r["frame_sig"] for r in rows] == [
        hashlib.md5(_pcm(flat[off * 2:])).hexdigest()[:8]
        for off in (0, 5)]


def test_engine_built_wav_is_valid_and_formula_aligned(spark):
    docs = spark.createDataFrame([(7, "some words here")],
                                 "doc_id long, text string")
    p = bytes(M.fused_media_table(docs).collect()[0]["p_wav"])
    rate, n_ch, ns, data = M._parse_wav(p)
    dig = hashlib.md5(b"some words here").hexdigest()
    assert rate == 8000 + int(dig[0:2], 16) % 8 * 1000
    assert ns == 1000 + int(dig[4:8], 16) % 4000
    assert n_ch == 1 and data == b"x" * (ns * 2)
    assert len(p) == 44 + ns * 2


def ref_audio_rows(doc_id, byte_len, rate, frames):
    """Scalar reference for `_audio_rows` from the source sample
    frames (one tuple of channel values per sample): decimation by
    k = rate div 4000 (at least 1), then two 256-sample windows at
    offsets 0 and n div 2."""
    def sig(sample_frames):
        return hashlib.md5(_pcm(v for fr in sample_frames
                                for v in fr)).hexdigest()[:8]

    n, k = len(frames), max(1, rate // 4000)
    head = (doc_id, "audio/wav", byte_len, sig(frames), rate, n,
            rate // k, len(frames[::k]), sig(frames[::k]))
    return [head + (f, sig(frames[f * (n // 2):f * (n // 2) + 256]))
            for f in range(2)]


def test_audio_rows_match_scalar_reference_property():
    """Random mono and stereo clips at random rates (decimation factors
    1 to 12, clips shorter and longer than the two frame windows) give
    exactly the scalar reference's rows."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(n_ch=st.sampled_from([1, 2]), rate=st.integers(1000, 48000),
           n=st.integers(0, 700), seed=st.integers(0, 2 ** 32 - 1))
    def check(n_ch, rate, n, seed):
        rng = random.Random(seed)
        frames = [tuple(rng.randint(-32768, 32767) for _ in range(n_ch))
                  for _ in range(n)]
        payload = _wav(rate=rate, n_ch=n_ch,
                       samples=[v for fr in frames for v in fr])
        assert M._audio_rows(3, payload) == ref_audio_rows(
            3, len(payload), rate, frames)

    check()
