"""Video body of the media pipeline (`multimodal._video_rows`, Y4M):
hand-built YUV4MPEG2 streams with VARIED frame contents — parse,
temporal sampling, per-frame fingerprints — vs an independent Python
reference; C420 plane-size handling; format gates; engine-built
payload validity."""

from __future__ import annotations

import hashlib
import random

import pytest

from snowflake_azure_etl_spark.operators import multimodal as M


def _y4m(w, h, frames, cs="444", frame_params=b""):
    hdr = f"YUV4MPEG2 W{w} H{h} F25:1 C{cs}\n".encode()
    return hdr + b"".join(b"FRAME" + frame_params + b"\n" + f
                          for f in frames)


def test_parse_varied_frames_c444():
    w, h = 4, 3
    frames = [bytes((i * 37 + j) % 251 for j in range(w * h * 3))
              for i in range(5)]
    pw, ph, cs, got = M._parse_y4m(_y4m(w, h, frames))
    assert (pw, ph, cs) == (4, 3, "444") and got == frames


def test_parse_c420_plane_size_and_default_colorspace():
    w, h = 4, 2
    frames = [bytes(range(w * h * 3 // 2))]
    hdr = f"YUV4MPEG2 W{w} H{h} F25:1\n".encode()  # C omitted -> 420jpeg
    payload = hdr + b"FRAME\n" + frames[0]
    pw, ph, cs, got = M._parse_y4m(payload)
    assert cs == "420jpeg" and got == frames


def test_format_gates():
    with pytest.raises(ValueError, match="even dimensions"):
        M._parse_y4m(b"YUV4MPEG2 W3 H2 C420\nFRAME\n" + b"x" * 9)
    with pytest.raises(ValueError, match="unsupported Y4M colorspace"):
        M._parse_y4m(b"YUV4MPEG2 W2 H2 C422\nFRAME\n" + b"x" * 8)
    with pytest.raises(ValueError, match="truncated Y4M frame"):
        M._parse_y4m(b"YUV4MPEG2 W2 H2 C444\nFRAME\n" + b"x" * 5)
    with pytest.raises(ValueError, match="unsupported video format"):
        M._video_rows(1, b"\x00\x00\x00 ftypmp42")


def test_pipeline_temporal_sampling_matches_reference():
    w, h = 2, 2
    frames = [bytes((i + j) % 256 for j in range(w * h * 3))
              for i in range(7)]
    payload = _y4m(w, h, frames)
    rows = [dict(zip(M._COLUMNS, r)) for r in M._video_rows(1, payload)]
    kept = [0, 2, 4, 6]
    assert [r["frame_idx"] for r in rows] == kept
    # video rides the image columns: frame counts → out_width/out_height
    assert (rows[0]["width"], rows[0]["height"]) == (w, h)
    assert (rows[0]["out_width"], rows[0]["out_height"]) == (7, 4)
    assert rows[0]["byte_len"] == len(payload)
    assert rows[0]["feature_sig"] == hashlib.md5(
        b"".join(frames)).hexdigest()[:8]
    assert rows[0]["resized_sig"] == hashlib.md5(
        b"".join(frames[i] for i in kept)).hexdigest()[:8]
    for r, i in zip(rows, kept):
        assert r["frame_sig"] == hashlib.md5(frames[i]).hexdigest()[:8]


def test_engine_built_y4m_is_valid_and_formula_aligned(spark):
    docs = spark.createDataFrame([(7, "some words here")],
                                 "doc_id long, text string")
    p = bytes(M.fused_media_table(docs).collect()[0]["p_y4m"])
    w, h, cs, frames = M._parse_y4m(p)
    dig = hashlib.md5(b"some words here").hexdigest()
    assert w == 8 + int(dig[10:12], 16) % 16
    assert h == 8 + int(dig[12:14], 16) % 16
    assert len(frames) == 3 + int(dig[8:10], 16) % 6
    assert cs == "444" and all(f == b"x" * (w * h * 3) for f in frames)


def ref_video_rows(doc_id, byte_len, w, h, frames):
    """Scalar reference for `_video_rows` from the source frames:
    frames 0, 2, 4, ... kept, each its own row."""
    def sig(b):
        return hashlib.md5(b).hexdigest()[:8]

    kept = [i for i in range(len(frames)) if i % 2 == 0]
    head = (doc_id, "video/y4m", byte_len, sig(b"".join(frames)), w, h,
            len(frames), len(kept), sig(b"".join(frames[i] for i in kept)))
    return [head + (i, sig(frames[i])) for i in kept]


def test_video_rows_match_scalar_reference_property():
    """Random C444 and C420 streams of 0 to 9 random frames give
    exactly the scalar reference's rows."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(half_w=st.integers(1, 6), half_h=st.integers(1, 6),
           cs=st.sampled_from(["444", "420jpeg", "420paldv"]),
           n_frames=st.integers(0, 9), seed=st.integers(0, 2 ** 32 - 1))
    def check(half_w, half_h, cs, n_frames, seed):
        w, h = 2 * half_w, 2 * half_h
        fsize = w * h * 3 if cs == "444" else w * h * 3 // 2
        rng = random.Random(seed)
        frames = [rng.randbytes(fsize) for _ in range(n_frames)]
        payload = _y4m(w, h, frames, cs=cs)
        assert M._video_rows(5, payload) == ref_video_rows(
            5, len(payload), w, h, frames)

    check()
