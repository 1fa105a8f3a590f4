"""Image body of the media pipeline (`multimodal._image_rows`): pure-
Python PPM/BMP parsing, nearest-neighbor resample and row frames —
verified bit-for-bit against hand-built binary payloads and an
independent scalar reference; plus the engine-built P6 payload's
validity."""

from __future__ import annotations

import hashlib
import random
import struct

import pytest

from snowflake_azure_etl_spark.operators import multimodal as mm


def make_ppm(w: int, h: int, comment: bool = False) -> tuple[bytes, bytes]:
    """A valid P6 payload with varied pixel bytes; returns (payload, pixels)."""
    pixels = bytes((x * 7 + 13) % 256 for x in range(w * h * 3))
    header = b"P6\n"
    if comment:
        header += b"# generated test image\n"
    header += f"{w} {h}\n255\n".encode()
    return header + pixels, pixels


def make_bmp(w: int, h: int, top_down: bool = False,
             rgb: bytes | None = None) -> tuple[bytes, bytes]:
    """STANDARDS-COMPLIANT uncompressed 24-bit BMP (ADVICE r5): rows
    stored bottom-up (unless top_down), BGR channel order, each row
    padded to a 4-byte stride. Returns (payload, top-down RGB pixels —
    the normalized form _parse_bmp must recover)."""
    if rgb is None:
        rgb = bytes((x * 11 + 5) % 256 for x in range(w * h * 3))
    stride = ((w * 3 + 3) // 4) * 4
    pad = b"\x00" * (stride - w * 3)
    rows = []
    for y in range(h):
        row = rgb[y * w * 3:(y + 1) * w * 3]
        bgr = bytearray(row)
        bgr[0::3], bgr[2::3] = row[2::3], row[0::3]
        rows.append(bytes(bgr) + pad)
    if not top_down:
        rows.reverse()
    body = b"".join(rows)
    data_off = 54
    header = (b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0,
                                  data_off)
              + struct.pack("<IiiHHIIiiII", 40, w,
                            -h if top_down else h, 1, 24, 0,
                            len(body), 0, 0, 0, 0))
    return header + body, rgb


def test_parse_ppm_roundtrip():
    payload, pixels = make_ppm(5, 4, comment=True)
    w, h, px = mm._parse_ppm(payload)
    assert (w, h) == (5, 4)
    assert px == pixels


def test_parse_ppm_rejects_truncated():
    payload, _ = make_ppm(5, 4)
    with pytest.raises(ValueError, match="truncated"):
        mm._parse_ppm(payload[:-1])


def test_parse_bmp_roundtrip():
    # w=6 → 18 bytes/row, stride 20: exercises real row padding
    payload, pixels = make_bmp(6, 3)
    w, h, px = mm._parse_bmp(payload)
    assert (w, h) == (6, 3)
    assert px == pixels


def test_parse_bmp_top_down_matches_bottom_up():
    """Negative height (top-down) and positive height (bottom-up)
    encodings of the same image normalize to the same pixels."""
    up, pixels = make_bmp(5, 4, top_down=False)
    down, _ = make_bmp(5, 4, top_down=True)
    assert mm._parse_bmp(up) == mm._parse_bmp(down) == (5, 4, pixels)


def image_rows(payload: bytes) -> list[dict]:
    """`_image_rows` of one payload, each row keyed by column name."""
    return [dict(zip(mm._COLUMNS, r)) for r in mm._image_rows(1, payload)]


def test_bmp_and_ppm_reencodings_fingerprint_identically():
    """feature_sig hashes the DECODED pixels, so the same image as PPM
    and as BMP (padded, bottom-up, BGR) yields the same rows apart from
    the container's media type and byte length."""
    w, h = 7, 5                        # 21 bytes/row → stride 24
    rgb = bytes((x * 7 + 13) % 256 for x in range(w * h * 3))
    ppm = b"P6\n" + f"{w} {h}\n255\n".encode() + rgb
    bmp, _ = make_bmp(w, h, rgb=rgb)
    container = ("media_type", "byte_len")

    def decoded(rows):
        return [{k: v for k, v in r.items() if k not in container}
                for r in rows]

    assert decoded(image_rows(ppm)) == decoded(image_rows(bmp))


def test_parse_bmp_rejects_non_24bpp():
    payload, _ = make_bmp(4, 4)
    bad = bytearray(payload)
    struct.pack_into("<H", bad, 28, 32)
    with pytest.raises(ValueError, match="24-bit"):
        mm._parse_bmp(bytes(bad))


def test_real_decode_rejects_unknown():
    with pytest.raises(ValueError, match="unsupported"):
        mm._image_rows(1, b"\x89PNG....")


def test_decode_media_real_on_generated_payloads():
    ppm, ppm_px = make_ppm(8, 6)
    bmp, bmp_px = make_bmp(4, 4)
    p, b = image_rows(ppm)[0], image_rows(bmp)[0]
    assert p["media_type"] == "image/ppm"
    assert (p["width"], p["height"]) == (8, 6)
    assert p["byte_len"] == len(ppm)
    assert p["feature_sig"] == hashlib.md5(ppm_px).hexdigest()[:8]
    assert b["media_type"] == "image/bmp"
    assert (b["width"], b["height"]) == (4, 4)
    assert b["byte_len"] == len(bmp)
    assert b["feature_sig"] == hashlib.md5(bmp_px).hexdigest()[:8]


def py_resize_nn(pixels: bytes, w: int, h: int, ow: int, oh: int) -> bytes:
    """Independent scalar-loop reference for the numpy resample."""
    out = bytearray()
    for oy in range(oh):
        base = (oy * h // oh) * w * 3
        for ox in range(ow):
            sx = base + (ox * w // ow) * 3
            out += pixels[sx:sx + 3]
    return bytes(out)


def test_resize_media_real_nearest_neighbor():
    # 96x40 → longest side 64: 64x26, a non-integer 1.5x downscale
    payload, pixels = make_ppm(96, 40)
    rows = image_rows(payload)
    assert {(r["out_width"], r["out_height"]) for r in rows} == {(64, 26)}
    expected = py_resize_nn(pixels, 96, 40, 64, 26)
    assert len(expected) == 64 * 26 * 3
    assert mm._resize_nn(pixels, 96, 40, 64, 26) == expected
    assert rows[0]["resized_sig"] == hashlib.md5(expected).hexdigest()[:8]


def test_resize_nn_matches_loop_reference_property():
    """The numpy fancy-index resample computes the exact truncating-
    division NN grid of the scalar definition, for any dims."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 12), h=st.integers(1, 9),
           ow=st.integers(1, 12), oh=st.integers(1, 9),
           seed=st.integers(0, 255))
    def check(w, h, ow, oh, seed):
        px = bytes((x * 13 + seed) % 256 for x in range(w * h * 3))
        assert mm._resize_nn(px, w, h, ow, oh) == py_resize_nn(
            px, w, h, ow, oh)

    check()


def test_frame_sample_real_rows():
    payload, pixels = make_ppm(5, 8)
    rows = image_rows(payload)
    assert [r["frame_idx"] for r in rows] == [0, 1, 2, 3]
    for i, r in enumerate(rows):
        y = i * 8 // 4
        expected_row = pixels[y * 5 * 3:(y + 1) * 5 * 3]
        assert r["frame_sig"] == hashlib.md5(expected_row).hexdigest()[:8]


def test_fused_media_table_produces_valid_ppm(spark, sf_dir):
    from snowflake_azure_etl_spark.sources.registry import load_tables
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].limit(5)
    payloads = mm.fused_media_table(docs).collect()
    assert payloads
    for r in payloads:
        w, h, px = mm._parse_ppm(bytes(r.p_img))
        assert 64 <= w < 128 and 64 <= h < 128
        assert px == b"x" * (w * h * 3)


def test_parse_bmp_property_roundtrip():
    """Property sweep: any dims × row order round-trips to the same
    normalized top-down RGB pixels (stride padding + BGR swap + flip
    all exercised as width mod 4 varies)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 13), h=st.integers(1, 7),
           top_down=st.booleans(), seed=st.integers(0, 255))
    def check(w, h, top_down, seed):
        rgb = bytes((x * 31 + seed) % 256 for x in range(w * h * 3))
        payload, _ = make_bmp(w, h, top_down=top_down, rgb=rgb)
        assert mm._parse_bmp(payload) == (w, h, rgb)

    check()


def ref_image_rows(doc_id, media_type, byte_len, w, h, rgb):
    """Scalar reference for `_image_rows` from the source pixels:
    longest side scaled to 64 by truncating division, the loop
    resample, and 4 evenly spaced pixel rows as frames."""
    def sig(b):
        return hashlib.md5(b).hexdigest()[:8]

    ow, oh = w * 64 // max(w, h), h * 64 // max(w, h)
    head = (doc_id, media_type, byte_len, sig(rgb), w, h, ow, oh,
            sig(py_resize_nn(rgb, w, h, ow, oh)))
    rows = []
    for i in range(4):
        y = i * h // 4
        rows.append(head + (i, sig(rgb[y * w * 3:(y + 1) * w * 3])))
    return rows


def test_image_rows_match_scalar_reference_property():
    """Random PPM and BMP images, up- and downscaled around the 64-px
    target, give exactly the scalar reference's rows."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(w=st.integers(1, 90), h=st.integers(1, 90),
           fmt=st.sampled_from(["ppm", "bmp", "bmp_top_down"]),
           seed=st.integers(0, 2 ** 32 - 1))
    def check(w, h, fmt, seed):
        rgb = random.Random(seed).randbytes(w * h * 3)
        if fmt == "ppm":
            payload = b"P6\n" + f"{w} {h}\n255\n".encode() + rgb
        else:
            payload, _ = make_bmp(w, h, top_down=fmt == "bmp_top_down",
                                  rgb=rgb)
        mt = "image/ppm" if fmt == "ppm" else "image/bmp"
        assert mm._image_rows(7, payload) == ref_image_rows(
            7, mt, len(payload), w, h, rgb)

    check()
