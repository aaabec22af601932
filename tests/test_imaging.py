"""Pure-python image codec tests: PNG encode/decode round-trip, scanline
filter inversion (all 5 types), PPM, resize, features, hostile input."""

import random
import struct
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.imaging import (PNG_SIG, ImageError, _chunk, decode_png,
                                     decode_ppm, encode_png, encode_ppm,
                                     image_features, resize_nearest,
                                     sniff_decode)


@pytest.mark.parametrize("w,h,c", [(7, 5, 3), (1, 1, 1), (16, 16, 4), (3, 9, 1)])
def test_png_roundtrip(w, h, c):
    rng = random.Random(42)
    px = bytes(rng.randrange(256) for _ in range(w * h * c))
    assert decode_png(encode_png(px, w, h, c)) == (w, h, c, px)


def _encode_with_filter(px, w, h, c, ftype):
    """Reference filter application per the PNG spec — the decoder must
    invert it exactly."""
    stride, bpp = w * c, c
    prev = bytearray(stride)
    rows = []
    for y in range(h):
        line = bytearray(px[y * stride:(y + 1) * stride])
        f = bytearray(stride)
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            f[i] = (line[i] - pred) & 0xFF
        rows.append(bytes([ftype]) + bytes(f))
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[c], 0, 0, 0)
    return (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + _chunk(b"IEND", b""))


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
@pytest.mark.parametrize("c", [1, 3, 4])
def test_png_filters_inverted(ftype, c):
    rng = random.Random(ftype * 10 + c)
    w, h = 9, 6
    px = bytes(rng.randrange(256) for _ in range(w * h * c))
    assert decode_png(_encode_with_filter(px, w, h, c, ftype)) == (w, h, c, px)


def test_ppm_roundtrip_and_sniff():
    rng = random.Random(3)
    px = bytes(rng.randrange(256) for _ in range(8 * 4 * 3))
    assert decode_ppm(encode_ppm(px, 8, 4)) == (8, 4, 3, px)
    assert sniff_decode(encode_ppm(px, 8, 4)) == (8, 4, 3, px)
    assert sniff_decode(encode_png(px, 8, 4, 3)) == (8, 4, 3, px)


def test_ppm_comments_in_header():
    px = bytes(range(12))
    data = b"P6\n# a comment\n2 2\n# another\n255\n" + px
    assert decode_ppm(data) == (2, 2, 3, px)


def test_bad_inputs_raise_image_error():
    with pytest.raises(ImageError):
        sniff_decode(b"\xff\xd8\xffjpeg-ish")
    with pytest.raises(ImageError):
        decode_png(PNG_SIG + b"garbage")
    # corrupt CRC
    good = encode_png(bytes(12), 2, 2, 3)
    bad = good[:20] + bytes([good[20] ^ 0xFF]) + good[21:]
    with pytest.raises(ImageError):
        decode_png(bad)
    with pytest.raises(ImageError):
        decode_ppm(b"P6\n2 2\n65535\n" + bytes(24))


def test_resize_nearest_identity_and_downscale():
    px = bytes(range(48))  # 4x4 RGB
    assert resize_nearest(px, 4, 4, 3, 4, 4) == px
    small = resize_nearest(px, 4, 4, 3, 2, 2)
    assert len(small) == 12
    assert small[0:3] == px[0:3]  # top-left pixel preserved


def test_image_features_shape_and_range():
    px = bytes([255] * 27)  # 3x3 all-white RGB
    f = image_features(px, 3, 3, 3)
    assert len(f) == 2 * 3 + 16
    assert f[0] == 1.0 and f[1] == 0.0  # mean 255, std 0
    assert all(x == 1.0 for x in f[6:])  # white thumbnail


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 12), st.integers(1, 12), st.sampled_from([1, 3, 4]),
       st.integers(0, 2 ** 31 - 1))
def test_png_roundtrip_property(w, h, c, seed):
    rng = random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h * c))
    assert decode_png(encode_png(px, w, h, c)) == (w, h, c, px)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=300))
def test_decode_never_crashes_on_junk(data):
    try:
        sniff_decode(PNG_SIG + data)
    except ImageError:
        pass  # the only allowed failure mode
    except Exception as e:  # zlib/struct leaks would be bugs
        if not isinstance(e, ImageError):
            raise


def test_malformed_headers_raise_image_error_not_valueerror():
    """Truncated/garbled headers must surface as ImageError so the Spark
    decode path degrades instead of failing the task (review finding)."""
    for payload in (b"P6", b"P6\n", b"P6\n#only comment", b"P6\nx y\n255\n",
                    PNG_SIG + _chunk(b"IHDR", b"\x00" * 5)):
        with pytest.raises(ImageError):
            sniff_decode(payload)


def test_png_decompression_bomb_rejected():
    """IDAT inflating past the IHDR-declared size is rejected before it
    can exhaust memory (review finding)."""
    # header says 2x2 RGB (expected 2*2*3+2*1 = 14 bytes of scanlines)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 50_000_000, 9)
    data = (PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", bomb)
            + _chunk(b"IEND", b""))
    with pytest.raises(ImageError):
        decode_png(data)


def test_png_absurd_dimensions_rejected():
    ihdr = struct.pack(">IIBBBBB", 2 ** 20, 2 ** 20, 8, 2, 0, 0, 0)
    data = (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"")) + _chunk(b"IEND", b""))
    with pytest.raises(ImageError):
        decode_png(data)
