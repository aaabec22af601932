"""GIF/BMP decoder tests: ImageIO cross-validation (bit-exact — palette
formats are lossless), hand-crafted interlace/multi-frame/transparency
streams, hostile input, fuzz."""

import shutil
import struct
import subprocess

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.gif import count_gif_frames, decode_gif, iter_gif_frames
from snacktory_spark.imaging import (ImageError, decode_bmp,
                                     encode_bmp24, sniff_decode)


# --- minimal GIF writer (test-only): min_code_size=7, a CLEAR before every
# --- literal keeps all codes exactly 8 bits -> trivially valid LZW
def _lzw_literals(indices: np.ndarray) -> bytes:
    out = bytearray()
    for px in indices.reshape(-1):
        out += bytes([0x80, int(px)])  # CLEAR, literal
    out.append(0x81)  # EOI
    return bytes(out)


def _blocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def make_gif(frames, palette, sw=None, sh=None, interlace=False,
             transparent=None, disposal=0, offsets=None):
    """frames: list of (h, w) index arrays (values < 128); palette (n,3)."""
    sw = sw or frames[0].shape[1]
    sh = sh or frames[0].shape[0]
    pal = np.zeros((128, 3), np.uint8)
    pal[:len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    out += bytes([0x80 | 0x06, 0, 0])  # GCT present, 128 entries (2<<6)
    out += pal.tobytes()
    for fi, fr in enumerate(frames):
        h, w = fr.shape
        left, top = (offsets[fi] if offsets else (0, 0))
        disp = disposal[fi] if isinstance(disposal, (list, tuple)) \
            else disposal
        if transparent is not None or disp:
            out += bytes([0x21, 0xF9, 4,
                          ((disp & 7) << 2)
                          | (1 if transparent is not None else 0),
                          0, 0, transparent or 0, 0])
        out += b"\x2C" + struct.pack("<HHHH", left, top, w, h)
        out += bytes([0x40 if interlace else 0x00])
        out += bytes([7])  # min code size
        if interlace:
            rows = []
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                rows.extend(range(start, h, step))
            fr = fr[rows, :]  # stream carries pass order
        out += _blocks(_lzw_literals(fr))
    out += b"\x3B"
    return bytes(out)


_PAL = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255],
                 [250, 200, 10], [90, 90, 90]], np.uint8)


def test_single_frame_roundtrip():
    idx = (np.add.outer(np.arange(10), np.arange(12)) % 6).astype(np.uint8)
    w, h, c, raw = decode_gif(make_gif([idx], _PAL))
    assert (w, h, c) == (12, 10, 3)
    got = np.frombuffer(raw, np.uint8).reshape(10, 12, 3)
    assert (got == _PAL[idx]).all()


def test_interlaced_matches_sequential():
    idx = (np.add.outer(np.arange(16), np.arange(9)) % 6).astype(np.uint8)
    plain = decode_gif(make_gif([idx], _PAL))[3]
    inter = decode_gif(make_gif([idx], _PAL, interlace=True))[3]
    assert plain == inter


def test_multi_frame_compositing_and_sampling():
    base = np.zeros((8, 8), np.uint8)
    patch = np.full((4, 4), 2, np.uint8)
    gif = make_gif([base, patch, patch + 1], _PAL, sw=8, sh=8,
                   offsets=[(0, 0), (2, 2), (4, 4)])
    assert count_gif_frames(gif) == 3
    frames = dict(iter_gif_frames(gif, every_k=2))
    assert sorted(frames) == [0, 2]
    # frame 2 composites: base, then green patch at (2,2), blue at (4,4)
    f2 = frames[2]
    assert (f2[0, 0] == _PAL[0]).all()
    assert (f2[3, 2] == _PAL[2]).all()   # survives from frame 1
    assert (f2[5, 5] == _PAL[3]).all()


def test_transparency_preserves_previous():
    base = np.full((6, 6), 1, np.uint8)          # red screen
    over = np.full((6, 6), 5, np.uint8)
    over[2:4, 2:4] = 0                           # index 0 = transparent
    gif = make_gif([base, over], _PAL, transparent=0)
    frames = dict(iter_gif_frames(gif))
    f1 = frames[1]
    assert (f1[0, 0] == _PAL[5]).all()
    assert (f1[2, 2] == _PAL[1]).all()  # red shows through the hole


def test_restore_to_background_disposal():
    fr = np.full((4, 4), 2, np.uint8)
    gif = make_gif([fr, fr], _PAL, disposal=2)
    frames = dict(iter_gif_frames(gif))
    # during each frame the patch is visible (bg restore applies AFTER)
    assert (frames[0][0, 0] == _PAL[2]).all()
    assert (frames[1][0, 0] == _PAL[2]).all()


@pytest.mark.parametrize("mutant", [
    b"GIF89a",                                        # truncated header
    b"NOTGIF" + b"\x00" * 20,                         # wrong magic
    b"GIF89a" + struct.pack("<HH", 0, 5) + b"\x00\x00\x00\x3B",  # zero dim
    b"GIF89a" + struct.pack("<HH", 60000, 60000) + b"\x00\x00\x00\x3B",
    b"GIF89a" + struct.pack("<HH", 4, 4) + b"\x00\x00\x00" + b"\x99",  # block
    b"GIF89a" + struct.pack("<HH", 4, 4) + b"\x00\x00\x00",  # no trailer
])
def test_gif_hostile(mutant):
    with pytest.raises(ImageError):
        decode_gif(mutant)


def test_gif_frame_without_color_table():
    raw = (b"GIF89a" + struct.pack("<HH", 4, 4) + b"\x00\x00\x00"
           + b"\x2C" + struct.pack("<HHHH", 0, 0, 4, 4) + b"\x00"
           + bytes([7]) + _blocks(_lzw_literals(np.zeros((4, 4), np.uint8)))
           + b"\x3B")
    with pytest.raises(ImageError, match="color table"):
        decode_gif(raw)


def test_lzw_bomb_capped():
    idx = np.zeros((4, 4), np.uint8)
    # valid literals far beyond the frame size
    payload = _lzw_literals(np.zeros((40, 40), np.uint8))
    raw = (b"GIF89a" + struct.pack("<HH", 4, 4) + bytes([0x80, 0, 0])
           + np.zeros((2, 3), np.uint8).tobytes()
           + b"\x2C" + struct.pack("<HHHH", 0, 0, 4, 4) + b"\x00"
           + bytes([7]) + _blocks(payload) + b"\x3B")
    with pytest.raises(ImageError, match="bomb|frame size"):
        decode_gif(raw)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_gif_fuzz_never_leaks(data):
    try:
        decode_gif(b"GIF89a" + data)
    except ImageError:
        pass


# --- BMP -------------------------------------------------------------------

def _bmp24(img: np.ndarray, top_down=False) -> bytes:
    h, w, _ = img.shape
    return encode_bmp24(img.tobytes(), w, h, top_down=top_down)


def test_bmp24_bottom_up_and_top_down():
    img = (np.arange(5 * 7 * 3) % 251).astype(np.uint8).reshape(5, 7, 3)
    for td in (False, True):
        w, h, c, raw = decode_bmp(_bmp24(img, top_down=td))
        assert (w, h, c) == (7, 5, 3)
        assert np.frombuffer(raw, np.uint8).reshape(5, 7, 3).tolist() \
            == img.tolist()


def test_bmp_sniff_and_hostile():
    img = np.full((4, 4, 3), 9, np.uint8)
    data = _bmp24(img)
    assert sniff_decode(data)[:3] == (4, 4, 3)
    with pytest.raises(ImageError):
        decode_bmp(data[:40])
    bad = bytearray(data)
    struct.pack_into("<I", bad, 30, 1)  # BI_RLE8 compression
    with pytest.raises(ImageError, match="not supported"):
        decode_bmp(bytes(bad))


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_bmp_fuzz_never_leaks(data):
    try:
        decode_bmp(b"BM" + data)
    except ImageError:
        pass


# --- ImageIO cross-validation (lossless formats -> BIT-EXACT) ---------------

needs_java = pytest.mark.skipif(shutil.which("java") is None,
                                reason="no java runtime")

_JAVA_SRC = r"""
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.*;

public class GBX {
    public static void main(String[] a) throws Exception {
        if (a[0].equals("decode")) {
            BufferedImage img = ImageIO.read(new File(a[1]));
            int w = img.getWidth(), h = img.getHeight();
            DataOutputStream o = new DataOutputStream(
                new BufferedOutputStream(new FileOutputStream(a[2])));
            o.writeInt(w); o.writeInt(h);
            for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
                int p = img.getRGB(x, y);
                o.writeByte((p >> 16) & 255); o.writeByte((p >> 8) & 255);
                o.writeByte(p & 255);
            }
            o.close();
        } else {
            DataInputStream in = new DataInputStream(
                new BufferedInputStream(new FileInputStream(a[1])));
            int w = in.readInt(), h = in.readInt();
            BufferedImage img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB);
            for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
                int r = in.read(), g = in.read(), b = in.read();
                img.setRGB(x, y, (r << 16) | (g << 8) | b);
            }
            in.close();
            ImageIO.write(img, a[0], new File(a[2]));
        }
    }
}
"""


@pytest.fixture(scope="module")
def java_tool(tmp_path_factory):
    d = tmp_path_factory.mktemp("gbx")
    (d / "GBX.java").write_text(_JAVA_SRC)
    return d


@needs_java
@pytest.mark.parametrize("fmt", ["gif", "bmp"])
def test_imageio_cross_validation_bit_exact(java_tool, fmt):
    rng = np.random.RandomState(11)
    w, h = 37, 29
    idx = rng.randint(0, len(_PAL), (h, w))
    img = _PAL[idx]
    src = java_tool / "src.raw"
    src.write_bytes(struct.pack(">ii", w, h) + img.tobytes())
    out = java_tool / f"t.{fmt}"
    subprocess.run(["java", "GBX.java", fmt, str(src), str(out)],
                   cwd=java_tool, check=True, capture_output=True)
    W, H, C, raw = sniff_decode(out.read_bytes())
    assert (W, H, C) == (w, h, 3)
    mine = np.frombuffer(raw, np.uint8).reshape(h, w, 3)
    ref = java_tool / "ref.raw"
    subprocess.run(["java", "GBX.java", "decode", str(out), str(ref)],
                   cwd=java_tool, check=True, capture_output=True)
    jref = np.frombuffer(ref.read_bytes()[8:], np.uint8).reshape(h, w, 3)
    assert (mine == jref).all()        # lossless: EXACT
    assert (mine == img).all()


# --- encoder (encode_gif): lossless round-trip + ImageIO reads ours ---------

from snacktory_spark.gif import encode_gif


@pytest.mark.parametrize("w,h,ncol", [
    (1, 1, 1), (3, 2, 2), (7, 5, 4), (16, 16, 16), (40, 31, 200),
    (33, 17, 256),
])
def test_encode_gif_roundtrip_exact(w, h, ncol):
    rng = np.random.RandomState(ncol)
    pal = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
    img = pal[rng.randint(0, ncol, (h, w))]
    W, H, C, raw = decode_gif(encode_gif(img.tobytes(), w, h, 3))
    assert (W, H, C) == (w, h, 3)
    assert raw == img.tobytes()


def test_encode_gif_table_reset_roundtrip():
    # 300x300 of 256 random colors forces the 12-bit LZW table past 4096
    # codes -> exercises the encoder's clear-code reset path
    rng = np.random.RandomState(5)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    img = pal[rng.randint(0, 256, (300, 300))]
    assert decode_gif(encode_gif(img.tobytes(), 300, 300, 3))[3] \
        == img.tobytes()


def test_encode_gif_gray_and_errors():
    g = bytes(range(0, 250, 10)) * 10   # 25 gray values, 250 px
    _, _, _, raw = decode_gif(encode_gif(g, 25, 10, 1))
    assert raw == np.repeat(np.frombuffer(g, np.uint8), 3).tobytes()
    with pytest.raises(ImageError):     # >256 unique colors
        rich = np.array([(k // 256, k % 256, 0) for k in range(300)],
                        dtype=np.uint8).tobytes()
        encode_gif(rich, 30, 10, 3)
    with pytest.raises(ImageError):     # size mismatch
        encode_gif(b"\x00" * 10, 4, 4, 3)
    with pytest.raises(ImageError):     # bad channel count
        encode_gif(b"\x00" * 32, 4, 4, 2)


@needs_java
def test_imageio_decodes_our_gif_bit_exact(java_tool):
    rng = np.random.RandomState(23)
    w, h = 41, 27
    img = _PAL[rng.randint(0, len(_PAL), (h, w))]
    out = java_tool / "ours.gif"
    out.write_bytes(encode_gif(img.tobytes(), w, h, 3))
    ref = java_tool / "ours_ref.raw"
    subprocess.run(["java", "GBX.java", "decode", str(out), str(ref)],
                   cwd=java_tool, check=True, capture_output=True)
    jref = np.frombuffer(ref.read_bytes()[8:], np.uint8).reshape(h, w, 3)
    assert (jref == img).all()


@given(st.binary(min_size=1, max_size=96),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=200, deadline=None)
def test_encode_gif_fuzz_roundtrip(data, ncol_bits):
    # arbitrary bytes folded onto a small palette: always round-trips
    ncol = 1 << ncol_bits
    pal = np.frombuffer((data * 48)[:ncol * 3], np.uint8).reshape(ncol, 3)
    pal = np.unique(pal, axis=0)
    idx = np.frombuffer(data, np.uint8) % pal.shape[0]
    img = pal[idx]
    w = len(idx)
    got = decode_gif(encode_gif(img.tobytes(), w, 1, 3))[3]
    assert got == img.tobytes()


def test_restore_previous_disposal_exact():
    # frame 0 fills screen yellow; frame 1 (disposal 3) draws a gray
    # patch at (1,1); frame 2 draws a 1px red dot. After frame 1's
    # disposal, the patch region must be EXACTLY the yellow it covered.
    base = np.full((6, 6), 4, np.uint8)
    patch = np.full((3, 3), 5, np.uint8)
    dot = np.full((1, 1), 1, np.uint8)
    gif = make_gif([base, patch, dot], _PAL, disposal=[0, 3, 0],
                   offsets=[(0, 0), (1, 1), (0, 0)])
    frames = dict(iter_gif_frames(gif))
    assert (frames[1][2, 2] == _PAL[5]).all()      # patch visible in f1
    f2 = frames[2]
    assert (f2[0, 0] == _PAL[1]).all()             # the dot
    assert (f2[2, 2] == _PAL[4]).all()             # patch region restored
    assert (f2[5, 5] == _PAL[4]).all()


def test_disposal2_transparent_background_clears_to_black():
    # bg index 0 is declared transparent by the disposing frame: the
    # restore clears to the RGB transparent stand-in (black), not to
    # palette[0]'s color — make palette[0] loudly non-black to see it.
    pal = np.array([[200, 10, 10], [0, 255, 0]], np.uint8)
    fr = np.full((4, 4), 1, np.uint8)
    tail = np.full((1, 1), 1, np.uint8)
    gif = make_gif([fr, tail], pal, disposal=2, transparent=0,
                   offsets=[(0, 0), (3, 3)])
    frames = dict(iter_gif_frames(gif))
    f1 = frames[1]
    assert (f1[0, 0] == 0).all()                   # cleared, not red
    assert (f1[3, 3] == pal[1]).all()


def test_encode_gif_animation_roundtrip():
    from snacktory_spark.gif import encode_gif_animation
    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, (40, 3)).astype(np.uint8)
    frames = [pal[rng.randint(0, 40, (11, 13))] for _ in range(4)]
    gif = encode_gif_animation(frames, delays_cs=[5, 10, 15, 20],
                               disposal=1, loop=True)
    assert count_gif_frames(gif) == 4
    # full-screen draw-over: each composited frame == its source exactly
    for idx, canvas in iter_gif_frames(gif):
        assert (canvas == frames[idx]).all(), idx
    # every-k sampling works on our own animation
    assert sorted(dict(iter_gif_frames(gif, every_k=2))) == [0, 2]


def test_encode_gif_animation_errors():
    from snacktory_spark.gif import encode_gif_animation
    with pytest.raises(ImageError):
        encode_gif_animation([])
    a = np.zeros((4, 4, 3), np.uint8)
    b = np.zeros((5, 4, 3), np.uint8)
    with pytest.raises(ImageError, match="equal size"):
        encode_gif_animation([a, b])
    with pytest.raises(ImageError, match="length mismatch"):
        encode_gif_animation([a, a], delays_cs=[1])
    rich = np.arange(300, dtype=np.uint16)
    img = np.stack([(rich // 256).astype(np.uint8),
                    (rich % 256).astype(np.uint8),
                    np.zeros(300, np.uint8)], axis=1).reshape(30, 10, 3)
    with pytest.raises(ImageError, match="256 unique"):
        encode_gif_animation([img])


@needs_java
def test_imageio_decodes_our_animation_first_frame(java_tool):
    from snacktory_spark.gif import encode_gif_animation
    rng = np.random.RandomState(31)
    frames = [_PAL[rng.randint(0, len(_PAL), (9, 14))] for _ in range(3)]
    out = java_tool / "anim.gif"
    out.write_bytes(encode_gif_animation(frames, loop=True))
    ref = java_tool / "anim_ref.raw"
    subprocess.run(["java", "GBX.java", "decode", str(out), str(ref)],
                   cwd=java_tool, check=True, capture_output=True)
    jref = np.frombuffer(ref.read_bytes()[8:], np.uint8).reshape(9, 14, 3)
    assert (jref == frames[0]).all()   # ImageIO.read returns frame 0
