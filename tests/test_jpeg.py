"""Baseline JPEG codec tests: round-trip at varying dims/quality/
subsampling/restart intervals, hostile input, and cross-validation
against Java ImageIO (an independent implementation shipped with the
JDK Spark already requires)."""

import shutil
import struct
import subprocess

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.imaging import ImageError, sniff_decode
from snacktory_spark.jpeg import decode_jpeg, encode_jpeg


def _gradient(w, h, seed=0):
    """Smooth deterministic RGB test image (JPEG-friendly content)."""
    rng = np.random.RandomState(seed)
    base = rng.randint(32, 160, 3).astype(float)
    gx = np.linspace(0.0, 90.0, w)
    gy = np.linspace(0.0, 60.0, h)
    img = base[None, None, :] + gx[None, :, None] + gy[:, None, None]
    return np.clip(img, 0, 255).astype(np.uint8)


@pytest.mark.parametrize("w,h", [(8, 8), (16, 16), (13, 11), (33, 17), (8, 40)])
def test_flat_color_roundtrip_exact(w, h):
    px = np.full((h, w, 3), [120, 64, 200], dtype=np.uint8)
    out_w, out_h, c, raw = decode_jpeg(encode_jpeg(px.tobytes(), w, h, 3, quality=95))
    assert (out_w, out_h, c) == (w, h, 3)
    got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).astype(int)
    assert np.abs(got - px.astype(int)).max() <= 1


@pytest.mark.parametrize("quality", [75, 90, 95])
@pytest.mark.parametrize("subsample", [False, True])
def test_gradient_roundtrip_bounded_loss(quality, subsample):
    w, h = 40, 24
    img = _gradient(w, h, seed=3)
    out_w, out_h, c, raw = decode_jpeg(
        encode_jpeg(img.tobytes(), w, h, 3, quality=quality, subsample=subsample))
    assert (out_w, out_h, c) == (w, h, 3)
    got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).astype(float)
    rmse = np.sqrt(((got - img.astype(float)) ** 2).mean())
    assert rmse < 6.0


def test_grayscale_roundtrip():
    w, h = 24, 16
    px = _gradient(w, h, seed=5)[..., 0].copy()
    out_w, out_h, c, raw = decode_jpeg(encode_jpeg(px.tobytes(), w, h, 1, quality=95))
    assert (out_w, out_h, c) == (w, h, 1)
    got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w).astype(float)
    assert np.sqrt(((got - px.astype(float)) ** 2).mean()) < 3.0


@pytest.mark.parametrize("ri", [1, 2, 5])
def test_restart_intervals(ri):
    w, h = 48, 32
    img = _gradient(w, h, seed=7)
    out_w, out_h, c, raw = decode_jpeg(
        encode_jpeg(img.tobytes(), w, h, 3, quality=92,
                    subsample=bool(ri % 2), restart_interval=ri))
    assert (out_w, out_h) == (w, h)
    got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).astype(float)
    assert np.sqrt(((got - img.astype(float)) ** 2).mean()) < 6.0


def test_quality_100_adversarial_pattern():
    """quality=100 makes every quant value 1; an aligned cosine pattern
    quantizes past +/-1023 without the libjpeg-style range clamp (review
    finding: the AC table has no category 11 — unclamped this KeyErrored)."""
    n = np.arange(8)
    pat = np.sign(np.cos(np.pi * (2 * n + 1) * 4 / 16))
    blk = (128 + 127 * np.outer(pat, pat)).astype(np.uint8)
    img = np.stack([blk] * 3, axis=-1)
    w, h, c, raw = decode_jpeg(encode_jpeg(img.tobytes(), 8, 8, 3, quality=100))
    got = np.frombuffer(raw, dtype=np.uint8).reshape(8, 8, 3).astype(int)
    assert np.abs(got - img.astype(int)).max() <= 24


def test_corrupted_valid_file_never_leaks():
    """Bit-flip fuzz over a valid file: ImageError or success only."""
    import random
    rng = random.Random(1)
    base = bytearray(encode_jpeg(
        np.full((16, 16, 3), 100, np.uint8).tobytes(), 16, 16, 3))
    for _ in range(300):
        b2 = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            b2[rng.randrange(len(b2))] = rng.getrandbits(8)
        try:
            decode_jpeg(bytes(b2))
        except ImageError:
            pass


def test_sniff_decode_routes_jpeg():
    w, h = 8, 8
    img = _gradient(w, h)
    out_w, out_h, c, raw = sniff_decode(encode_jpeg(img.tobytes(), w, h, 3))
    assert (out_w, out_h, c) == (w, h, 3)


def test_not_a_jpeg():
    with pytest.raises(ImageError):
        decode_jpeg(b"plainly not a jpeg")


def test_truncated_jpeg_raises_image_error():
    data = encode_jpeg(_gradient(16, 16).tobytes(), 16, 16, 3)
    for cut in (2, 20, len(data) // 2, len(data) - 3):
        with pytest.raises(ImageError):
            decode_jpeg(data[:cut])


def test_lossless_and_arithmetic_rejected():
    for sof in (0xC3, 0xC9, 0xCB):  # lossless / arith sequential / arith prog
        hdr = (b"\xFF\xD8" + bytes([0xFF, sof]) + struct.pack(">H", 11)
               + bytes([8]) + struct.pack(">HH", 8, 8)
               + bytes([1, 1, 0x11, 0]))
        with pytest.raises(ImageError, match="not supported"):
            decode_jpeg(hdr)


def test_progressive_hostile_scans():
    """SOF2 with malformed scan scripts must raise ImageError, never leak."""
    sof2 = (b"\xFF\xC2" + struct.pack(">H", 11) + bytes([8])
            + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    cases = [
        # AC scan with 2 components (must be non-interleaved) — both
        # component ids resolve in the frame so the ns!=1 branch is hit
        b"\xFF\xDA" + struct.pack(">H", 10) + bytes([2, 1, 0, 1, 0, 1, 63, 0]),
        # band outside 1..63
        b"\xFF\xDA" + struct.pack(">H", 8) + bytes([1, 1, 0, 40, 20, 0]),
        # DC scan with nonzero Se
        b"\xFF\xDA" + struct.pack(">H", 8) + bytes([1, 1, 0, 0, 5, 0]),
        # unknown scan component id
        b"\xFF\xDA" + struct.pack(">H", 8) + bytes([1, 9, 0, 0, 0, 0]),
    ]
    for sos in cases:
        with pytest.raises(ImageError):
            decode_jpeg(b"\xFF\xD8" + sof2 + sos + b"\x00" * 16 + b"\xFF\xD9")


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_progressive_fuzz_never_leaks(data):
    sof2 = (b"\xFF\xC2" + struct.pack(">H", 11) + bytes([8])
            + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    try:
        decode_jpeg(b"\xFF\xD8" + sof2 + data)
    except ImageError:
        pass


def test_dimension_bomb_rejected():
    # 60000x60000 header: must be rejected BEFORE allocating planes
    sof0 = (b"\xFF\xD8\xFF\xC0" + struct.pack(">H", 11)
            + bytes([8]) + struct.pack(">HH", 60000, 60000)
            + bytes([1, 1, 0x11, 0]))
    with pytest.raises(ImageError, match="out of bounds"):
        decode_jpeg(sof0)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_decode_never_crashes_on_junk(data):
    """Hostile-input contract: ImageError or success, never anything else."""
    try:
        decode_jpeg(b"\xFF\xD8" + data)
    except ImageError:
        pass


@settings(max_examples=20, deadline=None)
@given(w=st.integers(1, 24), h=st.integers(1, 24), seed=st.integers(0, 99))
def test_roundtrip_property(w, h, seed):
    img = _gradient(w, h, seed=seed)
    out_w, out_h, c, raw = decode_jpeg(
        encode_jpeg(img.tobytes(), w, h, 3, quality=95,
                    subsample=bool(seed % 2)))
    assert (out_w, out_h, c) == (w, h, 3)
    got = np.frombuffer(raw, dtype=np.uint8).astype(int)
    assert np.abs(got - img.reshape(-1).astype(int)).max() <= 24


# ---------------------------------------------------------------------------
# cross-validation against Java ImageIO (independent codec)
# ---------------------------------------------------------------------------

_JAVA_SRC = r"""
import javax.imageio.*;
import java.awt.image.BufferedImage;
import java.io.*;
import java.util.Iterator;

public class JX {
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
        } else {  // encode | pencode (progressive)
            DataInputStream in = new DataInputStream(
                new BufferedInputStream(new FileInputStream(a[1])));
            int w = in.readInt(), h = in.readInt();
            BufferedImage img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB);
            for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
                int r = in.read(), g = in.read(), b = in.read();
                img.setRGB(x, y, (r << 16) | (g << 8) | b);
            }
            in.close();
            Iterator<ImageWriter> it = ImageIO.getImageWritersByFormatName("jpeg");
            ImageWriter wr = it.next();
            ImageWriteParam p = wr.getDefaultWriteParam();
            if (a[0].equals("pencode"))
                p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT);
            p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT);
            p.setCompressionQuality(0.9f);
            wr.setOutput(ImageIO.createImageOutputStream(new File(a[2])));
            wr.write(null, new IIOImage(img, null, null), p);
            wr.dispose();
        }
    }
}
"""

needs_java = pytest.mark.skipif(shutil.which("java") is None,
                                reason="no java runtime")


@pytest.fixture(scope="module")
def java_tool(tmp_path_factory):
    d = tmp_path_factory.mktemp("jx")
    (d / "JX.java").write_text(_JAVA_SRC)
    return d


@needs_java
def test_java_imageio_decodes_our_output(java_tool):
    """Spec compliance: an independent decoder recovers our encoder's
    source image (java 11+ runs single-file sources without javac)."""
    w, h = 37, 29
    img = _gradient(w, h, seed=9)
    for q, sub in [(95, False), (90, True)]:
        jpg = java_tool / "ours.jpg"
        jpg.write_bytes(encode_jpeg(img.tobytes(), w, h, 3,
                                    quality=q, subsample=sub))
        raw = java_tool / "java.raw"
        subprocess.run(["java", "JX.java", "decode", str(jpg), str(raw)],
                       cwd=java_tool, check=True, capture_output=True)
        data = raw.read_bytes()
        jw, jh = struct.unpack(">ii", data[:8])
        assert (jw, jh) == (w, h)
        jpix = np.frombuffer(data[8:], dtype=np.uint8).reshape(h, w, 3)
        rmse = np.sqrt(((jpix.astype(float) - img.astype(float)) ** 2).mean())
        assert rmse < 4.0


@needs_java
def test_progressive_decode_matches_java(java_tool):
    """Full progressive pipeline: ImageIO writes a multi-scan SOF2 file
    (DC first+refine, AC spectral bands, AC successive-approximation
    refinement); our decoder must match ImageIO's own decode within
    chroma-upsampling tolerance."""
    w, h = 37, 29
    img = _gradient(w, h, seed=21)
    src = java_tool / "psrc.raw"
    src.write_bytes(struct.pack(">ii", w, h) + img.tobytes())
    jpg = java_tool / "prog.jpg"
    subprocess.run(["java", "JX.java", "pencode", str(src), str(jpg)],
                   cwd=java_tool, check=True, capture_output=True)
    # confirm the fixture really is progressive (SOF2 marker present)
    assert b"\xFF\xC2" in jpg.read_bytes()
    out_w, out_h, c, raw = decode_jpeg(jpg.read_bytes())
    assert (out_w, out_h, c) == (w, h, 3)
    ref = java_tool / "pref.raw"
    subprocess.run(["java", "JX.java", "decode", str(jpg), str(ref)],
                   cwd=java_tool, check=True, capture_output=True)
    jref = np.frombuffer(ref.read_bytes()[8:], dtype=np.uint8).astype(float)
    mine = np.frombuffer(raw, dtype=np.uint8).astype(float)
    assert np.sqrt(((mine - jref) ** 2).mean()) < 5.0
    assert np.abs(mine - jref).max() <= 32


@needs_java
def test_our_decoder_reads_java_output(java_tool):
    """Interop the other direction: decode a file written by ImageIO and
    match ImageIO's own decode of it within upsampling tolerance."""
    w, h = 37, 29
    img = _gradient(w, h, seed=13)
    src = java_tool / "src.raw"
    src.write_bytes(struct.pack(">ii", w, h) + img.tobytes())
    jpg = java_tool / "java.jpg"
    subprocess.run(["java", "JX.java", "encode", str(src), str(jpg)],
                   cwd=java_tool, check=True, capture_output=True)
    out_w, out_h, c, raw = decode_jpeg(jpg.read_bytes())
    assert (out_w, out_h, c) == (w, h, 3)
    ref = java_tool / "ref.raw"
    subprocess.run(["java", "JX.java", "decode", str(jpg), str(ref)],
                   cwd=java_tool, check=True, capture_output=True)
    jref = np.frombuffer(ref.read_bytes()[8:], dtype=np.uint8).astype(float)
    mine = np.frombuffer(raw, dtype=np.uint8).astype(float)
    # difference is chroma-upsampling flavor only (spec-discretionary):
    # libjpeg fancy (triangular) vs our nearest replication
    assert np.sqrt(((mine - jref) ** 2).mean()) < 5.0
    assert np.abs(mine - jref).max() <= 32
