"""H.264 I_PCM Baseline intra codec tests — the CONFORMANT video tier
(lossless raw-sample macroblocks; no substituted tables, so round
trips are bit-exact, not SNR-bounded). See snacktory_spark/h264.py."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.h264 import (_ebsp_to_rbsp, _rbsp_to_ebsp, _se_read,
                                  _se_write, _ue_read, _ue_write,
                                  decode_h264_ipcm, encode_h264_ipcm)
from snacktory_spark.imaging import ImageError
from snacktory_spark.mpeg import _BitReader, _BitWriter


def test_exp_golomb_roundtrip():
    w = _BitWriter()
    ue_vals = [0, 1, 2, 3, 7, 8, 255, 1000, 65534]
    se_vals = [0, 1, -1, 2, -2, 30, -30, 1000, -1000]
    for v in ue_vals:
        _ue_write(w, v)
    for v in se_vals:
        _se_write(w, v)
    w.write(0, 7)
    br = _BitReader(bytes(w.buf), 0)
    assert [_ue_read(br) for _ in ue_vals] == ue_vals
    assert [_se_read(br) for _ in se_vals] == se_vals
    # the spec's worked examples: ue codes 0->'1', 1->'010', 2->'011'
    w2 = _BitWriter()
    for v in (0, 1, 2):
        _ue_write(w2, v)
    w2.write(0, 8 - w2.nbits)
    assert bytes(w2.buf) == bytes([0b10100110])


def test_emulation_prevention():
    # every 00 00 0x (x<=3) run must be escaped, and strip inverts
    cases = [b"\x00\x00\x00", b"\x00\x00\x01\x00\x00\x02",
             b"\x00\x00\x03", b"\x00" * 10, b"ab\x00\x00\x00\x00cd",
             bytes(range(256))]
    for rbsp in cases:
        ebsp = _rbsp_to_ebsp(rbsp)
        # no start-code emulation survives in the escaped form
        for bad in (b"\x00\x00\x00", b"\x00\x00\x01", b"\x00\x00\x02"):
            assert bad not in ebsp
        assert _ebsp_to_rbsp(ebsp) == rbsp
    assert _rbsp_to_ebsp(b"\x00\x00\x00") == b"\x00\x00\x03\x00"
    with pytest.raises(ImageError):
        _ebsp_to_rbsp(b"\x00\x00\x03\xff")   # invalid escape target


def test_ipcm_roundtrip_bit_exact():
    rng = np.random.RandomState(5)
    # non-multiple-of-16 dims exercise padding + SPS frame cropping
    frames = [rng.randint(0, 256, size=(30, 44)).astype(np.uint8)
              for _ in range(3)]
    data = encode_h264_ipcm(frames)
    w, h, out = decode_h264_ipcm(data)
    assert (w, h) == (44, 30) and len(out) == 3
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)          # LOSSLESS, not SNR-bounded
    # our own scan tier reads the stream as Baseline with 3 keyframes
    from snacktory_spark.av import h264_annexb_info
    info = h264_annexb_info(data)
    assert (info["profile_idc"], info["n_keyframes"]) == (66, 3)
    assert info["nal_counts"] == {"sps": 1, "pps": 1, "idr": 3}


def test_ipcm_emulation_stress_and_16_multiple():
    # all-zero frames maximize 00-run escaping; exact dims skip cropping
    z = np.zeros((32, 48), dtype=np.uint8)
    data = encode_h264_ipcm([z, z])
    w, h, out = decode_h264_ipcm(data)
    assert (w, h) == (48, 32)
    assert all(np.array_equal(f, z) for f in out)


def test_ipcm_encoder_rejects():
    with pytest.raises(ImageError):
        encode_h264_ipcm([])
    with pytest.raises(ImageError):
        encode_h264_ipcm([np.zeros((16, 17), dtype=np.uint8)])  # odd w
    with pytest.raises(ImageError):
        encode_h264_ipcm([np.zeros(16, dtype=np.uint8)])        # 1-D
    with pytest.raises(ImageError):
        encode_h264_ipcm([np.zeros((16, 16), dtype=np.uint8),
                          np.zeros((16, 32), dtype=np.uint8)])  # mixed


def test_ipcm_decoder_honest_partial():
    """Foreign coded (non-I_PCM) streams raise the documented refusal;
    truncation and corruption yield ImageError, never a leak."""
    from snacktory_spark.av import build_h264_annexb
    with pytest.raises(ImageError):
        decode_h264_ipcm(build_h264_annexb(1, 2, 66, 30, seed=1))
    frames = [np.full((16, 16), 7, dtype=np.uint8)]
    enc = encode_h264_ipcm(frames)
    with pytest.raises(ImageError):
        decode_h264_ipcm(enc[: len(enc) - 100])  # truncated MB
    for off in (10, 30, 80, 200):
        b = bytearray(enc)
        b[off % len(b)] ^= 0x41
        try:
            decode_h264_ipcm(bytes(b))
        except ImageError:
            pass
    with pytest.raises(ImageError):
        decode_h264_ipcm(b"")                    # no NALs


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=200, deadline=None)
def test_ipcm_fuzz_never_leaks(data):
    try:
        decode_h264_ipcm(data)
    except ImageError:
        pass


def test_ipcm_total_output_cap():
    """Review finding r7: per-side and per-count caps alone admit a
    multi-GB decoded total; the aggregate pixel cap must fire before
    the allocations."""
    from snacktory_spark.h264 import (MAX_TOTAL_PIXELS_PCM,
                                      encode_h264_ipcm)
    f = np.zeros((1024, 1024), dtype=np.uint8)
    n = MAX_TOTAL_PIXELS_PCM // (1024 * 1024) + 1
    data = encode_h264_ipcm([f] * n)
    with pytest.raises(ImageError, match="total pixel cap"):
        decode_h264_ipcm(data)


def test_level_idc_tracks_frame_size():
    """ADVICE r7: level_idc must be derived from the macroblock count
    (Table A-1), not hardcoded 3.0 — a 1080p-class frame needs >=4.0."""
    from snacktory_spark.h264 import _level_for, encode_h264_ipcm

    assert _level_for(2, 2) == 10                 # 32x32: level 1
    assert _level_for(80, 45) == 31               # 1280x720: 3600 MBs
    assert _level_for(120, 68) == 40              # 1920x1088: 8160 MBs
    assert _level_for(160, 160) == 51             # 25600 MBs <= 36864
    with pytest.raises(ImageError):
        _level_for(1024, 1024)                    # 16384px: beyond level 6
    # per-DIMENSION cap binds even at tiny area: 1x1000 MBs needs
    # sqrt(8*MaxFS) >= 1000 -> level 6 (dim cap 1055)
    assert _level_for(1, 1000) == 60

    # the emitted SPS carries the derived level: byte layout is
    # 00 00 00 01 | nal hdr 0x67 | profile | constraints | LEVEL
    for (w, h), want in (((32, 32), 10), ((1280, 720), 31),
                         ((1920, 1080), 40)):
        enc = encode_h264_ipcm([np.zeros((h, w), dtype=np.uint8)])
        assert enc[4] == 0x67 and enc[7] == want
        dw, dh, frames = decode_h264_ipcm(enc)
        assert (dw, dh, len(frames)) == (w, h, 1)
    with pytest.raises(ImageError):
        encode_h264_ipcm([np.zeros((16384, 16384), dtype=np.uint8)])
