"""VP9-shaped raw-frame codec tests: the REAL RFC 6386 bool coder
(exercised across the probability range, carry paths included) under
the substituted-model honesty contract. See snacktory_spark/vp9.py."""
import random

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.imaging import ImageError
from snacktory_spark.vp9 import (_BoolDecoder, _BoolEncoder,
                                 decode_vp9_raw, encode_vp9_raw)


def test_bool_coder_roundtrip_all_probabilities():
    rng = random.Random(7)
    bits = [(rng.randrange(1, 255), rng.randrange(2))
            for _ in range(5000)]
    # skewed stretches force long carry chains (0xFF runs)
    bits += [(254, 0)] * 200 + [(254, 1)] + [(1, 1)] * 200 + [(1, 0)]
    enc = _BoolEncoder()
    for p, b in bits:
        enc.put(p, b)
    data = enc.finish()
    dec = _BoolDecoder(data)
    assert all(dec.get(p) == b for p, b in bits)
    # skewed-probability coding actually compresses: p is the RFC's
    # probability of a ZERO bit, so likely zeros at p=250 cost ~0.034
    # bits each, far below 1 bit/bool
    enc2 = _BoolEncoder()
    for _ in range(4000):
        enc2.put(250, 0)
    assert len(enc2.finish()) < 4000 // 8


def test_bool_literals():
    enc = _BoolEncoder()
    vals = [0, 1, 0x5A, 0xFF, 0x123456]
    for v in vals[:-1]:
        enc.literal(v, 8)
    enc.literal(vals[-1], 24)
    dec = _BoolDecoder(enc.finish())
    assert [dec.literal(8) for _ in range(4)] == vals[:-1]
    assert dec.literal(24) == vals[-1]


def test_vp9_raw_roundtrip_bit_exact():
    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
              for _ in range(3)]
    frames.append(np.zeros((24, 40), dtype=np.uint8))  # zero-run rows
    data = encode_vp9_raw(frames, keyframe_interval=2)
    # the scan tier reads the container + keyframe inventory
    from snacktory_spark.containers import ivf_info
    info = ivf_info(data)
    assert (info["fourcc"], info["n_frames"], info["keyframes"]) \
        == ("VP90", 4, 2)
    w, h, out = decode_vp9_raw(data)
    assert (w, h) == (40, 24) and len(out) == 4
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)         # lossless


def test_vp9_raw_guard_refuses_foreign_payloads():
    # container-valid filler payloads (build_ivf) lack the bool-coded
    # marker: the substituted-model guard refuses instead of decoding
    # garbage — the analog of the MPEG tiers' private-bit guard
    from snacktory_spark.containers import build_ivf
    with pytest.raises(ImageError, match="marker"):
        decode_vp9_raw(build_ivf(4, 40, 24, keyframe_interval=2,
                                 seed=1))


def test_vp9_raw_rejects_and_hostile():
    with pytest.raises(ImageError):
        encode_vp9_raw([])
    with pytest.raises(ImageError):
        encode_vp9_raw([np.zeros(8, dtype=np.uint8)])
    z = np.zeros((8, 8), dtype=np.uint8)
    with pytest.raises(ImageError):
        encode_vp9_raw([z, np.zeros((8, 16), dtype=np.uint8)])
    enc = encode_vp9_raw([z + 3, z + 9])
    # truncated final frame: clean shorter decode
    w, h, out = decode_vp9_raw(enc[:len(enc) - 8])
    assert len(out) == 1
    for off in (33, 45, 60):
        b = bytearray(enc)
        b[off % len(b)] ^= 0x3C
        try:
            decode_vp9_raw(bytes(b))
        except ImageError:
            pass


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=200, deadline=None)
def test_vp9_raw_fuzz_never_leaks(data):
    try:
        decode_vp9_raw(data)
    except ImageError:
        pass


def test_vp9_raw_total_output_cap():
    """Review finding r7: the zero-run RLE makes compact payloads
    expand (~520 bytes -> 16.7 MB per all-zero 4096x4096 frame), so
    the decoder must bound TOTAL output before each allocation."""
    from snacktory_spark.vp9 import MAX_TOTAL_PIXELS_VP9, encode_vp9_raw
    z = np.zeros((4096, 4096), dtype=np.uint8)
    n = MAX_TOTAL_PIXELS_VP9 // (4096 * 4096) + 1
    data = encode_vp9_raw([z] * n, keyframe_interval=1)
    assert len(data) < 20000                 # the bomb is tiny on disk
    with pytest.raises(ImageError, match="total pixel cap"):
        decode_vp9_raw(data)


def test_vp9_raw_honors_declared_ivf_header_size():
    """Review finding r7: the frame walk must start at the DECLARED
    hdr_size (legal to exceed 32), not a hardcoded 32."""
    import struct
    frames = [np.full((8, 8), 9, dtype=np.uint8)]
    data = bytearray(encode_vp9_raw(frames))
    # grow the header by 4 padding bytes and redeclare its size
    grown = data[:32] + b"\x00\x00\x00\x00" + data[32:]
    struct.pack_into("<H", grown, 6, 36)
    w, h, out = decode_vp9_raw(bytes(grown))
    assert np.array_equal(out[0], frames[0])
