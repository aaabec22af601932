"""WAV/Y4M codec tests: round-trip, real DSP feature checks, frame
sampling, hostile input (truncated/bomb/unsupported), fuzz."""

import shutil
import struct
import subprocess

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.av import (MAX_AUDIO_SAMPLES, audio_features,
                                decode_wav, encode_wav, encode_y4m,
                                iter_y4m_luma, video_features)
from snacktory_spark.imaging import ImageError


def _sine(freq, n=2000, rate=8000, amp=0.4):
    t = np.arange(n) / rate
    return amp * np.sin(2 * np.pi * freq * t)


def test_wav_roundtrip_16bit():
    sig = _sine(440)
    rate, ch, out = decode_wav(encode_wav(sig, 8000))
    assert (rate, ch) == (8000, 1)
    assert np.abs(out[:, 0] - sig).max() < 1e-4


def test_wav_roundtrip_stereo_8bit():
    sig = np.stack([_sine(200), -_sine(200)], axis=1)
    rate, ch, out = decode_wav(encode_wav(sig, 8000, bits=8))
    assert (rate, ch) == (8000, 2)
    assert np.abs(out - sig).max() < 0.01


@pytest.mark.parametrize("freq", [200, 440, 1000])
def test_audio_features_find_dominant_frequency(freq):
    f = audio_features(encode_wav(_sine(freq), 8000))
    dur, rms, zcr, dom, centroid = f
    assert abs(dur - 0.25) < 1e-9
    assert abs(rms - 0.4 / np.sqrt(2)) < 0.01
    assert abs(dom - freq) < 4.001  # one FFT bin
    assert abs(centroid - freq) < 10


def test_wav_unknown_chunks_skipped():
    """LIST/INFO chunks (odd sizes word-aligned) before data must parse."""
    sig = _sine(300, n=800)
    base = encode_wav(sig, 8000)
    # splice a 5-byte junk chunk (odd -> 1 pad byte) after the fmt chunk
    fmt_end = 12 + 8 + 16
    spliced = (base[:fmt_end] + b"JUNK" + struct.pack("<I", 5) + b"abcde\x00"
               + base[fmt_end:])
    rate, ch, out = decode_wav(spliced)
    assert np.abs(out[:, 0] - sig).max() < 1e-4


@pytest.mark.parametrize("mutant", [
    b"RIFFxxxx",                                    # truncated header
    b"OggS" + b"\x00" * 40,                         # wrong container
    b"RIFF\x10\x00\x00\x00WAVE",                    # no chunks
])
def test_wav_hostile_headers(mutant):
    with pytest.raises(ImageError):
        decode_wav(mutant)


def test_wav_non_pcm_and_24bit_rejected():
    base = bytearray(encode_wav(_sine(300, n=100), 8000))
    fmt_off = 12 + 8
    non_pcm = bytearray(base)
    non_pcm[fmt_off:fmt_off + 2] = struct.pack("<H", 3)  # IEEE float
    with pytest.raises(ImageError, match="non-PCM"):
        decode_wav(bytes(non_pcm))
    b24 = bytearray(base)
    b24[fmt_off + 14:fmt_off + 16] = struct.pack("<H", 24)
    with pytest.raises(ImageError, match="24-bit"):
        decode_wav(bytes(b24))


def test_wav_sample_cap():
    # header DECLARES a huge data chunk but carries few bytes: the decoder
    # trusts actual bytes, so craft actual oversized pcm via zeros
    n = MAX_AUDIO_SAMPLES + 8
    pcm = b"\x00" * (n * 2)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", len(pcm)) + pcm)
    with pytest.raises(ImageError, match="cap"):
        decode_wav(wav)


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_wav_fuzz_never_leaks(data):
    try:
        decode_wav(b"RIFF" + data)
    except ImageError:
        pass


# --- AIFF / AU ---------------------------------------------------------------

needs_java = pytest.mark.skipif(shutil.which("java") is None,
                                reason="no java runtime")

_AUD_SRC = r"""
import javax.sound.sampled.*;
import java.io.*;

public class AX {
    public static void main(String[] a) throws Exception {
        byte[] pcm = new FileInputStream(a[1]).readAllBytes();
        float rate = Float.parseFloat(a[2]);
        if (a[0].equals("ulaw")) {
            AudioFormat src = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
                rate, 16, 1, 2, rate, true);
            AudioInputStream sis = new AudioInputStream(
                new ByteArrayInputStream(pcm), src, pcm.length / 2);
            AudioFormat ul = new AudioFormat(AudioFormat.Encoding.ULAW,
                rate, 8, 1, 1, rate, true);
            AudioSystem.write(AudioSystem.getAudioInputStream(ul, sis),
                AudioFileFormat.Type.AU, new File(a[3]));
            return;
        }
        AudioFormat fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            rate, 16, 1, 2, rate, true);
        AudioInputStream ais = new AudioInputStream(
            new ByteArrayInputStream(pcm), fmt, pcm.length / 2);
        AudioSystem.write(ais, a[0].equals("aiff")
            ? AudioFileFormat.Type.AIFF : AudioFileFormat.Type.AU,
            new File(a[3]));
    }
}
"""


@pytest.fixture(scope="module")
def audio_java_tool(tmp_path_factory):
    d = tmp_path_factory.mktemp("ax")
    (d / "AX.java").write_text(_AUD_SRC)
    return d


@needs_java
@pytest.mark.parametrize("fmt,codec", [("aiff", "pcm"), ("au", "pcm"),
                                       ("ulaw", "ulaw")])
def test_aiff_au_cross_validation(audio_java_tool, fmt, codec):
    """javax.sound writes the file; our decoder recovers the samples —
    PCM containers bit-exact, mu-law within the G.711 quantization step."""
    from snacktory_spark.av import audio_features, decode_audio
    sig = _sine(440)
    pcm = np.clip(np.round(sig * 32767), -32768, 32767).astype(">i2")
    src = audio_java_tool / "pcm.raw"
    src.write_bytes(pcm.tobytes())
    out = audio_java_tool / f"t_{fmt}"
    subprocess.run(["java", "AX.java", fmt, str(src), "8000", str(out)],
                   cwd=audio_java_tool, check=True, capture_output=True)
    rate, ch, s = decode_audio(out.read_bytes())
    assert (rate, ch) == (8000, 1)
    if codec == "pcm":
        assert np.abs(s[:, 0] - pcm.astype(float) / 32768.0).max() == 0
    else:
        assert np.abs(s[:len(sig), 0] - sig[:len(s)]).max() < 0.01
    assert abs(audio_features(out.read_bytes())[3] - 440) < 4.001


def test_au_mulaw_table_matches_formula():
    """G.711 mu-law expansion spot checks (sign convention verified
    against javax.sound in the cross-validation test above)."""
    from snacktory_spark.av import _ULAW_TABLE
    assert _ULAW_TABLE[0xFF] == 0.0                    # +0
    assert _ULAW_TABLE[0x7F] == 0.0                    # -0
    assert _ULAW_TABLE[0x00] * 32768 == -32124         # max magnitude
    assert (_ULAW_TABLE[128:] == -_ULAW_TABLE[:128]).all()  # sign symmetry
    assert (_ULAW_TABLE[:128] <= 0).all() and (_ULAW_TABLE[128:] >= 0).all()


@pytest.mark.parametrize("mutant", [
    b"FORM\x00\x00\x00\x04AIFF",                       # no chunks
    b"FORM\x00\x00\x00\x04WAVE" + b"\x00" * 20,        # wrong form type
    b".snd" + b"\x00" * 10,                            # truncated AU header
    b".snd" + struct.pack(">IIIII", 16, 0, 9, 8000, 1),  # bad AU encoding
    b".snd" + struct.pack(">IIIII", 4, 0, 2, 8000, 1),   # offset < 24
])
def test_aiff_au_hostile(mutant):
    from snacktory_spark.av import decode_audio
    with pytest.raises(ImageError):
        decode_audio(mutant)


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_aiff_au_fuzz_never_leaks(data):
    from snacktory_spark.av import decode_aiff, decode_au
    for fn, prefix in ((decode_aiff, b"FORM"), (decode_au, b".snd")):
        try:
            fn(prefix + data)
        except ImageError:
            pass


def test_y4m_roundtrip_and_sampling():
    frames = [np.full((16, 24), 10 * i, np.uint8) for i in range(7)]
    clip = encode_y4m(frames, fps=10)
    got = list(iter_y4m_luma(clip, every_k=3))
    assert [i for i, _ in got] == [0, 3, 6]
    assert all((f == frames[i]).all() for i, f in got)
    total, sampled, mean_l, std_l, diff = video_features(clip, every_k=2)
    assert (total, sampled) == (7.0, 4.0)
    assert mean_l == np.mean([0, 20, 40, 60])
    assert std_l == 0.0 and diff == 20.0


def test_y4m_c444():
    h, w = 8, 8
    luma = np.arange(64, dtype=np.uint8).reshape(h, w)
    head = f"YUV4MPEG2 W{w} H{h} F25:1 C444\n".encode()
    frame = b"FRAME\n" + luma.tobytes() + b"\x80" * (w * h) * 2
    got = list(iter_y4m_luma(head + frame))
    assert len(got) == 1 and (got[0][1] == luma).all()


@pytest.mark.parametrize("mutant", [
    b"YUV4MPEG2 W0 H8 C420\n",                       # zero width
    b"YUV4MPEG2 W-4 H-4 C420\nFRAME\n" + b"\x00" * 24,  # negative dims
    b"YUV4MPEG2 W99999 H99999 C420\n",               # pixel bomb
    b"YUV4MPEG2 W8 H8 C422\nFRAME\n" + b"\x00" * 96,  # unsupported chroma
    b"YUV4MPEG2 W8 H8 C420\nFRAME\n" + b"\x00" * 10,  # truncated frame
    b"YUV4MPEG2 W8 H8 C420\nNOPE\n" + b"\x00" * 96,   # bad marker
])
def test_y4m_hostile(mutant):
    with pytest.raises(ImageError):
        list(iter_y4m_luma(mutant))


def test_y4m_budget_charges_sampled_frames_only(monkeypatch):
    """The pixel cap applies to frames actually decoded (review finding:
    charging every frame rejected clips that sampling handles fine)."""
    import snacktory_spark.av as av
    frames = [np.full((8, 8), i, np.uint8) for i in range(15)]  # 960 px
    clip = encode_y4m(frames, fps=25)
    monkeypatch.setattr(av, "MAX_VIDEO_PIXELS", 640)
    total, sampled, *_ = av.video_features(clip, every_k=2)  # 512 px decoded
    assert (total, sampled) == (15.0, 8.0)
    with pytest.raises(ImageError, match="pixel cap"):
        list(av.iter_y4m_luma(clip, every_k=1))  # 960 px > 640


def test_wav_odd_data_chunk_word_aligned():
    """8-bit mono with an odd sample count must emit the RIFF pad byte
    (review finding: asymmetric with the decoder's padding rule)."""
    wav = encode_wav(_sine(300, n=333), 8000, bits=8)
    assert len(wav) % 2 == 0
    (size,) = struct.unpack("<I", wav[4:8])
    assert size == len(wav) - 8  # RIFF size accounts for the pad
    rate, ch, out = decode_wav(wav)
    assert out.shape == (333, 1)


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_y4m_fuzz_never_leaks(data):
    try:
        list(iter_y4m_luma(b"YUV4MPEG2 " + data))
    except ImageError:
        pass


def test_multimodal_real_wav_decode(tmp_path):
    """decode_payload really runs DSP on WAV (no fake fallback)."""
    from snacktory_spark.multimodal import decode_payload
    wav = encode_wav(_sine(440), 8000)
    f = decode_payload(wav, "audio", deterministic_fake=False)
    assert len(f) == 5 and abs(float(f[3]) - 440) < 4.001


def test_multimodal_real_y4m_decode():
    from snacktory_spark.multimodal import decode_payload
    clip = encode_y4m([np.full((8, 8), 77, np.uint8)] * 3, fps=25)
    f = decode_payload(clip, "video", deterministic_fake=False)
    assert len(f) == 5 and f[0] == 3.0 and abs(float(f[2]) - 77) < 1e-6


# --- H.264 Annex-B NAL scanning ---------------------------------------------

from hypothesis import given, settings, strategies as st

from snacktory_spark.av import (build_h264_annexb, h264_annexb_info,
                                iter_h264_nals)


def test_h264_nal_inventory():
    s = build_h264_annexb(4, 6, profile_idc=100, level_idc=41, seed=2)
    info = h264_annexb_info(s)
    assert info["nal_counts"] == {"sps": 1, "pps": 1, "idr": 4,
                                  "slice": 20}
    assert (info["n_nals"], info["n_keyframes"], info["n_slices"]) \
        == (26, 4, 24)
    assert (info["profile_idc"], info["level_idc"]) == (100, 41)
    # both 3- and 4-byte start codes resolve to the same NAL bodies
    types = [t for _o, _r, t, _p in iter_h264_nals(s)]
    assert types[:3] == [7, 8, 5]


def test_h264_three_byte_start_codes():
    # hand-build with 3-byte start codes only
    s = (b"\x00\x00\x01" + bytes([0x67, 66, 0, 30, 9, 9])
         + b"\x00\x00\x01" + bytes([0x68, 1])
         + b"\x00\x00\x01" + bytes([0x65, 2, 3]))
    info = h264_annexb_info(s)
    assert info["n_nals"] == 3 and info["n_keyframes"] == 1
    assert info["profile_idc"] == 66 and info["level_idc"] == 30


def test_h264_hostile():
    from snacktory_spark.imaging import ImageError
    with pytest.raises(ImageError):
        h264_annexb_info(b"no start codes")
    with pytest.raises(ImageError):            # forbidden bit
        h264_annexb_info(b"\x00\x00\x01" + bytes([0x80 | 7, 1, 2]))
    with pytest.raises(ImageError):            # truncated SPS
        h264_annexb_info(b"\x00\x00\x01" + bytes([0x67, 66]))
    with pytest.raises(ImageError):            # empty NAL
        h264_annexb_info(b"\x00\x00\x01")


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=200, deadline=None)
def test_h264_fuzz_never_leaks(data):
    from snacktory_spark.imaging import ImageError
    try:
        h264_annexb_info(b"\x00\x00\x01" + data)
    except ImageError:
        pass


# --- codec-tier routing through the audio/video feature paths (r7) ----------

def test_audio_features_route_mpeg_and_adts():
    """decode_audio routes our MP3/AAC tiers (ADTS sync must win over
    the MPEG mask it also matches); features come from real decoded
    samples — the dominant frequency survives the codec round trip."""
    from snacktory_spark.av import audio_features, decode_audio
    from snacktory_spark.mpeg import encode_aac_adts, encode_layer3
    sr = 32000
    sig = 0.5 * np.sin(2 * np.pi * 500 * np.arange(8000) / sr)
    mp3 = encode_layer3(sig, sr, 128)
    rate, ch, _ = decode_audio(mp3)
    assert (rate, ch) == (sr, 1)
    af = audio_features(mp3)
    assert abs(af[3] - 500) < 20            # dominant freq ~500 Hz
    aac = encode_aac_adts(sig, sr)
    af2 = audio_features(aac)
    assert abs(af2[3] - 500) < 20
    # foreign (unguarded-bit) streams raise through the guard
    import pytest as _pt
    bad = bytearray(mp3)
    bad[2] &= ~0x01
    with _pt.raises(ImageError):
        decode_audio(bytes(bad))


def test_video_features_route_h264_and_vp9():
    """video_features routes the H.264 I_PCM and VP9-raw tiers and
    computes the identical stats a Y4M clip of the same frames gets."""
    from snacktory_spark.av import encode_y4m, video_features
    from snacktory_spark.h264 import encode_h264_ipcm
    from snacktory_spark.vp9 import encode_vp9_raw
    frames = [np.full((16, 16), 40 + 30 * j, dtype=np.uint8)
              for j in range(4)]
    want = video_features(encode_y4m(frames, fps=10), every_k=2)
    got_avc = video_features(encode_h264_ipcm(frames), every_k=2)
    got_vp9 = video_features(encode_vp9_raw(frames), every_k=2)
    assert got_avc == want
    assert got_vp9 == want
    # multimodal plumbing picks the same path (no stub fallback)
    from snacktory_spark.multimodal import decode_payload
    feat = decode_payload(encode_h264_ipcm(frames), "video",
                          deterministic_fake=True)
    assert float(feat[0]) == 4.0            # n_frames, not a fake hash
