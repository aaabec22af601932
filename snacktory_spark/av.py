"""Pure-python audio/video decode for the multimodal pipeline.

The container ships no ffmpeg/libsndfile, but the real, widely-used
interchange formats need nothing beyond struct + numpy:

- **WAV (RIFF PCM)**: canonical uncompressed audio interchange. Full
  chunk walk (RIFF/fmt/data, unknown chunks skipped), PCM 8-bit
  unsigned / 16-bit signed, any channel count/sample rate. Real DSP
  features: duration, RMS, zero-crossing rate, dominant frequency and
  spectral centroid via numpy rFFT.
- **AIFF**: big-endian IFF sibling (COMM with 80-bit extended-float
  sample rate, SSND offsets, SIGNED 8-bit). Bit-exact vs javax.sound.
- **AU (Sun .snd)**: PCM-8/16 plus the ITU G.711 mu-law expansion table
  — real telephony-codec decode, cross-validated against javax.sound's
  ULAW writer.
- **Y4M (YUV4MPEG2)**: ffmpeg's raw-video interchange format. Header
  parse (W/H/F/C tags), C420/C444 frame layout, frame iteration without
  materializing the whole clip, every-k-th frame sampling, per-frame
  luma statistics — the frame-sample + feature-extract shape a training
  pipeline runs over video.

- **H.264 Annex-B NAL scanning**: start-code walk, NAL-type inventory,
  keyframe (IDR) counts, SPS profile/level from their fixed byte
  offsets — the no-decode video-corpus audit pass (see
  h264_annexb_info; the I_PCM Baseline intra tier in h264.py decodes
  losslessly; CAVLC/CABAC residual decode stays the declared limit).

Perceptual codec DECODE (MP3 L3/AAC/H.264/VP9) genuinely needs the
specs' normative entropy tables and remains a declared stub in
multimodal.py (MPEG-1 Layer I/II decode self-consistently via mpeg.py;
MPEG/ADTS/Annex-B SCANNING is real). Reference parity: the reference
treats audio/video as opaque URLs (HtmlFetcher extension routing); these
decoders serve SURVEY §2's multimodal-column ops.

Hostile-input contract (same as imaging.py/jpeg.py/pdf.py): every
failure raises ImageError (shared error type for media codecs); decoded
sizes are capped so crafted headers can't OOM an executor.
"""

from __future__ import annotations

import struct

import numpy as np

from .imaging import ImageError

MAX_AUDIO_SAMPLES = 1 << 24   # 16M samples decoded cap (~6 min stereo 44k1)
MAX_VIDEO_PIXELS = 1 << 26    # total pixels across sampled frames


# ---------------------------------------------------------------------------
# WAV (RIFF PCM)
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, sample_rate: int,
               bits: int = 16) -> bytes:
    """PCM WAV from float samples in [-1, 1]; shape (n,) or (n, channels)."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if bits == 16:
        pcm = np.clip(np.round(arr * 32767.0), -32768, 32767) \
            .astype("<i2").tobytes()
    elif bits == 8:
        pcm = np.clip(np.round(arr * 127.0 + 128.0), 0, 255) \
            .astype(np.uint8).tobytes()
    else:
        raise ImageError("encode_wav supports 8 or 16 bits")
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate,
                      sample_rate * block, block, bits)
    pad = b"\x00" if len(pcm) & 1 else b""  # RIFF chunks are word-aligned
    out = (b"RIFF"
           + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm) + len(pad))
           + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(pcm)) + pcm + pad)
    return out


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """→ (sample_rate, channels, float64 samples (n, ch) in [-1, 1]).

    Raises ImageError for anything but PCM 8/16-bit RIFF WAVE."""
    try:
        return _decode_wav(data)
    except ImageError:
        raise
    except (ValueError, IndexError, struct.error, OverflowError,
            MemoryError) as e:
        raise ImageError(f"malformed WAV: {type(e).__name__}: {e}") from None


def _decode_wav(data: bytes):
    if len(data) < 12 or data[0:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ImageError("not a RIFF WAVE file")
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if tag == b"fmt " and len(body) >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            pcm = body
        # chunks are word-aligned: odd sizes are padded with one byte
        pos += 8 + size + (size & 1)
        if fmt is not None and pcm is not None:
            break
    if fmt is None or pcm is None:
        raise ImageError("WAV missing fmt/data chunk")
    audio_fmt, ch, rate, _brate, _block, bits = fmt
    if audio_fmt != 1:
        raise ImageError(f"non-PCM WAV (format {audio_fmt}) not supported")
    if ch < 1 or ch > 8 or rate < 1:
        raise ImageError("WAV header out of bounds")
    if bits not in (8, 16):
        raise ImageError(f"{bits}-bit WAV not supported (8/16 only)")
    # cap BEFORE the float64 conversion: astype amplifies the payload ~5x
    # (review finding — the cap must prevent the allocation, not follow it)
    if len(pcm) // (bits // 8) > MAX_AUDIO_SAMPLES:
        raise ImageError("WAV too large (sample cap)")
    if bits == 16:
        raw = np.frombuffer(pcm[: (len(pcm) // (2 * ch)) * 2 * ch], "<i2")
        samples = raw.astype(np.float64) / 32768.0
    else:
        raw = np.frombuffer(pcm[: (len(pcm) // ch) * ch], np.uint8)
        samples = (raw.astype(np.float64) - 128.0) / 128.0
    return rate, ch, samples.reshape(-1, ch)


# ---------------------------------------------------------------------------
# AIFF (big-endian IFF) and AU (Sun) — the other containers javax.sound
# reads/writes, used to cross-validate in tests
# ---------------------------------------------------------------------------

def _ext80_to_int(b: bytes) -> int:
    """80-bit IEEE extended float → int (AIFF sample rates are integers)."""
    if len(b) != 10:
        raise ImageError("bad extended float")
    sign_exp = struct.unpack(">H", b[0:2])[0]
    mant = int.from_bytes(b[2:10], "big")
    if sign_exp & 0x8000:
        raise ImageError("negative AIFF sample rate")
    exp = (sign_exp & 0x7FFF) - 16383 - 63
    if mant == 0:
        return 0
    if exp < -70 or exp > 30:
        raise ImageError("AIFF sample rate out of range")
    return mant << exp if exp >= 0 else mant >> -exp


def decode_aiff(data: bytes) -> tuple[int, int, np.ndarray]:
    """AIFF PCM (8/16-bit big-endian) → (rate, channels, float64 (n, ch))."""
    try:
        if len(data) < 12 or data[0:4] != b"FORM" or data[8:12] != b"AIFF":
            raise ImageError("not an AIFF file")
        pos = 12
        comm = None
        ssnd = None
        while pos + 8 <= len(data):
            tag = data[pos:pos + 4]
            (size,) = struct.unpack(">I", data[pos + 4:pos + 8])
            body = data[pos + 8:pos + 8 + size]
            if tag == b"COMM" and len(body) >= 18:
                ch, _frames, bits = struct.unpack(">HIH", body[0:8])
                rate = _ext80_to_int(body[8:18])
                comm = (ch, bits, rate)
            elif tag == b"SSND" and len(body) >= 8:
                (off, _block) = struct.unpack(">II", body[0:8])
                ssnd = body[8 + off:]
            pos += 8 + size + (size & 1)
            if comm and ssnd is not None:
                break
        if comm is None or ssnd is None:
            raise ImageError("AIFF missing COMM/SSND chunk")
        ch, bits, rate = comm
        if ch < 1 or ch > 8 or rate < 1:
            raise ImageError("AIFF header out of bounds")
        if bits not in (8, 16):
            raise ImageError(f"{bits}-bit AIFF not supported (8/16 only)")
        if len(ssnd) // (bits // 8) > MAX_AUDIO_SAMPLES:
            raise ImageError("AIFF too large (sample cap)")
        if bits == 16:
            raw = np.frombuffer(ssnd[: (len(ssnd) // (2 * ch)) * 2 * ch],
                                ">i2")
            samples = raw.astype(np.float64) / 32768.0
        else:  # AIFF 8-bit is SIGNED (unlike WAV)
            raw = np.frombuffer(ssnd[: (len(ssnd) // ch) * ch], np.int8)
            samples = raw.astype(np.float64) / 128.0
        return rate, ch, samples.reshape(-1, ch)
    except ImageError:
        raise
    except (ValueError, IndexError, struct.error, OverflowError,
            MemoryError) as e:
        raise ImageError(f"malformed AIFF: {type(e).__name__}: {e}") from None


# ITU G.711 mu-law expansion (public standard): segment/mantissa decode
_ULAW_TABLE = np.zeros(256, np.float64)
for _i in range(256):
    _u = ~_i & 0xFF
    _seg = (_u >> 4) & 0x07
    _val = (((_u & 0x0F) << 3) + 0x84) << _seg
    _val -= 0x84
    _ULAW_TABLE[_i] = (-_val if _u & 0x80 else _val) / 32768.0
del _i, _u, _seg, _val


def decode_au(data: bytes) -> tuple[int, int, np.ndarray]:
    """Sun AU (.snd): 8-bit mu-law / 8-bit linear / 16-bit big-endian."""
    try:
        if len(data) < 24 or data[0:4] != b".snd":
            raise ImageError("not an AU file")
        off, _size, enc, rate, ch = struct.unpack(">IIIII", data[4:24])
        if off < 24 or off > len(data):
            raise ImageError("bad AU data offset")
        if ch < 1 or ch > 8 or rate < 1:
            raise ImageError("AU header out of bounds")
        pcm = data[off:]
        if enc == 1:  # G.711 mu-law
            if len(pcm) > MAX_AUDIO_SAMPLES:
                raise ImageError("AU too large (sample cap)")
            samples = _ULAW_TABLE[np.frombuffer(
                pcm[: (len(pcm) // ch) * ch], np.uint8)]
        elif enc == 2:  # 8-bit linear (signed)
            if len(pcm) > MAX_AUDIO_SAMPLES:
                raise ImageError("AU too large (sample cap)")
            samples = np.frombuffer(pcm[: (len(pcm) // ch) * ch],
                                    np.int8).astype(np.float64) / 128.0
        elif enc == 3:  # 16-bit linear big-endian
            if len(pcm) // 2 > MAX_AUDIO_SAMPLES:
                raise ImageError("AU too large (sample cap)")
            samples = np.frombuffer(pcm[: (len(pcm) // (2 * ch)) * 2 * ch],
                                    ">i2").astype(np.float64) / 32768.0
        else:
            raise ImageError(f"AU encoding {enc} not supported")
        return rate, ch, samples.reshape(-1, ch)
    except ImageError:
        raise
    except (ValueError, IndexError, struct.error, OverflowError,
            MemoryError) as e:
        raise ImageError(f"malformed AU: {type(e).__name__}: {e}") from None


def decode_audio(data: bytes) -> tuple[int, int, np.ndarray]:
    """Route by magic: WAV (RIFF), AIFF (FORM), AU (.snd), ADTS/AAC
    (0xFFF sync with layer bits 00 — must be checked BEFORE the MPEG
    branch, whose mask it also matches), MPEG-1/2 Layers I-III (frame
    sync). The MPEG/AAC codec tiers are self-consistent and guarded
    (mpeg.py honesty contract): foreign streams raise and fall through
    to the caller's stub path."""
    if data[:4] == b"RIFF":
        return decode_wav(data)
    if data[:4] == b"FORM":
        return decode_aiff(data)
    if data[:4] == b".snd":
        return decode_au(data)
    if len(data) > 1 and data[0] == 0xFF and (data[1] & 0xF6) == 0xF0:
        from .mpeg import decode_aac_adts
        return decode_aac_adts(data)
    if len(data) > 1 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0:
        from .mpeg import decode_mpeg
        return decode_mpeg(data)
    raise ImageError(
        "unsupported audio container (WAV/AIFF/AU/MPEG/ADTS)")


def audio_features(data: bytes) -> list[float]:
    """Real DSP features from a WAV/AIFF/AU payload: [duration_s, rms,
    zero_crossing_rate, dominant_freq_hz, spectral_centroid_hz]."""
    rate, ch, samples = decode_audio(data)
    mono = samples.mean(axis=1)
    n = mono.size
    if n == 0:
        return [0.0, 0.0, 0.0, 0.0, 0.0]
    duration = n / rate
    rms = float(np.sqrt((mono ** 2).mean()))
    zcr = float((np.diff(np.signbit(mono)) != 0).mean()) if n > 1 else 0.0
    spec = np.abs(np.fft.rfft(mono))
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
    if spec.size > 1:
        dom = float(freqs[1 + int(np.argmax(spec[1:]))])  # skip DC
        power = spec ** 2
        centroid = float((freqs * power).sum() / power.sum()) \
            if power.sum() > 0 else 0.0
    else:
        dom = centroid = 0.0
    return [duration, rms, zcr, dom, centroid]


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2)
# ---------------------------------------------------------------------------

def encode_y4m(frames: list[np.ndarray], fps: int = 25) -> bytes:
    """YUV4MPEG2 C420 clip from uint8 luma frames (h, w); flat chroma."""
    if not frames:
        raise ImageError("encode_y4m needs at least one frame")
    h, w = frames[0].shape
    if h % 2 or w % 2:
        raise ImageError("C420 needs even dimensions")
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode())
    flat_c = np.full((h // 2) * (w // 2), 128, np.uint8).tobytes()
    for f in frames:
        if f.shape != (h, w):
            raise ImageError("all frames must share dimensions")
        out += b"FRAME\n"
        out += np.ascontiguousarray(f, dtype=np.uint8).tobytes()
        out += flat_c + flat_c
    return bytes(out)


def _parse_y4m_header(data: bytes):
    eol = data.find(b"\n")
    if eol < 0 or not data.startswith(b"YUV4MPEG2"):
        raise ImageError("not a YUV4MPEG2 stream")
    w = h = None
    fps_num, fps_den = 25, 1
    fmt = "420"
    for tok in data[9:eol].split():
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("F"):
            num, _, den = t[1:].partition(":")
            fps_num, fps_den = int(num), int(den or 1)
        elif t.startswith("C"):
            fmt = t[1:]
    if not w or not h or w < 1 or h < 1 or w * h > MAX_VIDEO_PIXELS:
        raise ImageError("Y4M dimensions missing or out of bounds")
    if fmt.startswith("420"):
        frame_bytes = w * h * 3 // 2
    elif fmt.startswith("444"):
        frame_bytes = w * h * 3
    else:
        raise ImageError(f"Y4M chroma format C{fmt} not supported")
    if fps_num < 1 or fps_den < 1:
        raise ImageError("bad Y4M frame rate")
    return w, h, fps_num / fps_den, frame_bytes, eol + 1


def _iter_y4m_frames(data: bytes):
    """Yield (frame_index, payload_offset, w, h) without decoding —
    the shared decode-free frame walk (headers are skipped, never read)."""
    try:
        w, h, _fps, frame_bytes, pos = _parse_y4m_header(data)
    except ImageError:
        raise
    except (ValueError, IndexError) as e:
        raise ImageError(f"malformed Y4M: {e}") from None
    idx = 0
    while pos < len(data):
        eol = data.find(b"\n", pos)
        if eol < 0 or not data[pos:eol].startswith(b"FRAME"):
            raise ImageError("Y4M frame marker missing")
        start = eol + 1
        if start + frame_bytes > len(data):
            raise ImageError("truncated Y4M frame")
        yield idx, start, w, h
        pos = start + frame_bytes
        idx += 1


def iter_y4m_luma(data: bytes, every_k: int = 1):
    """Yield (frame_index, luma uint8 (h, w)) for every k-th frame —
    streaming; only SAMPLED frames are decoded and only they count
    against the pixel budget (review finding: the old video_features
    walked with every_k=1, charging and decoding every frame)."""
    if every_k < 1:
        raise ImageError("every_k must be >= 1")
    budget = MAX_VIDEO_PIXELS
    for idx, start, w, h in _iter_y4m_frames(data):
        if idx % every_k:
            continue
        budget -= w * h
        if budget < 0:
            raise ImageError("Y4M too large (pixel cap)")
        yield idx, np.frombuffer(data[start:start + w * h],
                                 np.uint8).reshape(h, w)


def video_features(data: bytes, every_k: int = 2) -> list[float]:
    """Frame-sampled video features: [n_frames_total, n_sampled,
    mean_luma, luma_std, mean_abs_frame_diff] over every k-th frame.
    Routes by magic: Y4M (streaming one-pass walk — skipped frames are
    header-walked only, sampled frames decoded, total counted in the
    same walk, bounded by MAX_VIDEO_PIXELS), H.264 Annex-B (the I_PCM
    lossless tier, h264.py) and IVF/VP9 (the bool-coded raw tier,
    vp9.py) — those two decode the full frame list before sampling,
    bounded by their own aggregate caps (MAX_TOTAL_PIXELS_PCM /
    MAX_TOTAL_PIXELS_VP9, the same 2^26-pixel budget), and their
    guarded codec tiers raise on foreign streams so the caller's stub
    path takes over."""
    if every_k < 1:
        raise ImageError("every_k must be >= 1")
    if data[:3] == b"\x00\x00\x01" or data[:4] == b"\x00\x00\x00\x01":
        from .h264 import decode_h264_ipcm
        _w, _h, frames = decode_h264_ipcm(data)
        return _video_features_frames(frames, every_k)
    if data[:4] == b"DKIF":
        from .vp9 import decode_vp9_raw
        _w, _h, frames = decode_vp9_raw(data)
        return _video_features_frames(frames, every_k)
    means, prev, diffs, stds = [], None, [], []
    total = 0
    budget = MAX_VIDEO_PIXELS
    for idx, start, w, h in _iter_y4m_frames(data):
        total += 1
        if idx % every_k:
            continue
        budget -= w * h
        if budget < 0:
            raise ImageError("Y4M too large (pixel cap)")
        f = np.frombuffer(data[start:start + w * h],
                          np.uint8).reshape(h, w).astype(np.float64)
        means.append(float(f.mean()))
        stds.append(float(f.std()))
        if prev is not None:
            diffs.append(float(np.abs(f - prev).mean()))
        prev = f
    if not means:
        raise ImageError("Y4M has no frames")
    return [float(total), float(len(means)),
            float(np.mean(means)), float(np.mean(stds)),
            float(np.mean(diffs)) if diffs else 0.0]


def _video_features_frames(frames: list, every_k: int) -> list[float]:
    """The same feature vector over an already-decoded frame list
    (H.264/VP9 tiers), with the identical every-k sampling."""
    means, prev, diffs, stds = [], None, [], []
    for idx, fr in enumerate(frames):
        if idx % every_k:
            continue
        f = fr.astype(np.float64)
        means.append(float(f.mean()))
        stds.append(float(f.std()))
        if prev is not None:
            diffs.append(float(np.abs(f - prev).mean()))
        prev = f
    if not means:
        raise ImageError("video has no frames")
    return [float(len(frames)), float(len(means)),
            float(np.mean(means)), float(np.mean(stds)),
            float(np.mean(diffs)) if diffs else 0.0]


# ---------------------------------------------------------------------------
# H.264 Annex-B NAL scanning (scan tier: REAL structure, no slice decode)
# ---------------------------------------------------------------------------

_H264_NAL_NAMES = {
    1: "slice", 5: "idr", 6: "sei", 7: "sps", 8: "pps", 9: "aud",
}


def iter_h264_nals(data: bytes):
    """Yield (offset, nal_ref_idc, nal_unit_type, payload) for each NAL
    unit in an H.264 Annex-B byte stream (00 00 01 / 00 00 00 01 start
    codes, public structure — ITU-T H.264 Annex B). The payload is the
    raw EBSP (emulation-prevention bytes NOT stripped — scanning doesn't
    need the RBSP). Slice/entropy decode is out of scope entirely."""
    n = len(data)
    i = 0
    starts = []
    while True:
        j = data.find(b"\x00\x00\x01", i)
        if j < 0:
            break
        lead = 4 if j >= 1 and data[j - 1] == 0 else 3
        starts.append((j - (lead - 3), j + 3))
        i = j + 3
    if not starts:
        raise ImageError("no H.264 start codes")
    for k, (_s, body) in enumerate(starts):
        end = starts[k + 1][0] if k + 1 < len(starts) else n
        if body >= end:
            raise ImageError("empty NAL unit")
        hdr = data[body]
        if hdr & 0x80:
            raise ImageError("forbidden_zero_bit set in NAL header")
        yield body, (hdr >> 5) & 0x3, hdr & 0x1F, data[body + 1:end]


def h264_annexb_info(data: bytes) -> dict:
    """Corpus-audit stats for an Annex-B stream: NAL counts by type,
    IDR (keyframe) count, access-unit estimate, and the SPS
    profile/level — profile_idc and level_idc sit at fixed byte offsets
    0 and 2 of the SPS payload (before any Exp-Golomb field), so
    reading them needs no bitstream parse."""
    counts: dict[str, int] = {}
    n_idr = 0
    n_aud = 0
    n_slices = 0
    profile_idc = None
    level_idc = None
    n = 0
    for _off, _ref, typ, payload in iter_h264_nals(data):
        n += 1
        if n > (1 << 22):
            raise ImageError("H.264 stream exceeds NAL cap")
        name = _H264_NAL_NAMES.get(typ, f"type{typ}")
        counts[name] = counts.get(name, 0) + 1
        if typ == 5:
            n_idr += 1
            n_slices += 1
        elif typ == 1:
            n_slices += 1
        elif typ == 9:
            n_aud += 1
        elif typ == 7 and profile_idc is None:
            if len(payload) < 3:
                raise ImageError("truncated SPS")
            profile_idc = payload[0]
            level_idc = payload[2]
    return {
        "n_nals": n,
        "nal_counts": counts,
        "n_slices": n_slices,
        "n_keyframes": n_idr,
        "n_access_units": n_aud if n_aud else n_slices,
        "profile_idc": profile_idc,
        "level_idc": level_idc,
    }


def build_h264_annexb(n_gops: int, gop_len: int, profile_idc: int = 100,
                      level_idc: int = 41, seed: int = 0) -> bytes:
    """Structurally valid Annex-B stream (SPS/PPS then GOPs of one IDR +
    gop_len-1 non-IDR slices, deterministic filler payloads) for
    scanner tests/queries — payloads are NOT real coded slices; start
    codes, NAL headers, and the fixed-offset SPS profile/level are
    exactly what the scanner validates."""
    def nal(ref, typ, payload):
        return b"\x00\x00\x00\x01" + bytes([(ref << 5) | typ]) + payload

    out = bytearray()
    sps = bytes([profile_idc, 0x00, level_idc]) + bytes(
        ((seed + i) * 37) % 251 + 1 for i in range(5))
    out += nal(3, 7, sps)
    out += nal(3, 8, bytes([0xC8, 0x42]))
    for g in range(n_gops):
        for s in range(gop_len):
            typ = 5 if s == 0 else 1
            payload = bytes(((seed + g * gop_len + s + i) * 53) % 251 + 1
                            for i in range(40))
            out += nal(2 if typ == 5 else 0, typ, payload)
    return bytes(out)
