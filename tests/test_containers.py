"""MP4/Ogg/FLAC container scanner tests: build→info round-trips,
header arithmetic, hostile input, fuzz. See snacktory_spark/containers.py."""
import struct

import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.containers import (build_flac, build_mp4, build_ogg,
                                        flac_info, mp4_info, ogg_info)
from snacktory_spark.imaging import ImageError


# --- MP4 --------------------------------------------------------------------

def test_mp4_roundtrip():
    data = build_mp4(n_samples=12, sample_size=50, duration_ms=480,
                     handler=b"vide", codec=b"avc1", seed=7)
    info = mp4_info(data)
    assert info["brand"] == "isom"
    assert info["duration_ms"] == 480
    assert info["n_tracks"] == 1
    assert info["tracks"][0] == {"handler": "vide", "codec": "avc1",
                                 "n_samples": 12, "track_id": 1,
                                 "media_timescale": 1000}
    assert info["mdat_bytes"] == 12 * 50


def test_mp4_audio_track_and_stco_offset():
    data = build_mp4(n_samples=5, sample_size=20, duration_ms=2000,
                     handler=b"soun", codec=b"mp4a")
    info = mp4_info(data)
    assert info["tracks"][0]["handler"] == "soun"
    assert info["tracks"][0]["codec"] == "mp4a"
    # the stco chunk offset must point exactly at the mdat payload
    stco_at = data.find(b"stco")
    off = struct.unpack(">I", data[stco_at + 12:stco_at + 16])[0]
    mdat_at = data.find(b"mdat")
    assert off == mdat_at + 4  # mdat body starts after size+fourcc


@pytest.mark.parametrize("mutant", [
    b"",
    b"\x00\x00\x00\x08free",                       # no ftyp
    b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00",   # ftyp only, no mvhd
])
def test_mp4_hostile(mutant):
    with pytest.raises(ImageError):
        mp4_info(mutant)


def test_mp4_bad_box_size():
    data = bytearray(build_mp4(3, 10, 100))
    moov_at = data.find(b"moov")
    data[moov_at - 4:moov_at] = struct.pack(">I", 1 << 30)  # size lies
    with pytest.raises(ImageError):
        mp4_info(bytes(data))


def test_mp4_zero_timescale():
    data = bytearray(build_mp4(3, 10, 100))
    mvhd_at = data.find(b"mvhd")
    # timescale field: mvhd body v0 at +4(hdr)+4(ver)+8(times)
    data[mvhd_at + 16:mvhd_at + 20] = b"\x00\x00\x00\x00"
    with pytest.raises(ImageError):
        mp4_info(bytes(data))


# --- Ogg --------------------------------------------------------------------

def test_ogg_roundtrip():
    data = build_ogg(n_pages=4, packets_per_page=3, packet_bytes=40,
                     serial=0x1234, samples_per_packet=1024, seed=3)
    info = ogg_info(data)
    assert info == {"n_pages": 4, "n_packets": 12, "n_streams": 1,
                    "last_granule": 4 * 3 * 1024}


def test_ogg_crc_is_verified():
    data = bytearray(build_ogg(2, 2, 30))
    # flip one payload byte on the second page -> its CRC must fail
    data[-1] ^= 0xFF
    with pytest.raises(ImageError):
        ogg_info(bytes(data))


def test_ogg_multi_stream_concat():
    a = build_ogg(2, 1, 10, serial=1)
    b = build_ogg(3, 2, 10, serial=2)
    info = ogg_info(a + b)
    assert info["n_streams"] == 2
    assert info["n_pages"] == 5
    assert info["n_packets"] == 2 + 6


@pytest.mark.parametrize("mutant", [
    b"",
    b"NotO",
    b"OggS\x01" + b"\x00" * 30,     # bad version
    b"OggS\x00" + b"\x00" * 10,     # truncated header
])
def test_ogg_hostile(mutant):
    with pytest.raises(ImageError):
        ogg_info(mutant)


def test_ogg_multi_lacing_large_packets():
    # a 700-byte packet laces as 255,255,190 — one termination, so it
    # still counts as ONE packet (the Vorbis/Opus layout)
    data = build_ogg(n_pages=2, packets_per_page=1, packet_bytes=700)
    info = ogg_info(data)
    assert info["n_packets"] == 2
    assert info["n_pages"] == 2
    # a 510-byte packet (255-multiple) must end with a 0 lacing value
    data = build_ogg(n_pages=1, packets_per_page=1, packet_bytes=510)
    assert ogg_info(data)["n_packets"] == 1


def test_ogg_cross_page_continuation():
    """A packet spanning pages: page 1 ends with lacing 255 (no
    termination), page 2 carries the continuation flag (0x01) and the
    terminating remainder — the packet counts ONCE, on page 2."""
    import struct as st

    from snacktory_spark.containers import _ogg_crc

    def page(htype, granule, seq, segs, body):
        hdr = (b"OggS\x00" + bytes([htype])
               + st.pack("<qIII", granule, 0x99, seq, 0)
               + bytes([len(segs)]) + bytes(segs))
        pg = bytearray(hdr + body)
        pg[22:26] = st.pack("<I", _ogg_crc(bytes(pg)))
        return bytes(pg)

    p1 = page(0x02, -1, 0, [255], b"\xaa" * 255)          # unterminated
    p2 = page(0x04 | 0x01, 1024, 1, [100], b"\xbb" * 100)  # continuation
    info = ogg_info(p1 + p2)
    assert info["n_packets"] == 1
    assert info["n_pages"] == 2
    assert info["last_granule"] == 1024    # granule -1 page ignored


# --- MP4 box-size edge paths ------------------------------------------------

def test_mp4_largesize_and_to_end_boxes():
    """64-bit largesize (size==1) and size==0 (to end of file) are real
    ISO-BMFF framings; rewrite the builder's mdat header both ways and
    the walk must report identical mdat bytes."""
    import struct as st
    base = build_mp4(4, 25, 160)
    want = mp4_info(base)["mdat_bytes"]
    mdat_at = base.find(b"mdat") - 4
    size = st.unpack(">I", base[mdat_at:mdat_at + 4])[0]
    head, body = base[:mdat_at], base[mdat_at + 8:]
    large = (head + st.pack(">I", 1) + b"mdat"
             + st.pack(">Q", size + 8) + body)
    assert mp4_info(large)["mdat_bytes"] == want
    to_end = head + st.pack(">I", 0) + b"mdat" + body
    assert mp4_info(to_end)["mdat_bytes"] == want


def test_mp4_multi_track():
    """The walk handles N traks (the builder emits one; splice two)."""
    from snacktory_spark.containers import _box
    a = build_mp4(3, 10, 100, handler=b"vide", codec=b"avc1")
    b = build_mp4(5, 10, 100, handler=b"soun", codec=b"mp4a")

    def boxes(d):
        out, pos = {}, 0
        import struct as st
        while pos < len(d):
            size = st.unpack(">I", d[pos:pos + 4])[0]
            out.setdefault(d[pos + 4:pos + 8], []).append(d[pos:pos + size])
            pos += size
        return out

    def trak_of(moov):
        # first trak box inside moov body
        body = moov[8:]
        import struct as st
        pos = 0
        while pos < len(body):
            size = st.unpack(">I", body[pos:pos + 4])[0]
            if body[pos + 4:pos + 8] == b"trak":
                return body[pos:pos + size]
            pos += size
        raise AssertionError("no trak")

    ba, bb = boxes(a), boxes(b)
    moov_a = ba[b"moov"][0]
    two_trak_moov = _box(b"moov", moov_a[8:] + trak_of(bb[b"moov"][0]))
    spliced = ba[b"ftyp"][0] + two_trak_moov + ba[b"mdat"][0]
    info = mp4_info(spliced)
    assert info["n_tracks"] == 2
    assert [t["handler"] for t in info["tracks"]] == ["vide", "soun"]
    assert [t["codec"] for t in info["tracks"]] == ["avc1", "mp4a"]
    assert [t["n_samples"] for t in info["tracks"]] == [3, 5]


# --- FLAC -------------------------------------------------------------------

def test_flac_roundtrip():
    data = build_flac(sample_rate=44100, channels=2, total_samples=88200,
                      bits_per_sample=16, frame_bytes=128)
    info = flac_info(data)
    assert info["sample_rate"] == 44100
    assert info["channels"] == 2
    assert info["bits_per_sample"] == 16
    assert info["total_samples"] == 88200
    assert info["duration_ms"] == 2000
    assert info["n_meta_blocks"] == 2       # STREAMINFO + VORBIS_COMMENT
    assert info["frame_bytes"] == 128


def test_flac_parameter_extremes():
    info = flac_info(build_flac(8000, 1, 1, bits_per_sample=4))
    assert (info["sample_rate"], info["channels"],
            info["bits_per_sample"]) == (8000, 1, 4)
    info = flac_info(build_flac(192000, 8, (1 << 36) - 1,
                                bits_per_sample=32))
    assert (info["channels"], info["bits_per_sample"]) == (8, 32)
    assert info["total_samples"] == (1 << 36) - 1


@pytest.mark.parametrize("mutant", [
    b"",
    b"fLaX" + b"\x00" * 40,
    b"fLaC",                                  # no blocks
    b"fLaC\x80\x00\x00\x10" + b"\x00" * 4,    # truncated body
    b"fLaC\x80\x00\x00\x22" + b"\x00" * 34,   # STREAMINFO, rate 0
])
def test_flac_hostile(mutant):
    with pytest.raises(ImageError):
        flac_info(mutant)


# --- fuzz -------------------------------------------------------------------

@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=300, deadline=None)
def test_containers_fuzz_never_leaks(data):
    for fn, magic in ((mp4_info, b"\x00\x00\x00\x14ftyp"),
                      (ogg_info, b"OggS"), (flac_info, b"fLaC")):
        for payload in (data, magic + data):
            try:
                fn(payload)
            except ImageError:
                pass


def test_fuzz_bitflip_of_valid():
    import random
    rng = random.Random(5)
    corpora = [(mp4_info, build_mp4(6, 30, 240)),
               (ogg_info, build_ogg(3, 2, 40)),
               (flac_info, build_flac(48000, 2, 4800))]
    for fn, valid in corpora:
        for _ in range(300):
            b = bytearray(valid)
            for _ in range(rng.randint(1, 4)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                fn(bytes(b))
            except ImageError:
                pass


# --- fragmented MP4 ---------------------------------------------------------

from snacktory_spark.containers import build_fmp4, build_webm, webm_info


def test_fmp4_roundtrip_trun_durations():
    """mvhd duration 0 + no mehd: the scanner must walk the moof/traf/
    trun fragments and sum per-sample durations."""
    data = build_fmp4(n_fragments=3, samples_per_frag=5, sample_dur=40)
    info = mp4_info(data)
    assert info["brand"] == "iso5"
    assert info["n_fragments"] == 3
    assert info["frag_samples"] == 15
    assert info["duration_ms"] == 3 * 5 * 40
    assert info["tracks"][0]["codec"] == "avc1"
    assert info["tracks"][0]["track_id"] == 1
    assert info["mdat_bytes"] == 3 * 5 * 16


def test_fmp4_media_timescale_conversion():
    """trun durations are in the track's MDHD media timescale, not the
    mvhd movie timescale (the r6 review finding: a real DASH video
    track runs at 90 kHz against a 1000-unit movie — dividing media
    units by the movie timescale reads 90x long)."""
    # 2 frags x 25 samples x 3600 units @ 90 kHz = 2 s
    data = build_fmp4(2, 25, 3600, timescale=1000,
                      media_timescale=90000)
    info = mp4_info(data)
    assert info["tracks"][0]["media_timescale"] == 90000
    assert info["duration_ms"] == 2000
    # declared-mehd variant converts to movie units and must agree
    data2 = build_fmp4(2, 25, 3600, timescale=1000,
                       media_timescale=90000, with_mehd=True)
    assert mp4_info(data2)["duration_ms"] == 2000


def _fmp4_boxes(d):
    out, pos = [], 0
    while pos < len(d):
        size = struct.unpack(">I", d[pos:pos + 4])[0]
        out.append((d[pos + 4:pos + 8], bytes(d[pos:pos + size])))
        pos += size
    return out


def test_fmp4_multi_track_durations_not_summed():
    """A muxed audio+video fMP4: movie duration = the LONGEST track's
    trun total converted with ITS media timescale, never the
    cross-track sum (the r6 review finding). Splice a second track
    (id 2, 48 kHz media timescale) and its fragments into one movie."""
    from snacktory_spark.containers import _box
    a = build_fmp4(2, 4, 40, timescale=1000)          # track 1: 320 ms
    b = build_fmp4(2, 24, 1024, timescale=1000,
                   media_timescale=48000)             # track 2: 1024 ms
    bb = bytearray(b)
    # retag track 2: tkhd track_id and every tfhd track_ID 1 -> 2
    tk = bb.find(b"tkhd")
    bb[tk + 4 + 12:tk + 4 + 16] = struct.pack(">I", 2)
    pos = 0
    while True:
        pos = bb.find(b"tfhd", pos + 1)
        if pos < 0:
            break
        bb[pos + 4 + 4:pos + 4 + 8] = struct.pack(">I", 2)
    A, B = _fmp4_boxes(a), _fmp4_boxes(bytes(bb))
    moov_a = next(r for f, r in A if f == b"moov")
    moov_b = next(r for f, r in B if f == b"moov")
    trak_b = next(r for f, r in _fmp4_boxes(moov_b[8:])
                  if f == b"trak")
    moov = _box(b"moov", moov_a[8:] + trak_b)
    out = next(r for f, r in A if f == b"ftyp") + moov
    out += b"".join(r for f, r in A if f in (b"moof", b"mdat"))
    out += b"".join(r for f, r in B if f in (b"moof", b"mdat"))
    info = mp4_info(out)
    assert info["n_tracks"] == 2
    assert [t["track_id"] for t in info["tracks"]] == [1, 2]
    assert [t["media_timescale"] for t in info["tracks"]] == \
        [1000, 48000]
    assert info["n_fragments"] == 4
    # longest track wins (track 2: 2*24*1024/48000 s = 1024 ms), and
    # NOT 320 + 1024
    assert info["duration_ms"] == 1024


def test_fmp4_traf_without_tfhd_uses_trex_not_stale_default():
    """A traf with no tfhd must fall back to the trex default sample
    duration — not inherit the previous fragment's tfhd default (the
    stale-state analog of the short-body reads; r6 review finding)."""
    from snacktory_spark.containers import _box
    base = bytearray(build_fmp4(1, 4, 40))
    trex_at = base.find(b"trex")
    base[trex_at + 16:trex_at + 20] = struct.pack(">I", 7)
    moof_at = base.find(b"moof") - 4
    head = bytes(base[:moof_at])
    trun = b"\x00\x00\x00\x00" + struct.pack(">I", 4)  # no per-sample
    # frag A: tfhd DECLARES default_sample_duration 5 (flag 0x8)
    tfhd_a = (b"\x00" + (0x8).to_bytes(3, "big")
              + struct.pack(">II", 1, 5))
    moof_a = _box(b"moof", _box(b"mfhd", b"\x00" * 4
                                + struct.pack(">I", 1))
                  + _box(b"traf", _box(b"tfhd", tfhd_a)
                         + _box(b"trun", trun)))
    # frag B: NO tfhd at all — must use trex's 7, not frag A's 5
    moof_b = _box(b"moof", _box(b"mfhd", b"\x00" * 4
                                + struct.pack(">I", 2))
                  + _box(b"traf", _box(b"trun", trun)))
    info = mp4_info(head + moof_a + moof_b)
    assert info["n_fragments"] == 2
    assert info["frag_samples"] == 8
    # track 1 (frag A): 4x5 = 20 ms; the tfhd-less traf buckets
    # separately at 4x7 = 28 ms; stale inheritance would read 4x5
    # there and report 20
    assert info["duration_ms"] == 28


def test_fmp4_mehd_declared_duration():
    """With mehd the declared fragment_duration wins (and must agree
    with the walked value for a consistent file)."""
    a = build_fmp4(2, 4, 40, with_mehd=True)
    b = build_fmp4(2, 4, 40, with_mehd=False)
    assert mp4_info(a)["duration_ms"] == mp4_info(b)["duration_ms"] == 320


def test_fmp4_trex_default_duration():
    """trun without per-sample durations falls back to the trex default:
    strip the per-sample fields and set trex default_sample_duration."""
    data = bytearray(build_fmp4(1, 4, 40))
    # set trex default_sample_duration (=0 in builder) to 25
    trex_at = data.find(b"trex")
    data[trex_at + 16:trex_at + 20] = struct.pack(">I", 25)
    # rewrite the trun: clear flags 0x300, drop the 4*8 sample bytes
    trun_at = data.find(b"trun")
    trun_size = struct.unpack(">I", data[trun_at - 4:trun_at])[0]
    new_trun = (struct.pack(">I", 16) + b"trun"
                + b"\x00\x00\x00\x00" + struct.pack(">I", 4))
    shrink = trun_size - 16
    # fix enclosing traf and moof sizes
    traf_at = data.find(b"traf")
    moof_at = data.find(b"moof")
    for at in (traf_at, moof_at):
        sz = struct.unpack(">I", data[at - 4:at])[0]
        data[at - 4:at] = struct.pack(">I", sz - shrink)
    data[trun_at - 4:trun_at - 4 + trun_size] = new_trun
    info = mp4_info(bytes(data))
    assert info["frag_samples"] == 4
    assert info["duration_ms"] == 4 * 25
    assert info["n_fragments"] == 1


def test_fmp4_hostile_short_trun():
    """A trun declaring more samples than its body holds must raise,
    not read into the next box."""
    data = bytearray(build_fmp4(1, 4, 40))
    trun_at = data.find(b"trun")
    data[trun_at + 8:trun_at + 12] = struct.pack(">I", 1 << 20)
    with pytest.raises(ImageError):
        mp4_info(bytes(data))


def test_mp4_short_box_bodies_raise():
    """ADVICE r5: short box bodies must raise ImageError, never parse
    the following sibling's bytes (mvhd/hdlr/stsd/stsz/mehd/trex)."""
    from snacktory_spark.containers import _box
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00")
    for fourcc, body in ((b"mvhd", b"\x00" * 8), (b"mvhd", b"\x01"),
                         (b"mehd", b""), (b"trex", b"\x00" * 8)):
        with pytest.raises(ImageError):
            mp4_info(ftyp + _box(b"moov", _box(fourcc, body)))
    mvhd = (b"\x00\x00\x00\x00" + b"\x00" * 8
            + struct.pack(">II", 1000, 1000) + b"\x00" * 80)
    for fourcc, body in ((b"hdlr", b"\x00" * 4), (b"stsd", b"\x00" * 2),
                         (b"stsd", b"\x00\x00\x00\x00\x00\x00\x00\x01"),
                         (b"stsz", b"\x00" * 4)):
        with pytest.raises(ImageError):
            mp4_info(ftyp + _box(b"moov", _box(b"mvhd", mvhd)
                                 + _box(b"trak", _box(fourcc, body))))


# --- WebM / Matroska --------------------------------------------------------

def test_webm_roundtrip():
    data = build_webm(n_clusters=3, blocks_per_cluster=2,
                      duration_ms=1500, codec=b"V_VP9", seed=4)
    info = webm_info(data)
    assert info["doctype"] == "webm"
    assert info["duration_ms"] == 1500
    assert info["n_tracks"] == 1
    assert info["tracks"][0] == {"type": 1, "codec": "V_VP9"}
    assert info["n_clusters"] == 3
    assert info["n_blocks"] == 6


def test_webm_unknown_segment_size():
    """The live-streaming layout: Segment size is the all-ones unknown
    marker and children bound it — must parse identically."""
    a = build_webm(2, 3, 900, unknown_segment_size=False)
    b = build_webm(2, 3, 900, unknown_segment_size=True)
    assert webm_info(a) == webm_info(b)


def test_webm_unknown_cluster_sizes():
    """Live muxers write EVERY Cluster with the unknown-size marker
    (each cluster ends where the next begins). The r6 review finding:
    without an explicit sibling-Cluster bound, each cluster nests
    inside the previous one and the depth cap silently drops
    everything past cluster ~8 — so use well past 8 clusters and
    require exact counts, identical to the sized layout."""
    sized = build_webm(12, 3, 6000, unknown_segment_size=True)
    live = build_webm(12, 3, 6000, unknown_segment_size=True,
                      unknown_cluster_sizes=True)
    want = webm_info(sized)
    assert want["n_clusters"] == 12 and want["n_blocks"] == 36
    assert webm_info(live) == want


def test_webm_timestamp_scale_applied():
    """Duration is in TimestampScale units: rewrite the scale to 2ms
    and the reported ms must double."""
    data = bytearray(build_webm(1, 1, 1000))
    at = data.find((0x2AD7B1).to_bytes(3, "big"))
    # body = 3 bytes uint 1_000_000 (0x0F4240); double it
    body_at = at + 3 + 1          # id + 1-byte size vint
    assert data[body_at:body_at + 3] == (1_000_000).to_bytes(3, "big")
    data[body_at:body_at + 3] = (2_000_000).to_bytes(3, "big")
    assert webm_info(bytes(data))["duration_ms"] == 2000


def test_webm_audio_track_codec():
    info = webm_info(build_webm(1, 1, 100, codec=b"A_OPUS",
                                track_type=2))
    assert info["tracks"][0] == {"type": 2, "codec": "A_OPUS"}


@pytest.mark.parametrize("mutant", [
    b"",
    b"\x1aE\xdf",                              # truncated EBML id
    b"\x18\x53\x80\x67\x81\x00",               # Segment first, no header
    b"\x1aE\xdf\xa3\x84\x00\x00\x00\x00",      # header, no DocType
])
def test_webm_hostile(mutant):
    with pytest.raises(ImageError):
        webm_info(mutant)


def test_webm_hostile_bad_sizes():
    data = bytearray(build_webm(1, 1, 100))
    # corrupt the Tracks element size to overflow its parent
    at = data.find((0x1654AE6B).to_bytes(4, "big"))
    data[at + 4] = 0xFE           # huge 1-byte size (126)
    with pytest.raises(ImageError):
        webm_info(bytes(data))
    with pytest.raises(ImageError):
        webm_info(b"\x1aE\xdf\xa3\x00junk")    # zero size lead byte


def test_webm_ebml_vint_edges():
    from snacktory_spark.containers import (_ebml_read_id,
                                            _ebml_read_size)
    # 2-byte id keeps its marker; 2-byte size strips it
    eid, p = _ebml_read_id(b"\x42\x82", 0, 2)
    assert (eid, p) == (0x4282, 2)
    val, p = _ebml_read_size(b"\x42\x82", 0, 2)
    assert (val, p) == (0x282, 2)
    # all-ones size = unknown
    val, _p = _ebml_read_size(b"\xFF", 0, 1)
    assert val is None
    # 8-byte size
    val, _p = _ebml_read_size(b"\x01" + b"\x00" * 6 + b"\x05", 0, 8)
    assert val == 5


def test_new_container_fuzz_never_leaks():
    import random
    rng = random.Random(9)
    corpora = [(mp4_info, build_fmp4(2, 3, 40, with_mehd=True)),
               (webm_info, build_webm(2, 2, 700))]
    for fn, valid in corpora:
        for _ in range(400):
            b = bytearray(valid)
            for _ in range(rng.randint(1, 4)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                fn(bytes(b))
            except ImageError:
                pass


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=300, deadline=None)
def test_webm_random_fuzz(data):
    for payload in (data, b"\x1aE\xdf\xa3" + data):
        try:
            webm_info(payload)
        except ImageError:
            pass


def test_fmp4_per_track_trex_defaults():
    """One trex PER track_ID (ISO 14496-12 §8.8.3): a traf lacking a
    tfhd default_sample_duration must resolve against ITS track's trex
    default, not whichever trex was parsed last (ADVICE r6). Track 1's
    trex declares 100 units, track 2's 10; last-trex-wins would give
    track 1 a 4x10=40 ms duration instead of 4x100=400 ms."""
    from snacktory_spark.containers import _box
    a = build_fmp4(1, 4, 40, timescale=1000)
    A = _fmp4_boxes(a)
    moov_parts = _fmp4_boxes(next(r for f, r in A if f == b"moov")[8:])
    mvhd = next(r for f, r in moov_parts if f == b"mvhd")
    trak1 = next(r for f, r in moov_parts if f == b"trak")
    trak2 = bytearray(trak1)
    tk = trak2.find(b"tkhd")
    trak2[tk + 4 + 12:tk + 4 + 16] = struct.pack(">I", 2)
    trex1 = _box(b"trex", b"\x00" * 4
                 + struct.pack(">IIIII", 1, 1, 100, 0, 0))
    trex2 = _box(b"trex", b"\x00" * 4
                 + struct.pack(">IIIII", 2, 1, 10, 0, 0))
    moov = _box(b"moov", mvhd + trak1 + bytes(trak2)
                + _box(b"mvex", trex1 + trex2))
    trun = b"\x00\x00\x00\x00" + struct.pack(">I", 4)  # no per-sample
    moofs = b""
    for seq, track in ((1, 1), (2, 2)):
        tfhd = b"\x00\x00\x00\x00" + struct.pack(">I", track)
        moofs += _box(b"moof", _box(b"mfhd", b"\x00" * 4
                                    + struct.pack(">I", seq))
                      + _box(b"traf", _box(b"tfhd", tfhd)
                             + _box(b"trun", trun)))
    info = mp4_info(next(r for f, r in A if f == b"ftyp") + moov + moofs)
    assert info["n_tracks"] == 2 and info["n_fragments"] == 2
    # track 1: 4x100 = 400 ms; track 2: 4x10 = 40 ms; longest wins.
    # The last-trex-wins bug resolves BOTH against track 2's 10 -> 40.
    assert info["duration_ms"] == 400


# --- IVF + VP9 uncompressed frame header (r7) -------------------------------

from snacktory_spark.containers import build_ivf, ivf_info, vp9_frame_header


def test_ivf_walk_and_vp9_keyframe_audit():
    d = build_ivf(10, 320, 180, fps=30, keyframe_interval=4, seed=3)
    info = ivf_info(d)
    assert (info["fourcc"], info["width"], info["height"]) \
        == ("VP90", 320, 180)
    assert info["n_frames"] == info["n_frames_declared"] == 10
    assert info["keyframes"] == 3          # frames 0, 4, 8
    assert info["shown_frames"] == 10
    assert info["duration_ms"] == 10 * 1000 // 30
    # truncated final frame: walked past, not an error
    assert ivf_info(d[:-20])["n_frames"] == 9


def test_vp9_frame_header_fields():
    d = build_ivf(2, 64, 48, keyframe_interval=1, seed=1)
    import struct
    size = struct.unpack_from("<I", d, 32)[0]
    fh = vp9_frame_header(d[44:44 + size])
    assert fh["keyframe"] and fh["show_frame"]
    assert (fh["width"], fh["height"]) == (64, 48)
    assert fh["profile"] == 0
    # inter frames parse through error_resilient and stop
    d2 = build_ivf(2, 64, 48, keyframe_interval=2, seed=1)
    s0 = struct.unpack_from("<I", d2, 32)[0]
    fh2 = vp9_frame_header(d2[44 + s0 + 12:])
    assert not fh2["keyframe"] and fh2["show_frame"]


def test_ivf_hostile():
    with pytest.raises(ImageError):
        ivf_info(b"DKIF")                           # truncated header
    with pytest.raises(ImageError):
        ivf_info(b"XXXX" + b"\x00" * 40)            # wrong magic
    d = bytearray(build_ivf(4, 64, 48, keyframe_interval=2))
    d[4] = 9                                        # bad version
    with pytest.raises(ImageError):
        ivf_info(bytes(d))
    d2 = bytearray(build_ivf(4, 64, 48, keyframe_interval=2))
    d2[44] = 0x00                                   # break frame marker
    with pytest.raises(ImageError):
        ivf_info(bytes(d2))
    d3 = bytearray(build_ivf(4, 64, 48, keyframe_interval=1))
    d3[45] ^= 0xFF                                  # corrupt sync code
    with pytest.raises(ImageError):
        ivf_info(bytes(d3))
    # keyframe coded size must agree with the container header
    d4 = bytearray(build_ivf(2, 64, 48, keyframe_interval=1))
    d4[12] = 65                                     # widen header width
    with pytest.raises(ImageError):
        ivf_info(bytes(d4))


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=200, deadline=None)
def test_ivf_fuzz_never_leaks(data):
    try:
        ivf_info(data)
    except ImageError:
        pass
