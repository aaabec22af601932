"""Full-repertoire hostile-input campaign over every binary parser.

The media/archive modules share one contract (CLAUDE.md): public
decoders raise ImageError ONLY (never ValueError/IndexError/
struct.error/MemoryError/...), and size caps fire BEFORE large
allocations. The per-module test files assert the contract on targeted
mutants; this script is the committed, reproducible version of the
round-5 ad-hoc campaign: every parser family x every mutation class,
with a leak = any non-ImageError exception, or growth of the process
peak-RSS high-water mark past RSS_BUDGET (checked after every decode
via getrusage ru_maxrss — catches a cap that fires only AFTER a huge
allocation).

Mutation classes per family seed:
  random      pure random blobs
  magic       family magic + random tail
  bitflip     1-8 random bitflips of a valid file
  truncate    valid file cut at a random offset
  splice      head of one family's valid file + tail of another's

Usage: python scripts/hostile_campaign.py [n_per_class]  (default 500)
Prints a per-family table and exits nonzero on any leak.
"""

from __future__ import annotations

import os
import random
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from snacktory_spark.imaging import ImageError  # noqa: E402


def families():
    """(name, parse_fn, valid_seed_bytes, magic_prefix) per family."""
    from snacktory_spark import av, containers, imaging, jpeg, mpeg, pdf, warc
    from snacktory_spark.gif import decode_gif, encode_gif
    import numpy as np

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=16 * 16 * 3, dtype=np.uint8).tobytes()
    gray = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)

    fams = []

    def add(name, fn, seed, magic):
        fams.append((name, fn, bytes(seed), bytes(magic)))

    add("png", imaging.sniff_decode, imaging.encode_png(px, 16, 16),
        b"\x89PNG\r\n\x1a\n")
    add("bmp", imaging.sniff_decode, imaging.encode_bmp24(px, 16, 16),
        b"BM")
    add("ppm", imaging.sniff_decode, imaging.encode_ppm(px, 16, 16),
        b"P6")
    add("jpeg", jpeg.decode_jpeg, jpeg.encode_jpeg(px, 16, 16, 3),
        b"\xff\xd8\xff")
    add("gif", decode_gif, encode_gif(px, 16, 16), b"GIF89a")
    add("pdf", pdf.extract_pdf_text,
        pdf.make_simple_pdf("hostile campaign page"), b"%PDF-")
    add("wav", av.decode_wav,
        av.encode_wav(np.zeros((256, 1), dtype=np.int16), 8000), b"RIFF")
    add("y4m", av.video_features, av.encode_y4m([gray, gray], fps=10),
        b"YUV4MPEG2")
    add("h264", av.h264_annexb_info,
        av.build_h264_annexb(2, 4, 100, 41, seed=1), b"\x00\x00\x00\x01")
    # I_PCM codec seed (r7): mutations land on the NAL/SPS/PPS/slice
    # parse, exp-Golomb fields, emulation-prevention strip, MB walk
    from snacktory_spark import h264
    add("h264_ipcm", h264.decode_h264_ipcm,
        h264.encode_h264_ipcm(
            [(np.arange(256, dtype=np.uint8).reshape(16, 16)
              + k).astype(np.uint8) for k in range(2)]),
        b"\x00\x00\x00\x01")
    add("mpeg_scan", mpeg.mpeg_audio_info,
        mpeg.encode_layer2(np.zeros((2304, 1)), 32000), b"\xff\xfd")
    add("mpeg_decode",
        lambda d: mpeg.decode_mpeg(d, allow_nonconformant=True),
        mpeg.encode_layer1(np.zeros((1152, 1)), 32000), b"\xff\xff")
    # Layer III seed (r7): mutations land on the reservoir reassembly,
    # side-info fields, Huffman walk and count1 delimiting
    add("mpeg_l3_decode",
        lambda d: mpeg.decode_mpeg(d, allow_nonconformant=True),
        mpeg.encode_layer3(
            0.3 * np.sin(2 * np.pi * 500 * np.arange(4000) / 32000.0),
            32000, 128), b"\xff\xfb")
    add("adts", mpeg.aac_adts_info,
        mpeg.build_adts_stream(4, 64, 48000, 2, 1, seed=2), b"\xff\xf1")
    # AAC codec seed (r7): mutations land on the raw_data_block walk,
    # section/scalefactor parse, escape sequences and sign bits
    add("aac_decode",
        lambda d: mpeg.decode_aac_adts(d, allow_nonconformant=True),
        mpeg.encode_aac_adts(
            0.3 * np.sin(2 * np.pi * 800 * np.arange(3000) / 48000.0),
            48000), b"\xff\xf1")
    add("mp4", containers.mp4_info,
        containers.build_mp4(5, 20, 500, seed=3), b"\x00\x00\x00\x14ftyp")
    add("fmp4", containers.mp4_info,
        containers.build_fmp4(2, 4, 40, with_mehd=True, seed=4),
        b"\x00\x00\x00\x14ftyp")
    add("ogg", containers.ogg_info,
        containers.build_ogg(3, 2, 40, seed=5), b"OggS")
    add("flac", containers.flac_info,
        containers.build_flac(44100, 2, 44100, seed=6), b"fLaC")
    add("webm", containers.webm_info,
        containers.build_webm(3, 2, 900, seed=7), b"\x1aE\xdf\xa3")
    add("ivf_vp9", containers.ivf_info,
        containers.build_ivf(6, 160, 90, keyframe_interval=2, seed=8),
        b"DKIF")
    # VP9-raw codec seed (r7): mutations land on the bool decoder,
    # marker guard, zero-run flags and literal walk
    from snacktory_spark import vp9 as vp9mod
    add("vp9_raw", vp9mod.decode_vp9_raw,
        vp9mod.encode_vp9_raw(
            [((np.arange(192, dtype=np.uint8).reshape(12, 16) * 3 + k)
              % 251).astype(np.uint8) for k in range(2)],
            keyframe_interval=2), b"DKIF")
    from snacktory_spark import archives
    add("zip", archives.zip_info,
        archives.build_zip([("a.txt", b"x" * 40), ("b", b"y" * 9)]),
        b"PK\x03\x04")
    add("tar", archives.tar_info,
        archives.build_tar([("d/", None), ("d/a", b"z" * 30)]), b"")
    add("warc", warc.warc_info,
        warc.write_warc([("http://x.test/1", b"<html>a</html>")],
                        gzip_members=True), b"\x1f\x8b")
    add("cdx", warc.build_cdx,
        warc.write_warc([("http://x.test/1", b"<html>a</html>")],
                        gzip_members=True), b"\x1f\x8b")
    return fams


RSS_BUDGET = 5 * 1024 * 1024 * 1024      # 5 GB above the baseline


def _peak_rss() -> int:
    import resource
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024


def main():
    n_per = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    fams = families()
    rng = random.Random(99)
    leaks = []
    total = 0
    rss_base = _peak_rss()
    print(f"{'family':<12} {'decodes':>8} {'errors':>8} {'ok':>6}")
    for name, fn, valid, magic in fams:
        n_err = n_ok = 0
        others = [v for nm, _f, v, _m in fams if nm != name]

        def mutants():
            for _ in range(n_per):          # random
                yield rng.randbytes(rng.randrange(1, 600))
            for _ in range(n_per):          # magic + random tail
                yield magic + rng.randbytes(rng.randrange(0, 600))
            for _ in range(n_per):          # bitflip of valid
                b = bytearray(valid)
                for _ in range(rng.randint(1, 8)):
                    b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                yield bytes(b)
            for _ in range(n_per):          # truncate
                yield valid[:rng.randrange(len(valid))]
            for _ in range(n_per):          # cross-format splice
                other = rng.choice(others)
                cut = rng.randrange(1, len(valid))
                yield valid[:cut] + other[rng.randrange(len(other)):]

        for payload in mutants():
            total += 1
            try:
                fn(payload)
                n_ok += 1
            except ImageError:
                n_err += 1
            except Exception:
                leaks.append((name, traceback.format_exc(limit=3)))
                if len(leaks) > 5:
                    break
            if _peak_rss() - rss_base > RSS_BUDGET:
                leaks.append((name, "peak-RSS budget exceeded: "
                              f"{(_peak_rss() - rss_base) / 1e9:.1f} GB "
                              "above baseline (a size cap fired AFTER "
                              "a huge allocation)"))
                break
        print(f"{name:<12} {5 * n_per:>8} {n_err:>8} {n_ok:>6}")
    print(f"\ntotal decodes: {total}, leaks: {len(leaks)}, "
          f"peak-RSS delta: {(_peak_rss() - rss_base) / 1e6:.0f} MB")
    for name, tb in leaks[:5]:
        print(f"\nLEAK in {name}:\n{tb}")
    sys.exit(1 if leaks else 0)


if __name__ == "__main__":
    main()
