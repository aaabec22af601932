"""ZIP/TAR archive scanner tests: build→info round-trips, stdlib
cross-validation both directions, hostile input, fuzz.
See snacktory_spark/archives.py."""
import io
import struct
import tarfile
import zipfile

import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.archives import (build_tar, build_zip, tar_info,
                                      zip_info)
from snacktory_spark.imaging import ImageError


# --- ZIP --------------------------------------------------------------------

def test_zip_roundtrip_stored():
    z = build_zip([("a.txt", b"hello world"),
                   ("sub/b.bin", bytes(range(64)))])
    info = zip_info(z)
    assert info == {"n_entries": 2, "compressed_bytes": 75,
                    "uncompressed_bytes": 75, "max_entry_bytes": 64,
                    "n_stored": 2, "n_deflate": 0, "n_other": 0,
                    "stored_crc_ok": True}


def test_zip_roundtrip_deflate():
    z = build_zip([("c.txt", b"compress me " * 50)], deflate=True)
    info = zip_info(z)
    assert info["n_entries"] == 1 and info["n_deflate"] == 1
    assert info["uncompressed_bytes"] == 600
    assert info["compressed_bytes"] < 60


def test_zip_cross_validates_with_stdlib():
    """Independent referee: stdlib zipfile reads our archives with
    byte-exact payloads, and our scanner inventories stdlib output."""
    ours = build_zip([("x.py", b"print('hi')\n"), ("y", b"")],
                     deflate=True)
    zf = zipfile.ZipFile(io.BytesIO(ours))
    assert zf.namelist() == ["x.py", "y"]
    assert zf.read("x.py") == b"print('hi')\n"
    assert zf.testzip() is None                    # stdlib CRC check
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as out:
        out.writestr("a/b.txt", "payload one")
        out.writestr("c.bin", bytes(200))
    info = zip_info(buf.getvalue())
    assert info["n_entries"] == 2 and info["n_stored"] == 2
    assert info["uncompressed_bytes"] == 11 + 200
    assert info["stored_crc_ok"] is True


def test_zip_stored_crc_detects_corruption():
    z = bytearray(build_zip([("a.txt", b"hello world payload")]))
    body_at = z.find(b"hello world")
    z[body_at] ^= 0xFF
    assert zip_info(bytes(z))["stored_crc_ok"] is False


@pytest.mark.parametrize("mutant", [
    b"",
    b"PK\x03\x04" + b"\x00" * 10,                 # local sig, no EOCD
    b"NOPE" + b"\x00" * 30,
    b"PK\x05\x06" + b"\x00" * 10,                 # truncated EOCD
])
def test_zip_hostile(mutant):
    with pytest.raises(ImageError):
        zip_info(mutant)


def test_zip_hostile_cd_out_of_range():
    z = bytearray(build_zip([("a", b"x")]))
    eocd = z.rfind(b"PK\x05\x06")
    z[eocd + 16:eocd + 20] = struct.pack("<I", 1 << 30)  # cd offset lies
    with pytest.raises(ImageError):
        zip_info(bytes(z))


def test_zip64_markers_rejected():
    z = bytearray(build_zip([("a", b"x")]))
    eocd = z.rfind(b"PK\x05\x06")
    z[eocd + 10:eocd + 12] = b"\xFF\xFF"          # entry count 0xFFFF
    with pytest.raises(ImageError):
        zip_info(bytes(z))


# --- TAR --------------------------------------------------------------------

def test_tar_roundtrip():
    t = build_tar([("dir/", None), ("dir/a.txt", b"hello"),
                   ("b.bin", bytes(700))])
    info = tar_info(t)
    assert info == {"n_entries": 3, "n_files": 2, "n_dirs": 1,
                    "total_file_bytes": 705}


def test_tar_cross_validates_with_stdlib():
    ours = build_tar([("d/", None), ("d/f.txt", b"content here")])
    tf = tarfile.open(fileobj=io.BytesIO(ours))
    assert tf.getnames() == ["d", "d/f.txt"]
    assert tf.extractfile("d/f.txt").read() == b"content here"
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as out:
        ti = tarfile.TarInfo("z.txt")
        ti.size = 3
        out.addfile(ti, io.BytesIO(b"abc"))
    info = tar_info(buf.getvalue())
    assert info["n_entries"] == 1 and info["total_file_bytes"] == 3


def test_tar_checksum_is_verified():
    t = bytearray(build_tar([("a.txt", b"hello")]))
    t[0] ^= 0xFF                                   # corrupt the name
    with pytest.raises(ImageError):
        tar_info(bytes(t))


@pytest.mark.parametrize("mutant", [
    b"",
    b"\x00" * 1024,                               # terminator only
    b"x" * 100,                                   # not block-aligned
    b"x" * 512,                                   # garbage checksum
])
def test_tar_hostile(mutant):
    with pytest.raises(ImageError):
        tar_info(mutant)


def test_tar_size_lies_past_buffer():
    t = bytearray(build_tar([("a.txt", b"hello")]))
    t[124:136] = b"77777777777\x00"               # size field lies
    # checksum must be recomputed for the walk to reach the size check
    t[148:156] = b" " * 8
    ck = sum(t[:512])
    t[148:156] = (b"%06o" % ck) + b"\x00 "
    with pytest.raises(ImageError):
        tar_info(bytes(t))


# --- fuzz -------------------------------------------------------------------

@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=300, deadline=None)
def test_archives_fuzz_never_leaks(data):
    for fn, magic in ((zip_info, b"PK\x03\x04"), (zip_info, b"PK\x05\x06"),
                      (tar_info, b"")):
        for payload in (data, magic + data):
            try:
                fn(payload)
            except ImageError:
                pass


def test_archives_bitflip_fuzz():
    import random
    rng = random.Random(17)
    corpora = [(zip_info, build_zip([("a.txt", b"x" * 40),
                                     ("b", b"y" * 9)])),
               (tar_info, build_tar([("d/", None), ("d/a", b"z" * 30)]))]
    for fn, valid in corpora:
        for _ in range(400):
            b = bytearray(valid)
            for _ in range(rng.randint(1, 4)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                fn(bytes(b))
            except ImageError:
                pass


def test_zip_comment_containing_eocd_signature():
    """The trailing comment may contain the EOCD magic bytes; the
    backward scan must validate each candidate (comment reaches EOF,
    central directory at cd_off) instead of trusting the last match
    (ADVICE r6)."""
    import struct
    z = build_zip([("a.txt", b"hello world"),
                   ("sub/b.bin", bytes(range(64)))])
    comment = b"see PK\x05\x06 marker and PK\x05\x06 again inside"
    withc = z[:-2] + struct.pack("<H", len(comment)) + comment
    info = zip_info(withc)
    assert info["n_entries"] == 2 and info["stored_crc_ok"]
