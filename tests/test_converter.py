"""Port of ConverterTest.java:31-84 — charset detection on the reference's
own fixture pages, plus the byte-cap title test."""

import pytest

from snacktory_spark.converter import MAX_BYTES, bytes_to_string, resolve_encoding

RES = "/root/reference/src/test/resources/de/jetwick/snacktory/"


def _raw(name: str) -> bytes:
    with open(RES + name, "rb") as f:
        return f.read()


@pytest.mark.parametrize("fixture,expected", [
    ("faz.html", "utf-8"),
    ("yomiuri.html", "shift_jis"),
    ("yomiuri2.html", "shift_jis"),
    ("spiegel.html", "iso-8859-1"),
    ("itunes.html", "utf-8"),
    ("twitter.html", "utf-8"),
    # youtube does not specify the encoding AND assumes utf-8 !?
    ("youtube.html", "utf-8"),
    ("nyt.html", "utf-8"),
    ("badenc.html", "utf-8"),
    ("br-online.html", "iso-8859-15"),
])
def test_determine_encoding(fixture, expected):
    """ConverterTest.testDetermineEncoding (:31-72)."""
    assert resolve_encoding(_raw(fixture)) == expected


def test_max_bytes_exceeding_but_title_nevertheless():
    """ConverterTest.testMaxBytesExceedingButGetTitleNevertheless (:74-82)."""
    from snacktory_spark.dom import parse

    data = _raw("faz.html")
    assert resolve_encoding(data) == "utf-8"
    # streamToString with maxBytes=10000 decodes only the first 10000 bytes
    s = bytes_to_string(data[:10000])
    title = parse(s).select("title").text()
    assert title == ("Im Gespräch: Umweltaktivist Stewart Brand: Ihr Deutschen "
                     "steht allein da - Atomdebatte - FAZ.NET")


def test_decode_respects_detected_charset():
    """Decoded text round-trips the declared charset (shift_jis body)."""
    s = bytes_to_string(_raw("yomiuri.html"))
    assert "読売新聞" in s  # the paper's name, only correct under shift_jis


def test_max_bytes_cap():
    data = b'<html><head><meta charset="utf-8"></head><body>' + b"x" * MAX_BYTES
    assert len(bytes_to_string(data)) <= MAX_BYTES
