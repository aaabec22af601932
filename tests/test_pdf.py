"""PDF layout-parse tests: writer/extractor round-trip, operator coverage,
hostile input, and the distributed binary-column path."""

import zlib

import pytest
from hypothesis import given, settings, strategies as st

from snacktory_spark.pdf import extract_pdf_text, make_simple_pdf


@pytest.mark.parametrize("text", [
    "Hello world",
    "Parens (nested (deep)) and \\ backslash",
    "Multi\nline\ttext with\rweird\fchars",
    "unicode: café 海津市 Ω ✓",
    "",
    "x" * 5000,
])
@pytest.mark.parametrize("split_tj", [False, True])
def test_roundtrip_exact(text, split_tj):
    r = extract_pdf_text(make_simple_pdf(text, split_tj=split_tj))
    assert r["ok"] and r["n_pages"] == 1
    assert r["text"] == text


def test_not_a_pdf():
    r = extract_pdf_text(b"plain bytes")
    assert not r["ok"] and r["n_pages"] == 0 and r["text"] == ""


def test_truncated_pdf_never_raises():
    full = make_simple_pdf("some body text here")
    for cut in range(0, len(full), 37):
        r = extract_pdf_text(full[:cut])
        assert isinstance(r["text"], str) and isinstance(r["ok"], bool)


def test_uncompressed_stream_and_octal_escapes():
    content = rb"BT (A\051B\134C) Tj ET"  # \051=')' \134='\'
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
           b"2 0 obj\n<< /Length " + str(len(content)).encode() +
           b" >>\nstream\n" + content + b"\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)
    assert r["ok"] and r["text"] == "A)B\\C" and r["n_pages"] == 1


def test_unsupported_filter_skipped():
    body = zlib.compress(b"BT (hidden) Tj ET")
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Filter /DCTDecode /Length 3 >>\nstream\n\xff\xd8\xff\nendstream\nendobj\n"
           b"2 0 obj\n<< /Filter /FlateDecode /Length " + str(len(body)).encode() +
           b" >>\nstream\n" + body + b"\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)
    assert r["ok"] and r["text"] == "hidden"


def test_line_operators():
    content = b"BT (line1) Tj 0 -14 Td (line2) Tj T* (line3) Tj (line4) ' ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(content)).encode() +
           b" >>\nstream\n" + content + b"\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)
    assert r["text"] == "line1\nline2\nline3\nline4"


def test_multi_page_count():
    one = make_simple_pdf("x")
    # crude two-page doc: duplicate the page object markers
    two = one + b"\n9 0 obj\n<< /Type /Page >>\nendobj\n"
    assert extract_pdf_text(two)["n_pages"] == 2


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_roundtrip_property(text):
    try:
        pdf = make_simple_pdf(text, split_tj=len(text) % 2 == 0)
    except UnicodeEncodeError:
        return  # lone surrogates are not encodable text
    r = extract_pdf_text(pdf)
    assert r["ok"] and r["text"] == text


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_extract_never_raises_on_junk(data):
    r = extract_pdf_text(b"%PDF-" + data)
    assert isinstance(r["text"], str)
    assert isinstance(r["ok"], bool)


def test_indirect_length_reference_falls_back():
    """'/Length N 0 R' (indirect ref) must NOT be misread as a direct
    length via regex backtracking (review finding): the extractor falls
    back to the endstream scan and still recovers the text."""
    content = zlib.compress(b"BT (hello world) Tj ET")
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length 100 0 R /Filter /FlateDecode >>"
           b"\nstream\n" + content + b"\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)
    assert r["ok"] and r["text"] == "hello world"


def test_embedded_endobj_bytes_in_stream_are_harmless():
    """Compressed bytes containing 'endobj'/'endstream'/'stream' keywords
    must not truncate the stream (review finding): /Length is sliced from
    absolute offsets."""
    raw = b"BT (first) Tj ET x" + b"endobj" + b"stream\n" + b"endstream" \
          + b" BT ( second) Tj ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(raw)).encode() +
           b" >>\nstream\n" + raw + b"\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)
    assert r["text"] == "first second"


def test_long_stream_dict_keeps_filter():
    """A stream dict longer than 2KB (e.g. huge /Metadata blobs between
    'obj' and 'stream') must still surface /Filter and /Length: the old
    2048-byte backscan cap dropped them, scanning flate bytes as raw text
    operators and emitting garbage with ok=true (ADVICE r2)."""
    content = zlib.compress(b"BT (long dict survives) Tj ET")
    padding = b"/Pad (" + b"x" * 4096 + b") "
    pdf = (b"%PDF-1.4\n1 0 obj\n<< " + padding +
           b"/Length " + str(len(content)).encode() +
           b" /Filter /FlateDecode >>\nstream\n" + content +
           b"\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)
    assert r["ok"] and r["text"] == "long dict survives"


def test_length_regex_is_portable_and_exact():
    """_LENGTH_RE must compile without py3.11-only possessive quantifiers
    (it must import on any executor Python) and still reject indirect
    references without backtracking into their digits (ADVICE r2)."""
    from snacktory_spark.pdf import _LENGTH_RE
    assert _LENGTH_RE.search(b"/Length 100 0 R") is None
    assert _LENGTH_RE.search(b"/Length 1024 /Filter").group(1) == b"1024"
    assert _LENGTH_RE.search(b"/Length 7\n>>").group(1) == b"7"


def test_decompression_bomb_stream_skipped():
    """A stream inflating past MAX_INFLATED is skipped, not inflated."""
    from snacktory_spark.pdf import MAX_INFLATED
    bomb = zlib.compress(b"\x00" * (MAX_INFLATED + 1024), 9)  # ~64KB input
    ok = zlib.compress(b"BT (survivor) Tj ET")
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Length " + str(len(bomb)).encode() +
           b" /Filter /FlateDecode >>\nstream\n" + bomb + b"\nendstream\nendobj\n"
           b"2 0 obj\n<< /Length " + str(len(ok)).encode() +
           b" /Filter /FlateDecode >>\nstream\n" + ok + b"\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)
    assert r["ok"] and r["text"] == "survivor"


@pytest.mark.parametrize("text", [
    "0ET", "ET", "BT", "x ET y BT z", "a (nested) ET (b)",
    "operators Tj TJ Td T* inside the text ET BT",
])
@pytest.mark.parametrize("split_tj", [False, True])
def test_operator_keywords_inside_strings(text, split_tj):
    """'ET'/'BT' (and operator names) INSIDE string literals must not
    terminate or open text blocks (hypothesis-found: '0ET' -> '')."""
    r = extract_pdf_text(make_simple_pdf(text, split_tj=split_tj))
    assert r["ok"] and r["text"] == text


def test_multiple_text_blocks():
    content = b"BT (one) Tj ET junk BT (two) Tj ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(content)).encode() +
           b" >>\nstream\n" + content + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf)["text"] == "onetwo"
