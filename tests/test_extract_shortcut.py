"""The tag-free shortcut in `extract()` is exact (hypothesis).

`extract(s, "")` answers text with no `<` without the DOM cascade: the
empty result plus the regex date step. These properties hold it to the
full path, `_extract_document`, field by field, on tag-free text built
from ASCII and non-ASCII Nd digits, `&` and numeric entities that decode
to digits, `>`, NUL, `\\r`, whitespace-only strings, emoji and strings
just over MAX_INPUT_BYTES, with the extraction options randomized. A url
or any `<` must take the full path.
"""

from unittest import mock

from hypothesis import (HealthCheck, Phase, example, given, settings,
                        strategies as st)

from snacktory_spark import constants as C, extractor
from snacktory_spark.extractor import _extract_document, extract
from snacktory_spark.formatter import OutputFormatter
from snacktory_spark.heuristics import Heuristics

# ASCII, Arabic-Indic, fullwidth and Devanagari digits: Python's `\d`
# matches all of them, and DATE_PATTERNS parse them as dates
_DIGITS = "0123456789٠١٢٣٤٥٦٧٨٩０１２３４５６７８９०१२३४५६७८९"
_ALPHABET = _DIGITS + "&#;x>abDecJnuly -/.:,\t\n\r\x00é€😀"
# `&#xaea;` (Gujarati 4) writes an Nd digit with no digit in the source
_PIECES = ["&#50;&#48;", "&#x32;&#x30;", "&#49;", "&#xaea;", "&#xBEF;",
           "&amp;", "&lt;", "&gt;",
           "&nbsp;", "&#0;", "&bogus;", "&", ">", "Dec ", "January ",
           "2023-12-31", "12/31/2023", "31 Dec 2023", "Dec 31, 2023",
           "２０２３-12-31", "٢٠٢٣-١٢-٣١", " 14:30:00", "\r\n", "\r", "\x00",
           "😀", "   "]

_tag_free = st.lists(
    st.one_of(st.text(alphabet=_ALPHABET, max_size=12),
              st.sampled_from(_PIECES)),
    min_size=1, max_size=20).map("".join).filter(bool)
_whitespace = st.text(alphabet=" \t\n\r\x0b\x0c\xa0　", min_size=1,
                      max_size=8)


@st.composite
def _over_cap(draw):
    """Text a few characters over MAX_INPUT_BYTES, so the cap cuts at,
    before or after a date in the tail; multi-byte padding makes the
    byte cut land earlier still."""
    head = draw(_tag_free)
    pad = draw(st.sampled_from(["a", " ", "é", "😀"]))
    tail = draw(st.sampled_from(["2023-12-31", "Dec 31, 2023", "&#50;&#48;",
                                 "٢٠٢٣-١٢-٣١", "no date"]))
    over = draw(st.integers(min_value=1, max_value=12))
    n = C.MAX_INPUT_BYTES + over - len(head) - len(tail)
    return head + pad * n + tail


# patterns that match everything, the empty class and id included
_MATCH_ALL = (Heuristics().set_unlikely(".*").set_positive(".*")
              .set_negative(".*").set_to_remove(".*"))

_options = st.fixed_dictionaries({
    "extract_images": st.booleans(),
    "max_content_size": st.sampled_from([0, 1, 5, 100]),
    "heuristics": st.sampled_from([None, Heuristics(), _MATCH_ALL]),
    "formatter": st.sampled_from([None, OutputFormatter(0, 0),
                                  OutputFormatter(1000, 1000)]),
})


def _assert_shortcut_exact(text: str, options: dict) -> None:
    with mock.patch.object(extractor, "_extract_document",
                           wraps=_extract_document) as full:
        got = extract(text, "", **options)
    assert full.call_count == 0, "tag-free text without a url took the full path"
    want = _extract_document(text, "", **options)
    assert got.keys() == want.keys()
    for field, value in want.items():
        assert got[field] == value, field


@settings(max_examples=400, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.one_of(_tag_free, _whitespace), _options)
@example("Meet me 12/31/2023 ok", {})
@example("&#50;&#48;&#50;&#51;-&#49;&#50;-&#51;&#49;", {})
@example("٢٠٢٣-١٢-٣١", {"extract_images": False})
@example("２０２３-12-31\r\n", {"max_content_size": 1})
@example("a\x00b 2023-12-31", {})
@example(" \t\r\n", {})
def test_tag_free_equals_full_path(text, options):
    _assert_shortcut_exact(text, options)


# no shrink phase: shrinking a 500 KB string re-runs the full path for
# minutes, and the failing field already names the fault
@settings(max_examples=12, deadline=None,
          phases=[Phase.explicit, Phase.reuse, Phase.generate],
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(_over_cap(), _options)
def test_tag_free_over_cap_equals_full_path(text, options):
    assert len(text) > C.MAX_INPUT_BYTES
    _assert_shortcut_exact(text, options)


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_tag_free,
       st.sampled_from(["", "http://example.com/2023/12/31/story.html",
                        "https://www.heise.de/", "x"]),
       st.integers(min_value=0), st.booleans())
def test_url_or_tag_takes_full_path(text, url, pos, add_tag):
    if add_tag or not url:
        pos %= len(text) + 1
        text = text[:pos] + "<" + text[pos:]
    with mock.patch.object(extractor, "_extract_document",
                           wraps=_extract_document) as full:
        got = extract(text, url)
    assert full.call_count == 1
    assert got == _extract_document(text, url)


def test_shortcut_dates():
    """The regex date survives the shortcut, entities and non-ASCII
    digits included; a url date still comes from the full path."""
    for text in ("Meet me 12/31/2023 ok", "&#50;&#48;&#50;&#51;-12-31",
                 "٢٠٢٣-١٢-٣١", "２０２３-12-31"):
        assert extract(text)["date"].strftime("%Y-%m-%d") == "2023-12-31", text
    assert extract("no date here & none")["date"] is None
    dated = extract("plain words", "http://example.com/2023/12/31/story.html")
    assert dated["date"] is not None


def test_cap_counts_utf8_bytes():
    """MAX_INPUT_BYTES caps UTF-8 bytes, not characters: 300,000 `é`
    are 600,000 bytes, so the date after them is cut off on both
    paths."""
    text = "é" * 300000 + " 2023-12-31"
    assert len(extractor._capped(text).encode("utf-8")) <= C.MAX_INPUT_BYTES
    assert extract(text, "")["date"] is None
    assert _extract_document(text, "")["date"] is None
