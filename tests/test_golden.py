"""End-to-end golden-fixture tests (the reference's primary test strategy,
SURVEY.md §5): fixture HTML → extract → exact assertions.

Pages load through `golden_cases.fixture_text`: the reference checkout's
file when it exists, else the page embedded verbatim in the committed
``data/synth/sf0.001`` golden turns. Without the reference, the cases whose
pages are not in the synth data (data3_paulgraham, data5_stanford, jetwick,
rian, vimeo) fail with FileNotFoundError."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from golden_cases import GOLDEN_CASES, KNOWN_DIVERGENCES, fixture_text  # noqa: E402

from snacktory_spark.dates import format_date_utc  # noqa: E402
from snacktory_spark.extractor import extract  # noqa: E402


def run_case(case: dict) -> list[str]:
    """Run one golden case; returns list of failed-assertion descriptions."""
    html = fixture_text(case["fixture"])
    res = extract(html, url=case.get("url", ""))
    failures = []

    def check(cond, label, actual):
        if not cond:
            failures.append(f"{label}: got {actual!r}")

    if "title" in case:
        check(res["title"] == case["title"], "title", res["title"])
    if "title_start" in case:
        check(res["title"].startswith(case["title_start"]), "title_start", res["title"])
    if "text_start" in case:
        check(res["text"].startswith(case["text_start"]), "text_start", res["text"][:200])
    if "text_end" in case:
        check(res["text"].endswith(case["text_end"]), "text_end", res["text"][-200:])
    if "text_equals" in case:
        check(res["text"] == case["text_equals"], "text_equals", res["text"][:200])
    for needle in case.get("text_contains", []):
        check(needle in res["text"], "text_contains", res["text"][:200])
    if "author" in case:
        check(res["author_name"] == case["author"], "author", res["author_name"])
    if "raw_author" in case:
        check(res["raw_author_name"] == case["raw_author"], "raw_author", res["raw_author_name"])
    if "author_desc" in case:
        check(res["author_description"] == case["author_desc"], "author_desc",
              res["author_description"])
    if "image" in case:
        check(res["image_url"] == case["image"], "image", res["image_url"])
    if "keywords" in case:
        check(res["keywords"] == case["keywords"], "keywords", res["keywords"])
    if case.get("keywords_empty"):
        check(res["keywords"] == [], "keywords_empty", res["keywords"])
    if "date" in case:
        check(format_date_utc(res["date"]) == case["date"], "date",
              format_date_utc(res["date"]))
    if "canonical" in case:
        check(res["canonical_url"] == case["canonical"], "canonical", res["canonical_url"])
    if "favicon" in case:
        check(res["favicon_url"] == case["favicon"], "favicon", res["favicon_url"])
    if "video" in case:
        check(res["video_url"] == case["video"], "video", res["video_url"])
    if "language" in case:
        check(res["language"] == case["language"], "language", res["language"])
    return failures


@pytest.mark.parametrize("case", GOLDEN_CASES, ids=[c["name"] for c in GOLDEN_CASES])
def test_golden(case):
    if case["name"] in KNOWN_DIVERGENCES:
        pytest.skip(f"known divergence: {KNOWN_DIVERGENCES[case['name']]}")
    failures = run_case(case)
    assert not failures, f"{case['name']}:\n  " + "\n  ".join(failures)


def test_fixture_loader_sources(tmp_path, monkeypatch):
    """A reference file wins over the committed page; a page in neither
    source raises FileNotFoundError naming both."""
    import golden_cases

    rel = "src/test/resources/de/jetwick/snacktory/cnn.html"
    committed = fixture_text(rel)
    raw = golden_cases.fixture_bytes(rel)
    assert raw.decode("iso-8859-1") == committed  # cnn declares iso-8859-1

    monkeypatch.setattr(golden_cases, "REFERENCE", str(tmp_path))
    (tmp_path / rel).parent.mkdir(parents=True)
    (tmp_path / rel).write_bytes(b"<html><title>from reference</title></html>")
    assert fixture_text(rel) == "<html><title>from reference</title></html>"
    assert golden_cases.fixture_bytes(rel).startswith(b"<html><title>from")

    with pytest.raises(FileNotFoundError, match="expected.parquet") as err:
        fixture_text("test_data/3.html")
    assert str(tmp_path) in str(err.value)
