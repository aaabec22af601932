"""Hand-ported reference tests the auto-porter can't express: bodies that
run several extractions with different inputs or extractor configs.

Reference: ArticleTextExtractorTest.java — testIssue4 (:840), testI4Online
(:852), testImagesList (:866), testLimitSize (:1056). These are excluded
from scripts/port_tests.py via its hand_ported set.
"""

from golden_cases import fixture_text
from snacktory_spark.converter import read_file_as_string
from snacktory_spark.extractor import extract
from snacktory_spark.formatter import OutputFormatter

RES = "/root/reference/src/test/resources/de/jetwick/snacktory/"


def test_issue4_inline_whitespace_joins():
    """ArticleTextExtractorTest.java:840-850 — three inline documents."""
    assert extract("<html><body><div> aaa<a> bbb </a>ccc</div></body></html>")["text"] == "aaa bbb ccc"
    assert extract("<html><body><div> aaa <strong>bbb </strong>ccc</div></body></html>")["text"] == "aaa bbb ccc"
    assert extract("<html><body><div> aaa <strong> bbb </strong>ccc</div></body></html>")["text"] == "aaa bbb ccc"


def test_i4online_default_and_custom_formatter():
    """ArticleTextExtractorTest.java:852-864 — same fixture, two formatters."""
    html = read_file_as_string(RES + "i4online.html")
    res = extract(html)
    assert res["text"].startswith(
        "Just one week to go and everything is set for the summer Forum 2013")

    f = OutputFormatter(10)
    f.set_nodes_to_keep_css_selector("p,h1,h2,h3,h4,h5,h6")
    res2 = extract(html, formatter=f)
    assert res2["text"].startswith(
        "Upcoming events: Forum 79 Just one week to go and everything is set "
        "for the summer Forum 2013")


def test_images_list_two_fixtures():
    """ArticleTextExtractorTest.java:866-885 — reuters + thevacationgals."""
    res = extract(
        fixture_text("src/test/resources/de/jetwick/snacktory/reuters.html"))
    assert len(res["images"]) == 1
    assert res["image_url"] == res["images"][0]["src"]
    assert res["images"][0]["src"] == (
        "http://s1.reutersmedia.net/resources/r/?m=02&d=20120803&t=2&i="
        "637797752&w=460&fh=&fw=&ll=&pl=&r=CBRE872074Y00")

    res = extract(read_file_as_string(RES + "thevacationgals.html"))
    assert len(res["images"]) == 3
    assert res["images"][0]["src"] == (
        "http://thevacationgals.com/wp-content/uploads/2010/11/"
        "Gemmel-Family-Reunion-at-a-Vacation-Rental-Home1-300x225.jpg")
    assert res["images"][1]["src"] == (
        "../wp-content/uploads/2010/11/The-Gemmel-Family-Does-a-Gilligans-"
        "Island-Theme-Family-Reunion-Vacation-Sarah-Gemmel-300x225.jpg")
    assert res["images"][2]["src"] == "http://www.linkwithin.com/pixel.png"


def test_limit_size_truncates_text():
    """ArticleTextExtractorTest.java:1056-1064 — maxContentSize=1000."""
    res = extract(read_file_as_string(RES + "medium.html"), max_content_size=1000)
    assert res["title"] == "A Travelogue of India — Medium"
    assert res["text"].startswith(
        "Schipol Airport in 2012 looks nothing like Schipol Airport in the Eighties")
    assert len(res["text"]) <= 1000
