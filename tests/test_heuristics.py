"""Configurable-heuristics API parity (ArticleTextExtractor.java:329-378):
set/add pattern tunables + the extractor facade."""

from golden_cases import fixture_text
from snacktory_spark.extractor import extract
from snacktory_spark.heuristics import ArticleTextExtractor, Heuristics

HTML = """<html><body>
<div class='article-body'><p>{m}</p><p>{m2}</p></div>
<div class='alt-zone'><p>{a}</p><p>{a2}</p></div>
</body></html>""".format(
    m="main story text here with many words indeed " * 4,
    m2="second paragraph of the main story body " * 4,
    a="alternative zone text that should win when main is negated " * 4,
    a2="more alternative content for the election " * 4)


def test_defaults_unchanged_via_facade():
    """The facade with no tuning must byte-match plain extract()."""
    html = fixture_text("src/test/resources/de/jetwick/snacktory/cnn.html")
    assert ArticleTextExtractor().extract_content(html) == extract(html)


def test_set_patterns_change_election():
    base = ArticleTextExtractor().extract_content(HTML)
    assert base["text"].startswith("main story")
    tuned = (ArticleTextExtractor().set_highly_positive("alt-zone")
             .add_negative("article-body").extract_content(HTML))
    assert tuned["text"].startswith("alternative zone")


def test_set_to_remove_strips_nodes():
    removed = ArticleTextExtractor().set_to_remove("alt-zone").extract_content(HTML)
    assert "alternative" not in removed["text"]
    assert removed["text"].startswith("main story")


def test_add_appends_with_pipe():
    h = Heuristics().set_unlikely("aaa").add_unlikely("bbb")
    assert h.unlikely.pattern == "aaa|bbb"
    assert h.unlikely.search("XBBBx")  # case-insensitive like the reference
    h2 = Heuristics().set_positive("ppp").add_positive("qqq")
    assert h2.positive.pattern == "ppp|qqq"
    h3 = Heuristics().set_negative("nnn").add_negative("mmm")
    assert h3.negative.pattern == "nnn|mmm"


def test_instances_are_isolated():
    """Tuning one extractor must not leak into another (or the defaults)."""
    a = ArticleTextExtractor().set_to_remove("article-body")
    b = ArticleTextExtractor()
    assert a.extract_content(HTML)["text"].startswith("alternative zone")
    assert b.extract_content(HTML)["text"].startswith("main story")
    assert extract(HTML)["text"].startswith("main story")


def test_setters_chain():
    e = (ArticleTextExtractor().set_unlikely("x").add_unlikely("y")
         .set_positive("p").add_positive("q").set_highly_positive("hp")
         .set_negative("n").add_negative("o").set_highly_negative("hn")
         .set_to_remove("tr"))
    assert isinstance(e, ArticleTextExtractor)


def test_heuristics_reach_author_election():
    """setNegative must influence the author-name weight election like the
    reference's instance patterns do (ArticleTextExtractor.java:2247)."""
    html = """<html><body>
    <div class='meta a-one'>Alice Author writes about spark pipelines
    and distributed systems for this publication today</div>
    <div class='meta b-two'>Bob Byline covers storage engines and query
    optimizers with great enthusiasm every single week</div>
    <div class='article-body'><p>%s</p></div></body></html>""" % (
        "body text for the article with plenty of words here " * 5)
    base = ArticleTextExtractor().extract_content(html)
    tuned = (ArticleTextExtractor().set_negative("a-one")
             .set_positive("b-two").extract_content(html))
    assert "Alice" in base["raw_author_name"]
    assert "Bob" in tuned["raw_author_name"]
    assert "Alice" not in tuned["raw_author_name"]


def test_author_utils_cleanup_facebook_profile():
    """AuthorUtilsTest.cleanupFacebookProfileUrl (utils/AuthorUtilsTest.java:15-33)."""
    from snacktory_spark.author import cleanup
    for url in ("https://www.facebook.com/bbcnews",
                "http://facebook.com/bbcnews",
                "www.facebook.com/bbcnews",
                "facebook.com/bbcnews"):
        assert cleanup(url) == "bbcnews"
