"""Golden-fixture expectations ported from the reference's end-to-end tests
(/root/reference/src/test/java/de/jetwick/snacktory/ArticleTextExtractorTest.java).

Each case: fixture file (relative to /root/reference), optional seed url,
and the exact assertions the reference test makes. Cases are added as they
are verified to pass; divergences are tracked in KNOWN_DIVERGENCES with the
reason (usually parse-tree differences of the vendored DOM vs jsoup).

Fixture pages come from one of two sources, read by `fixture_text` /
`fixture_bytes`:

1. ``REFERENCE/<fixture>``, the reference checkout, when it exists;
2. otherwise the committed ``data/synth/sf0.001`` tables, whose golden
   turns embed 20 reference pages verbatim (FIXTURES.md §1): the
   `transcripts.parquet` text of the rows that `expected.parquet` keys
   by that fixture. That data is the only copy of those pages in the
   repo, so it is never regenerated without the reference.

A page in neither place raises FileNotFoundError. Tests that still need
the reference checkout: the `data3_paulgraham`, `data5_stanford`,
`jetwick`, `rian` and `vimeo` golden cases (pages not in the synth data),
tests/test_converter.py (sniffs original bytes), the i4online /
thevacationgals / medium hand ports, the tokenizer corpus equivalence
test and the auto-ported suite (tests/test_reference_suite.py).
"""

import functools
import os

import pandas as pd

from snacktory_spark.converter import (bytes_to_string, read_file_as_string,
                                       resolve_encoding)

REFERENCE = "/root/reference"

SYNTH = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                     "data", "synth", "sf0.001")


@functools.cache
def _committed_pages() -> dict[str, list[str]]:
    """fixture -> texts of every committed golden turn that embeds it."""
    keys = pd.read_parquet(os.path.join(SYNTH, "expected.parquet"),
                           columns=["conv_id", "turn_idx", "fixture"])
    turns = pd.read_parquet(os.path.join(SYNTH, "transcripts.parquet"),
                            columns=["conv_id", "turn_idx", "text"])
    rows = keys.merge(turns, on=["conv_id", "turn_idx"])
    return rows.groupby("fixture")["text"].agg(list).to_dict()


def fixture_text(rel: str) -> str:
    """The fixture page `rel` as `read_file_as_string` loads it: from the
    reference checkout when present, else from the committed synth turns."""
    path = os.path.join(REFERENCE, rel)
    if os.path.exists(path):
        return read_file_as_string(path)
    texts = _committed_pages().get(rel)
    if texts is None:
        raise FileNotFoundError(
            f"fixture {rel!r}: neither {path} nor a golden turn keyed by it "
            f"in {os.path.normpath(SYNTH)}/expected.parquet exists")
    assert len(set(texts)) == 1, f"{rel}: committed turns disagree"
    return texts[0]


def fixture_bytes(rel: str) -> bytes:
    """The fixture page `rel` as raw bytes: the reference file when present,
    else the committed text encoded in the charset the page declares,
    checked to decode back to exactly that text."""
    path = os.path.join(REFERENCE, rel)
    if os.path.exists(path):
        with open(path, "rb") as f:
            return f.read()
    text = fixture_text(rel)
    data = text.encode(resolve_encoding(text.encode("utf-8")))
    assert bytes_to_string(data) == text, f"{rel}: charset round trip differs"
    return data


# assertion keys:
#   title, title_start, text_start, text_end, text_contains (list), text_equals,
#   author, raw_author, author_desc, image, keywords (list), keywords_empty,
#   date (yyyy-MM-dd HH:mm:ss UTC), canonical, favicon, video, language, url
GOLDEN_CASES = [
    {
        "name": "data1_npr",  # ArticleTextExtractorTest.java:37-47
        "fixture": "test_data/1.html",
        "title": "How Fake Money Saved Brazil",
        "text_start": "This is a story about how an economist and his buddies tricked the people of Brazil into saving the country from rampant inflation. They had a crazy, unlikely plan, and it worked. Twenty years ago, Brazil's",
        "text_end": '"How Four Drinking Buddies Saved Brazil."',
        "image": "http://media.npr.org/assets/img/2010/10/04/real_wide.jpg?t=1286218782&s=3",
        "keywords_empty": True,
        "author": "Chana Joffe-Walt",
    },
    {
        "name": "data3_paulgraham",  # :62-68
        "fixture": "test_data/3.html",
        "text_start": "October 2010 Silicon Valley proper is mostly suburban sprawl. At first glance it ",
        "text_end": " and Jessica Livingston for reading drafts of this.",
        "keywords_empty": True,
    },
    {
        "name": "data5_stanford",  # :70-76
        "fixture": "test_data/5.html",
        "text_start": "Hackers unite in Stanford",
        "keywords_empty": True,
    },
    {
        "name": "cnn",  # :78-86
        "fixture": "src/test/resources/de/jetwick/snacktory/cnn.html",
        "title": "Gadhafi asks Obama to end NATO bombing",
        "image": "/2011/WORLD/africa/04/06/libya.war/t1larg.libyarebel.gi.jpg",
        "text_start": "Tripoli, Libya (CNN) -- As rebel and pro-government forces in Libya maneuvered on the battlefield Wedn",
        "author": "the CNN Wire Staff",
    },
    {
        "name": "bbc_noscript",  # :88-96
        "fixture": "src/test/resources/de/jetwick/snacktory/bbc_noscript.html",
        "title": "Brazil mourns Santa Maria nightclub fire victims",
        "image": "http://news.bbcimg.co.uk/media/images/65545000/gif/_65545798_brazil_santa_m_kiss_464.gif",
        "text_start": "Brazil has declared three days of national mourning for 231 people killed in a nightclub fire in the southern city of Santa Maria.",
        "author": "Caio Quero",
    },
    {
        "name": "reuters",  # :98-106
        "fixture": "src/test/resources/de/jetwick/snacktory/reuters.html",
        "title": "Knight trading loss shows cracks in equity markets",
        "image": "http://s1.reutersmedia.net/resources/r/?m=02&d=20120803&t=2&i=637797752&w=460&fh=&fw=&ll=&pl=&r=CBRE872074Y00",
        "text_start": "(Reuters) - The software glitch that cost Knight Capital Group $440 million in just 45 minutes reveals the deep fault lines in stock markets that are increasingly dominated by sophisticated high-speed trading systems. But Wall Street firms and regulators have few easy solutions for such problems.",
        "author": "Jed Horowitz and Joseph Menn",
    },
    {
        "name": "daltoncaldwell",  # :108-114
        "fixture": "src/test/resources/de/jetwick/snacktory/daltoncaldwell.html",
        "title": "Dear Mark Zuckerberg by Dalton Caldwell",
        "text_start": "On June 13, 2012, at 4:30 p.m., I attended a meeting at Facebook HQ in Menlo Park, California.",
    },
    {
        "name": "wordpress",  # :116-122
        "fixture": "src/test/resources/de/jetwick/snacktory/wordpress.html",
        "title": "Twitter API and Me « Find Time for the Karussell",
        "text_start": "I have a love hate relationship with Twitter. As a user I see ",
    },
    {
        "name": "golem",  # :124-131
        "fixture": "src/test/resources/de/jetwick/snacktory/golem.html",
        "text_start": "Mozilla hat Firefox 5.0a2 veröffentlicht und zugleich eine erste Entwicklerversion von Firefox 6 freigegeben.",
        "image": "http://scr3.golem.de/screenshots/1104/Firefox-Aurora/thumb480/aurora-nighly-beta-logos.png",
        "title": "Vorabversionen von Firefox 5 und 6 veröffentlicht",
    },
    {
        "name": "yomiuri",  # :133-140 (shift_jis)
        "fixture": "src/test/resources/de/jetwick/snacktory/yomiuri.html",
        "title": "色とりどりのチューリップ : 岐阜 : 地域 : YOMIURI ONLINE（読売新聞）",
        "text_contains": ["海津市海津町の国営木曽三川公園で、チューリップが見頃を迎えている。２０日までは「チューリップ祭」が開かれており、大勢の人たちが多彩な色や形を鑑賞している＝写真＝"],
        "keywords": ["読売新聞", "地域"],
    },
    {
        "name": "faz",  # :142-154
        "fixture": "src/test/resources/de/jetwick/snacktory/faz.html",
        "text_start": "Deutschland hat vor, ganz auf Atomkraft zu verzichten. Ist das eine gute",
        "image": "/m/{5F104CCF-3B5A-4B4C-B83E-4774ECB29889}g225_4.jpg",
        "author": "FAZ Electronic Media",
        "keywords": ["Atomkraft", "Deutschland", "Jahren", "Atommüll", "Fukushima",
                     "Problem", "Brand", "Kohle", "2011", "11", "Stewart",
                     "Atomdebatte", "Jahre", "Boden", "Treibhausgase", "April",
                     "Welt", "Müll", "Radioaktivität", "Gesamtbild", "Klimawandel",
                     "Reaktoren", "Verzicht", "Scheinheiligkeit", "Leute",
                     "Risiken", "Löcher", "Fusion", "Gefahren", "Land"],
    },
    {
        "name": "rian",  # :156-164
        "fixture": "src/test/resources/de/jetwick/snacktory/rian.html",
        "text_start": "About 15,000 people took to the streets in Tokyo on Sunday to protest against th",
        "title": "Japanese rally against nuclear power industry | World",
        "favicon": "/favicon.ico",
        "keywords_empty": True,
    },
    {
        "name": "jetwick",  # :166-171
        "fixture": "src/test/resources/de/jetwick/snacktory/jetwick.html",
        "keywords": ["news", "twitter", "search", "jetwick"],
    },
    {
        "name": "vimeo",  # :173-185
        "fixture": "src/test/resources/de/jetwick/snacktory/vimeo.html",
        "text_start": "1 month ago 1 month ago: Fri, Mar 11, 2011 2:24am EST (Eastern Standard Time) See all Show me 1. finn. & Dirk von Lowtzow",
        "title_start": 'finn. & Dirk von Lowtzow "CRYING IN THE RAIN"',
        "video": "",
        "keywords": ["finn", "finn.", "Dirk von Lowtzow", "crying in the rain",
                     "I wish I was someone else", "Tocotronic", "Sunday Service",
                     "Indigo", "Patrick Zimmer", "Patrick Zimmer aka finn.",
                     "video", "video sharing", "digital cameras", "videoblog",
                     "vidblog", "video blogging", "home video", "home movie"],
        "author": "finn",
    },
    {
        "name": "spiegel",  # :197-201
        "fixture": "src/test/resources/de/jetwick/snacktory/spiegel.html",
        "text_start": "Da ist er wieder, der C64: Eigentlich längst ein Relikt der Technikgeschichte, soll der ",
    },
    # The ten committed pages below carry the assertions that
    # data/synth/sf0.001/expected.parquet keys by their fixture.
    {
        "name": "heise",
        "fixture": "src/test/resources/de/jetwick/snacktory/heise.html",
        "title": "Internet Explorer 9 jetzt mit schnellster JavaScript-Engine",
        "text_start": "Microsoft hat heute eine siebte Platform Preview des Internet Explorer veröffentlicht. In den nur dr",
    },
    {
        "name": "techcrunch",
        "fixture": "src/test/resources/de/jetwick/snacktory/techcrunch.html",
        "title": "Twitter Finally Brings Advanced Search Out Of Purgatory; Updates Discovery Algorithms",
        "text_start": "A couple weeks ago, we wrote a post wishing Twitter a happy fifth birthday, but also noting ",
        "author": "MG Siegler",
    },
    {
        "name": "twitter",
        "fixture": "src/test/resources/de/jetwick/snacktory/twitter.html",
        "title": "Twitter Engineering: Twitter Search is Now 3x Faster",
        "text_start": "In the spring of 2010, the search team at Twitter started to rewrite our search engine in order to serve our ever-growin",
    },
    {
        "name": "taz",
        "fixture": "src/test/resources/de/jetwick/snacktory/taz.html",
        "title": "Anti-Atomkraft? Nein danke!",
        "text_start": "Absolute Minderheit: Im Shiba-Park in Tokio treffen sich jetzt jeden Sonntag die Atomkraftgegner. Sie blicken neidisch auf die Anti-AKW-Bewegung in Deutschland. ",
        "author": "Georg Blume",
    },
    {
        "name": "blogger",
        "fixture": "src/test/resources/de/jetwick/snacktory/blogger.html",
        "title": "The Brain Dump: Gavin King unveils Red Hat's Java killer successor: The Ceylon Project",
        "text_start": "Gavin King of Red Hat/Hibernate/Seam fame recently",
        "author": "Marc Richards",
    },
    {
        "name": "huffingtonpost",
        "fixture": "src/test/resources/de/jetwick/snacktory/huffingtonpost.html",
        "title": "Federal Reserve's Low Rate Policy Is A 'Dangerous Gamble,' Says Top Central Bank Official",
        "text_start": "A top regional Federal Reserve official sharply",
        "author": "Shahien Nasiripour",
    },
    {
        "name": "cnet1",
        "fixture": "src/test/resources/de/jetwick/snacktory/cnet1.html",
        "title": "Adobe to buy Omniture for $1.8 billion",
        "text_start": "Adobe said on Tuesday",
        "text_end": "earth-shattering thus far.",
    },
    {
        "name": "adweek",
        "fixture": "src/test/resources/de/jetwick/snacktory/adweek.html",
        "title": "5 Digital Metrics/Tools That PR Pros Need to Know – Adweek",
        "text_start": "Measurement: it is, as our own Shawn Paul Wood put it in yesterday’s “Top 5 PR Industry Debate Topics” post, the “pachyderm in the room.”",
        "text_end": "Do we agree? How familiar are we with the data and tools Sullivan described?",
        "author": "Patrick Coffee",
    },
    {
        "name": "entrepreneur",
        "fixture": "src/test/resources/de/jetwick/snacktory/entrepreneur.html",
        "title": "7 Big Changes in the PR Landscape Every Business Should Know About",
        "text_start": "At least three times a week, I get emails from entrepreneurs or small-business owners asking for advice on public relations.",
        "author": "Rebekah Iliff",
    },
    {
        "name": "applepr",
        "fixture": "src/test/resources/de/jetwick/snacktory/applepr.html",
        "title": "Apple Expands Capital Return Program to $200 Billion",
        "text_start": "Apple Expands Capital Return Program to $200 Billion CUPERTINO, California—April 27, 2015—Apple",
    },
]

# Fixtures whose reference assertions our implementation does not meet,
# with the diagnosed cause. Both remaining entries are reference-REPO bugs
# (missing/mismatched fixtures), not implementation divergences.
# (Status as of scripts/golden_report.json: 295/297 auto-ported reference
# tests pass; 1250/1253 assertions. testMaCNN was closed in round 3 by
# implementing HTML5 active-formatting reconstruction for <a> in dom.py.)
KNOWN_DIVERGENCES: dict[str, str] = {
    "testCanonical6": "fixture cio.com_no_canonical missing from reference repo",
    "testWayFair": ("expected text ('As the centerpiece of any dining room…') "
                    "is absent from the shipped fixture in any encoding "
                    "(raw/entity/json-unescaped) — fixture/test mismatch in "
                    "the reference repo"),
}
