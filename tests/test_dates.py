"""Date parsing: each SimpleDateFormat family from
ArticleTextExtractor.java:1796-1893 gets a round-trip case, plus cleanDate
fixups and the DateUtils body-regex families."""

from snacktory_spark.dates import (clean_date, extract_date_using_regex,
                                   format_date_utc, parse_date)


def p(s):
    return format_date_utc(parse_date(s))


def test_iso_dates():
    assert p("2016-07-20") == "2016-07-20 00:00:00"
    assert p("2016-07-20T11:30:00") == "2016-07-20 11:30:00"
    assert p("2016-07-20T11:30:00Z") == "2016-07-20 11:30:00"
    assert p("2016-07-20T11:30:00+02:00") == "2016-07-20 09:30:00"
    assert p("2016-07-20T11:30:00-0700") == "2016-07-20 18:30:00"
    assert p("2016-07-20 15:21:00 -0800") == "2016-07-20 23:21:00"
    assert p("2015-12-28 06:30:00.0") == "2015-12-28 06:30:00"


def test_month_name_dates():
    assert p("20 Jul 2016") == "2016-07-20 00:00:00"
    assert p("20 July 2016") == "2016-07-20 00:00:00"
    assert p("Jul 20, 2016") == "2016-07-20 00:00:00"
    assert p("July 20, 2016") == "2016-07-20 00:00:00"
    assert p("Jul. 20, 2016") == "2016-07-20 00:00:00"
    assert p("October 05 2015") == "2015-10-05 00:00:00"
    assert p("14-Oct-2016") == "2016-10-14 00:00:00"


def test_numeric_dates():
    assert p("07/04/2017") == "2017-07-04 00:00:00"
    assert p("20-05-2016") == "2016-05-20 00:00:00"
    # quirk preserved from the reference: cleanDate's 5-digit-run removal
    # mangles bare yyyyMMdd strings, so parseDate can never match them
    # (estimateDate handles them separately, without cleanDate)
    assert p("20130807") is None
    assert p("22.09.16") == "2016-09-22 00:00:00"


def test_times_and_ampm():
    assert p("10/31/2011 2:00PM") == "2011-10-31 14:00:00"
    # JDK subParse skips leading spaces before fields, so double space is OK
    assert p("July 12, 2016  6:31am") == "2016-07-12 06:31:00"
    assert p("July 12, 2016 6:31am") == "2016-07-12 06:31:00"
    assert p("June 16, 2010 8:47 a.m.") == "2010-06-16 08:47:00"
    assert p("11:45 AM - 7 Aug 15") == "2015-08-07 11:45:00"
    assert p("15:56, June 15 2016") == "2016-06-15 15:56:00"


def test_zones():
    assert p("Thu Feb 07 00:00:00 EST 2013") == "2013-02-07 05:00:00"
    assert p("07:41 PM CDT Jun 14, 2015") == "2015-06-15 00:41:00"
    assert p("08:51 am EST, Thu March 3, 2016") == "2016-03-03 13:51:00"


def test_weekday_dates():
    assert p("Friday 9 December, 2016") == "2016-12-09 00:00:00"
    assert p("Thursday November 12, 2015 10:17AM") == "2015-11-12 10:17:00"


def test_clean_date_prefixes():
    assert p("Published: 2016-07-20") == "2016-07-20 00:00:00"
    assert p("Posted on July 20, 2016") == "2016-07-20 00:00:00"
    assert p("Updated: Jul 20, 2016") == "2016-07-20 00:00:00"
    # ordinal indicators
    assert p("July 3rd, 2017") == "2017-07-03 00:00:00"
    # tz colon fixup
    assert p("2017-07-25T22:49:42-04:00") == "2017-07-26 02:49:42"


def test_clean_date_unit():
    assert clean_date("2016-01-01T00:00:00Z") == "2016-01-01T00:00:00+0000"
    assert clean_date("Published on: 2016-01-01") == "2016-01-01"
    assert clean_date("3rd of May") == "3 of May"


def test_clean_date_zone_colon_is_linear():
    """The per-line anchored zone-colon rewrite equals the reference's
    unanchored `(.*[+-]\\d\\d):(\\d\\d)`, and a date match that runs on
    through ~500 KB of whitespace cleans in linear time (the unanchored
    form backtracks quadratically: seconds at 20 KB, tens of minutes at
    500 KB)."""
    import re
    import time

    from hypothesis import given, settings, strategies as st

    from snacktory_spark.dates import _TZ_COLON

    unanchored = re.compile(r"(.*[+-]\d\d):(\d\d)")

    @settings(max_examples=2000, deadline=None)
    @given(st.text(alphabet="+-:0123456789٢ \n\tZa", max_size=40))
    def same(s):
        assert _TZ_COLON.sub(r"\1\2", s) == unanchored.sub(r"\1\2", s)

    same()
    assert clean_date("x +02:00 y -05:30\nz +01:00") == "x +02:00 y -0530\nz +0100"
    t0 = time.perf_counter()
    d = extract_date_using_regex("2016-07-20" + " " * 499_990)
    assert format_date_utc(d) == "2016-07-20 00:00:00"
    assert time.perf_counter() - t0 < 5


def test_invalid():
    assert parse_date("not a date") is None
    assert parse_date("") is None
    assert parse_date(None) is None
    assert parse_date("13/45/2013 99:10") is None


def test_extract_date_using_regex():
    d = extract_date_using_regex("lorem ipsum 2016-07-20 11:30:00 dolor")
    assert format_date_utc(d) == "2016-07-20 11:30:00"
    d = extract_date_using_regex("posted Jul 20, 2016 by author")
    assert format_date_utc(d) == "2016-07-20 00:00:00"
    assert extract_date_using_regex("no dates here") is None


def test_literal_prefilter_never_changes_results():
    """The r8 required-literal prefilter is a pure necessary-condition
    skip: parse_with_patterns must return the SAME result with the
    filter disabled, for date-shaped strings, mutations, and junk."""
    import random

    from hypothesis import given, settings, strategies as st

    from snacktory_spark import dates as D

    def parse_unfiltered(s):
        saved = D._COMPILED_LITS
        D._COMPILED_LITS = [()] * len(D._COMPILED)
        try:
            return D.parse_with_patterns(s)
        finally:
            D._COMPILED_LITS = saved

    # seed corpus: real renderings of many ladder patterns + mutations
    rnd = random.Random(42)
    seeds = [
        "2016-07-20 11:30:00", "2016/07/20", "20.07.2016", "07/20/2016",
        "July 12, 2016  6:31am", "12 July 2016", "Jul 20, 2016",
        "Wed, 20 Jul 2016 11:30:00 GMT", "2016-07-20T11:30:00Z",
        "2016-07-20T11:30:00+02:00", "20160720113000", "2016-07-20",
        "11:30 20.07.2016", "am 20.07.2016", "July 2016", "2016",
        "20 juillet 2016", "noon", "yesterday", "", "   ",
    ]
    cases = list(seeds)
    for s in seeds:
        if not s.strip():
            continue
        chars = list(s)
        i = rnd.randrange(len(chars))
        chars[i] = rnd.choice(" -/:.TZ+aJ0")
        cases.append("".join(chars))
        cases.append(s[: rnd.randrange(len(s))])
    for s in cases:
        assert D.parse_with_patterns(s) == parse_unfiltered(s), s

    @settings(max_examples=300, deadline=None)
    @given(st.text(
        alphabet=" 0123456789-/:.TZ+,JanFebMrAyulgSOctNovDecMonTuesWdhi",
        max_size=30))
    def fuzz(s):
        assert D.parse_with_patterns(s) == parse_unfiltered(s), s

    fuzz()
