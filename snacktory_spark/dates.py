"""Date parsing with the semantics of the reference's date stack:

- ``ArticleTextExtractor.parseDate`` ladder of ~90 SimpleDateFormat patterns
  (ArticleTextExtractor.java:1795-1908), strict full-match parse with default
  timezone UTC (utils/Configuration.java:20-29, config.yml:1)
- ``ArticleTextExtractor.cleanDate`` pre-normalization
  (ArticleTextExtractor.java:1914-1952) incl. the CLEAN_DATE_PATTERNS prefix
  strips (:98-116)
- ``utils/DateUtils.DATE_PATTERNS`` body-regex families (DateUtils.java:16-48)

The pattern engine is a from-scratch mini-SimpleDateFormat: numeric fields
parse greedily unless immediately followed by another numeric field
("yyyyMMdd" obeys counts); month/day names try full names then abbreviations,
case-insensitively; 'z'/'Z' accept GMT±hh:mm, RFC-822 offsets and common zone
abbreviations; two-digit years use the 80/-20 window only when exactly two
digits were consumed — all mirroring java.text.SimpleDateFormat parsing.
"""

from __future__ import annotations

import datetime as _dt
import re

from .shelper import inner_trim, is_valid_date

UTC = _dt.timezone.utc

MONTHS_FULL = ["January", "February", "March", "April", "May", "June", "July",
               "August", "September", "October", "November", "December"]
MONTHS_SHORT = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
                "Oct", "Nov", "Dec"]
DAYS_FULL = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
             "Saturday"]
DAYS_SHORT = ["Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat"]

# Common zone abbreviations -> offset minutes (subset of Java's zone strings
# that appear in news bylines; the reference resolves these via TimeZone).
ZONE_OFFSETS = {
    "UTC": 0, "GMT": 0, "UT": 0, "Z": 0,
    "EST": -5 * 60, "EDT": -4 * 60, "ET": -5 * 60,
    "CST": -6 * 60, "CDT": -5 * 60, "CT": -6 * 60,
    "MST": -7 * 60, "MDT": -6 * 60,
    "PST": -8 * 60, "PDT": -7 * 60, "PT": -8 * 60,
    "AKST": -9 * 60, "AKDT": -8 * 60, "HST": -10 * 60,
    "AST": -4 * 60, "ADT": -3 * 60,
    "BST": 60, "WET": 0, "WEST": 60,
    "CET": 60, "CEST": 2 * 60, "MET": 60, "MEST": 2 * 60,
    "EET": 2 * 60, "EEST": 3 * 60, "MSK": 3 * 60,
    "IST": 5 * 60 + 30, "SGT": 8 * 60, "HKT": 8 * 60, "JST": 9 * 60,
    "KST": 9 * 60, "AEST": 10 * 60, "AEDT": 11 * 60, "ACST": 9 * 60 + 30,
    "AWST": 8 * 60, "NZST": 12 * 60, "NZDT": 13 * 60,
}

# The exact ladder from ArticleTextExtractor.java:1796-1893, same order.
PARSE_PATTERNS = [
    "dd MMM yyyy 'at' hh:mma",
    "dd MMM yyyy HH:mm",
    "dd MMM yyyy HH:mm:ss",
    "dd MMM yyyy",
    "dd MMMM yyyy HH:mm",
    "dd MMMM yyyy HH:mm:ss",
    "dd MMMM yyyy",
    "dd-MM-yyyy HH:mm",
    "dd-MM-yyyy HH:mm:ss",
    "dd.MM.yyyy - HH:mm",
    "MM/dd/yy hh:mma",
    "dd/MM/yyyy HH:mm",
    "dd/MM/yyyy HH:mm:ss",
    "EEE MMM dd, yyyy hh:mma",
    "EEE dd MMM, yyyy",
    "EEE, dd MMM yyyy HH:mm:ss z",
    "EEE, dd MMM yyyy HH:mm:ss",
    "EEE, dd MMM yyyy",
    "EEE, MMM dd, yyyy HH:mm",
    "EEE, MMM dd, yyyy hh:mm:ss z a",
    "EEE, MMM dd, yyyy HH:mm:ss",
    "EEE, MMM dd, yyyy",
    "HH:mm z, dd MMM yyyy",
    "HH:mm, 'UK', EEE dd MMM yyyy",
    "MM-dd-yyyy hh:mm a z",
    "MM-dd-yyyy hh:mm a",
    "MM-dd-yyyy HH:mm",
    "MM-dd-yyyy hh:mm:ss a z",
    "MM-dd-yyyy hh:mm:ss a",
    "MM-dd-yyyy HH:mm:ss",
    "MM-dd-yyyy",
    "MM/dd/yyyy hh:mm a",
    "MM/dd/yyyy HH:mm",
    "MM/dd/yyyy hh:mm:ss a z",
    "MM/dd/yyyy hh:mm:ss a",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mma",
    "MM/dd/yyyy hh:mma",
    "MM/dd/yyyy",
    "MMM dd, yyyy 'at' hh:mm a z",
    "MMM dd, yyyy 'at' hh:mm a",
    "MMM dd, yyyy 'at' hh:mm",
    "MMM dd, yyyy hh:mm a z",
    "MMM dd, yyyy hh:mm a",
    "MMM dd, yyyy HH:mm",
    "MMM dd, yyyy hh:mm:ss a z",
    "MMM dd, yyyy hh:mm:ss a",
    "MMM dd, yyyy HH:mm:ss",
    "MMM dd, yyyy",
    "MMM. dd, yyyy hh:mm a z",
    "MMM. dd, yyyy hh:mm a",
    "MMM. dd, yyyy HH:mm",
    "MMM. dd, yyyy hh:mm:ss a z",
    "MMM. dd, yyyy hh:mm:ss a",
    "MMM. dd, yyyy HH:mm:ss",
    "MMM. dd, yyyy",
    "yyyy-MM-dd hh:mm a z",
    "yyyy-MM-dd hh:mm a",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd hh:mm:ss a z",
    "yyyy-MM-dd hh:mm:ss a",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy-MM-dd'T'HH:mm",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSz",
    "yyyy-MM-dd'T'HH:mm:ssz",
    "yyyy-MM-dd'T'HH:mmz",
    "yyyy/MM/dd hh:mm ",
    "yyyy/MM/dd HH:mm",
    "yyyy/MM/dd hh:mm:ss a z",
    "yyyy/MM/dd hh:mm:ss a",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "yyyyMMdd HHmm",
    "yyyyMMdd HHmmss",
    "yyyyMMdd",
    "yyyyMMddHHmm",
    "yyyyMMddHHmmss",
    "hh:mm a z MMM dd, yyyy",
    "EEE MMM dd HH:mm:ss z yyyy",
    "yyyy-MM-dd HH:mm:ss.'0'",
    "yyyy-MM-dd HH:mm:ss z",
    "MMM dd yyyy",
    "hh:mm a z',' EEE MMM dd',' yyyy",
    "yyyy-MM-dd'T'HH:mm:ss.SS000z",
    "dd-MM-yyyy",
    "HH:mm',' MMM dd yyyy",
    "MMM dd',' yyyy hh:mm a",
    "hh:mm a '-' d MMM yy",
    "MMM dd',' yyyy hh:mma",
    "dd.MM.yy",
    "dd-MMM-yyyy",
    "yyyy-MM-dd HH:mm:ss.SSSS Z",
]

# --- mini SimpleDateFormat ----------------------------------------------------

_NUMERIC_LETTERS = set("yMdHhmsS")


def _tokenize_java_pattern(pattern: str):
    """Tokenize a SimpleDateFormat pattern into (kind, payload) tokens."""
    tokens = []
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "'":
            # quoted literal; '' = literal quote
            j = i + 1
            lit = []
            while j < n:
                if pattern[j] == "'":
                    if j + 1 < n and pattern[j + 1] == "'":
                        lit.append("'")
                        j += 2
                        continue
                    break
                lit.append(pattern[j])
                j += 1
            tokens.append(("lit", "".join(lit) or "'"))
            i = j + 1
        elif c.isalpha():
            j = i
            while j < n and pattern[j] == c:
                j += 1
            tokens.append(("field", (c, j - i)))
            i = j
        else:
            j = i
            while j < n and not pattern[j].isalpha() and pattern[j] != "'":
                j += 1
            tokens.append(("lit", pattern[i:j]))
            i = j
    return tokens


def _is_numeric_field(tok) -> bool:
    if tok[0] != "field":
        return False
    letter, count = tok[1]
    if letter in ("M",):
        return count <= 2
    return letter in _NUMERIC_LETTERS


class _Ctx:
    __slots__ = ("year", "year2", "month", "day", "hour", "hour12", "minute",
                 "second", "millis", "ampm", "tz_minutes")

    def __init__(self):
        self.year = None
        self.year2 = False
        self.month = None
        self.day = None
        self.hour = None      # 0-23 field (H)
        self.hour12 = None    # 1-12 field (h), normalized 12->0
        self.minute = None
        self.second = None
        self.millis = None
        self.ampm = None      # 0=AM 1=PM
        self.tz_minutes = None


def _match_string(text: str, pos: int, options) -> tuple[int, int] | None:
    """Longest case-insensitive prefix match; returns (index, newpos)."""
    best = None
    best_len = 0
    low = text.lower()
    for idx, opt in enumerate(options):
        lo = opt.lower()
        if len(lo) > best_len and low.startswith(lo, pos):
            best = idx
            best_len = len(lo)
    if best is None:
        return None
    return best, pos + best_len


_GMT_RE = re.compile(r"GMT([+-])(\d{1,2})(?::(\d{2}))?", re.IGNORECASE)
_RFC822_RE = re.compile(r"([+-])(\d{2}):?(\d{2})")
_ZONE_WORD_RE = re.compile(r"[A-Za-z]+")


def _parse_zone(text: str, pos: int):
    """Parse a timezone at pos; returns (offset_minutes, newpos) or None."""
    m = _GMT_RE.match(text, pos)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        minutes = int(m.group(2)) * 60 + (int(m.group(3)) if m.group(3) else 0)
        return sign * minutes, m.end()
    if text.startswith(("GMT", "gmt"), pos):
        return 0, pos + 3
    m = _RFC822_RE.match(text, pos)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return sign * (int(m.group(2)) * 60 + int(m.group(3))), m.end()
    m = _ZONE_WORD_RE.match(text, pos)
    if m:
        off = ZONE_OFFSETS.get(m.group(0).upper())
        if off is not None:
            return off, m.end()
    return None


def _parse_with_tokens(tokens, text: str):
    ctx = _Ctx()
    pos = 0
    n = len(text)
    for ti, tok in enumerate(tokens):
        if tok[0] == "lit":
            lit = tok[1]
            if not text.startswith(lit, pos):
                return None
            pos += len(lit)
            continue
        # JDK SimpleDateFormat.subParse skips spaces/tabs before every field
        # (not before literals) — required for e.g. "July 12, 2016  6:31am"
        while pos < n and text[pos] in " \t":
            pos += 1
        if pos >= n:
            return None
        letter, count = tok[1]
        if letter in _NUMERIC_LETTERS and not (letter == "M" and count >= 3):
            obey = ti + 1 < len(tokens) and _is_numeric_field(tokens[ti + 1])
            j = pos
            limit = pos + count if obey else n
            while j < limit and j < n and text[j].isdigit():
                j += 1
            if j == pos:
                return None
            digits = j - pos
            value = int(text[pos:j])
            pos = j
            if letter == "y":
                ctx.year = value
                ctx.year2 = (count <= 2 and digits == 2)
            elif letter == "M":
                if not 1 <= value <= 12:
                    return None
                ctx.month = value
            elif letter == "d":
                if not 1 <= value <= 31:
                    return None
                ctx.day = value
            elif letter == "H":
                if value == 24:
                    value = 0
                if not 0 <= value <= 23:
                    return None
                ctx.hour = value
            elif letter == "h":
                if value == 12:
                    value = 0
                if not 0 <= value <= 11:
                    return None
                ctx.hour12 = value
            elif letter == "m":
                if not 0 <= value <= 59:
                    return None
                ctx.minute = value
            elif letter == "s":
                if not 0 <= value <= 59:
                    return None
                ctx.second = value
            elif letter == "S":
                if not 0 <= value <= 999:
                    return None
                ctx.millis = value
        elif letter == "M":  # MMM/MMMM: month names, full then short
            r = _match_string(text, pos, MONTHS_FULL)
            if r is None:
                r = _match_string(text, pos, MONTHS_SHORT)
            if r is None:
                return None
            ctx.month = r[0] + 1
            pos = r[1]
        elif letter == "E":  # day names: parse & ignore
            r = _match_string(text, pos, DAYS_FULL)
            if r is None:
                r = _match_string(text, pos, DAYS_SHORT)
            if r is None:
                return None
            pos = r[1]
        elif letter == "a":
            r = _match_string(text, pos, ["AM", "PM"])
            if r is None:
                return None
            ctx.ampm = r[0]
            pos = r[1]
        elif letter in ("z", "Z", "X"):
            r = _parse_zone(text, pos)
            if r is None:
                return None
            ctx.tz_minutes = r[0]
            pos = r[1]
        else:
            return None  # unsupported pattern letter
    if pos != n:
        return None  # require full consumption (DateUtils.java:76)
    return ctx


_NOW_YEAR = 2026  # fixed for determinism (no wall clock in executors)


def _ctx_to_datetime(ctx: _Ctx, default_tz=UTC):
    if ctx.year is None or ctx.month is None or ctx.day is None:
        return None
    year = ctx.year
    if ctx.year2:
        # SimpleDateFormat 2-digit-year window: [now-80, now+20]
        pivot_low = _NOW_YEAR - 80
        century = pivot_low - pivot_low % 100
        year = century + ctx.year
        if year < pivot_low:
            year += 100
    hour = 0
    if ctx.hour is not None:
        hour = ctx.hour
        if ctx.ampm == 1 and hour < 12:
            # Java: HOUR_OF_DAY wins over AM_PM when both set via 'H'
            pass
    elif ctx.hour12 is not None:
        hour = ctx.hour12 + (12 if ctx.ampm == 1 else 0)
    tz = (_dt.timezone(_dt.timedelta(minutes=ctx.tz_minutes))
          if ctx.tz_minutes is not None else default_tz)
    try:
        d = _dt.datetime(year, ctx.month, ctx.day, hour,
                         ctx.minute or 0, ctx.second or 0,
                         (ctx.millis or 0) * 1000, tzinfo=tz)
    except ValueError:
        return None
    return d.astimezone(UTC)


def _lead_kind(tokens):
    """What the first char (after field-space-skip) must be: digit/alpha."""
    if not tokens:
        return None
    kind, payload = tokens[0]
    if kind == "lit":
        return None
    letter, count = payload
    if letter in _NUMERIC_LETTERS and not (letter == "M" and count >= 3):
        return "digit"
    if letter in ("E",) or (letter == "M" and count >= 3):
        return "alpha"
    return None


def _req_lits(tokens):
    """Distinct literal strings the pattern requires (longest first).

    A full match places every literal verbatim in the input, so "literal is
    a substring of the input" is a sound necessary condition — a C-level
    `in` scan that skips a ~9µs token-parse attempt when it fails.
    """
    lits = {payload for kind, payload in tokens if kind == "lit" and payload}
    return tuple(sorted(lits, key=len, reverse=True)[:3])


_COMPILED = [(_tokenize_java_pattern(p)) for p in PARSE_PATTERNS]
_COMPILED_KINDS = [_lead_kind(t) for t in _COMPILED]
_COMPILED_LITS = [_req_lits(t) for t in _COMPILED]


def parse_with_patterns(date_string: str, patterns_tokens=None, default_tz=UTC):
    """utils/DateUtils.parseDate analog: first pattern that fully matches."""
    if patterns_tokens is None:
        patterns_tokens = _COMPILED
        kinds = _COMPILED_KINDS
        lits_list = _COMPILED_LITS
    else:
        kinds = [None] * len(patterns_tokens)
        lits_list = [()] * len(patterns_tokens)
    lead = None
    for ch in date_string:
        if ch not in " \t":
            lead = "digit" if ch.isdigit() else ("alpha" if ch.isalpha() else None)
            break
    for tokens, kind, lits in zip(patterns_tokens, kinds, lits_list):
        # cheap dispatch: a pattern whose first field needs a digit can never
        # match an alpha-leading string and vice versa
        if kind is not None and lead is not None and kind != lead:
            continue
        if lits:
            ok = True
            for lit in lits:
                if lit not in date_string:
                    ok = False
                    break
            if not ok:
                continue
        ctx = _parse_with_tokens(tokens, date_string)
        if ctx is not None:
            d = _ctx_to_datetime(ctx, default_tz)
            if d is not None:
                return d
    return None


# --- cleanDate (ArticleTextExtractor.java:1914-1952) --------------------------

CLEAN_DATE_PATTERNS = [
    re.compile(r"Published ([A-Zaz]* \d{1,2}, \d{4}).*", re.IGNORECASE),
    re.compile(r"Published Online:(.*)", re.IGNORECASE),
    re.compile(r"Published on:(.*)", re.IGNORECASE),
    re.compile(r"Published on(.*)", re.IGNORECASE),
    re.compile(r"Published:(.*)", re.IGNORECASE),
    re.compile(r"Published(.*)", re.IGNORECASE),
    re.compile(r"Posted on:(.*)", re.IGNORECASE),
    re.compile(r"Posted on(.*)", re.IGNORECASE),
    re.compile(r"Posted:(.*)", re.IGNORECASE),
    re.compile(r"Posted(.*)", re.IGNORECASE),
    re.compile(r"Updated on:(.*)", re.IGNORECASE),
    re.compile(r"Updated on(.*)", re.IGNORECASE),
    re.compile(r"Updated:(.*)", re.IGNORECASE),
    re.compile(r"Updated(.*)", re.IGNORECASE),
    re.compile(r"on:(.*)", re.IGNORECASE),
    re.compile(r"on(.*)", re.IGNORECASE),
    re.compile(r"(.*)Uhr", re.IGNORECASE),
]

_JAVA_WS = "\t\n\x0b\f\r\x1c\x1d\x1e\x1f "


def java_strip(s: str) -> str:
    return s.strip(_JAVA_WS)


# the reference's "(.*[+-]\d\d):(\d\d)" drops the colon of the last
# "+hh:mm" on each line; anchored per line it does the same in linear time
# (unanchored, a date followed by 500 KB of whitespace took minutes)
_TZ_COLON = re.compile(r"^(.*[+-]\d\d):(\d\d)", re.MULTILINE)


def clean_date(date_str: str) -> str:
    date_str = re.sub(r"Z$", "+0000", date_str)
    date_str = re.sub(r"(\d){5}", "", date_str)
    if "GMT" not in date_str:
        date_str = _TZ_COLON.sub(r"\1\2", date_str)
    for pattern in CLEAN_DATE_PATTERNS:
        m = pattern.fullmatch(date_str)
        if m:
            date_str = inner_trim(m.group(1))
            break
    date_str = re.sub(r"^ *(.*) *", r"\1", date_str)
    date_str = date_str.replace("@", "")
    date_str = re.sub(r"(\d)(?:st|nd|rd|th)", r"\1", date_str)
    date_str = re.sub(r"a\.m\.", "AM", date_str)
    date_str = re.sub(r"p\.m\.", "PM", date_str)
    return java_strip(date_str)


def parse_date(date_string: str | None):
    """ArticleTextExtractor.parseDate (:1795-1908).

    Note the reference returns the parsed date even when outside the
    validity window (the isValidDate check only logs), replicated here.
    """
    if date_string is None:
        return None
    try:
        date_string = clean_date(date_string)
        return parse_with_patterns(date_string)
    except Exception:
        return None


# --- body-regex extraction (utils/DateUtils.java:16-48) ------------------------

MMM_PATTERN = ("(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec|January|"
               "February|March|April|May|June|July|August|September|October|"
               "November|December)")

DATE_PATTERNS = [
    re.compile(r"\d{4}[\-./]?\d{2}[\-./]?\d{2}\s*(\d{2}[\-.:]?\d{2}([\-.:]?\d{2})?)?"),
    re.compile(r"\d{2} " + MMM_PATTERN + r"\s\d{4}\s*(\d{2}[\-.:]?\d{2}([\-.:]?\d{2})?)?",
               re.IGNORECASE),
    re.compile(MMM_PATTERN + r"\s\d{2},\s\d{4}\s*(\d{2}[\-.:]?\d{2}([\-.:]?\d{2})?)?",
               re.IGNORECASE),
    re.compile(r"\d{2}[\-./]?\d{2}[\-./]?\d{4}\s*(\d{2}[\-.:]?\d{2}([\-.:]?\d{2})?)?"),
]


def extract_date_using_regex(document: str):
    """ArticleTextExtractor.extractDateUsingRegex (:1758-1774).

    Failed parses are memoized per call — pages repeat the same junk match
    (e.g. asset ids) hundreds of times; semantics are unchanged because
    parse_date is a pure function of the string.
    """
    failed: set[str] = set()
    for pattern in DATE_PATTERNS:
        for m in pattern.finditer(document):
            s = m.group()
            if s in failed:
                continue
            parsed = parse_date(s)
            if parsed is not None:
                return parsed
            failed.add(s)
    return None


def format_date_utc(d: _dt.datetime | None) -> str | None:
    """Normalize like the reference tests' compareDates
    (ArticleTextExtractorTest.java:3689-3700): yyyy-MM-dd HH:mm:ss in UTC."""
    if d is None:
        return None
    return d.astimezone(UTC).strftime("%Y-%m-%d %H:%M:%S")
