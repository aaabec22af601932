"""Pure-python string/URL helpers with the semantics of the reference's
SHelper (/root/reference/src/main/java/de/jetwick/snacktory/SHelper.java).

Each function cites the reference lines it matches; unit-tested against
SHelperTest.java:30-145 verbatim in tests/test_shelper.py.
"""

from __future__ import annotations

import datetime as _dt
import re
from urllib.parse import unquote_plus, urljoin

UTC = _dt.timezone.utc

# SHelper.java:54-55 — note GregorianCalendar months are 0-based, so
# getDate(2000, 01, 01) is *February* 1st, 00:00:01.
EARLIEST_VALID_DATE = _dt.datetime(2000, 2, 1, 0, 0, 1, tzinfo=UTC)
OLDEST_VALID_DATE = _dt.datetime(2030, 2, 1, 0, 0, 1, tzinfo=UTC)


def replace_spaces(url: str) -> str:
    """SHelper.java:57-66"""
    if url:
        url = url.strip()
        if " " in url:
            url = url.replace(" ", "%20")
    return url


def count(s: str, sub: str) -> int:
    """Non-overlapping left-to-right count (SHelper.java:68-76)."""
    if not sub:
        return 0
    return s.count(sub)


def java_trim(s: str) -> str:
    start, end = 0, len(s)
    while start < end and s[start] <= " ":
        start += 1
    while end > start and s[end - 1] <= " ":
        end -= 1
    return s[start:end]


_INNER_WS = re.compile("[ \\t\\n]+")


def inner_trim(s: str) -> str:
    """SHelper.java:81-104 — nbsp→space; collapse runs of space/tab/\\n.

    Note: \\r is deliberately NOT collapsed (the reference only treats
    ' ', tab and newline as inner whitespace).
    """
    if not s:
        return ""
    return java_trim(_INNER_WS.sub(" ", s.replace(" ", " ")))


def encoding_cleanup(s: str) -> str:
    """SHelper.java:110-125"""
    out = []
    started = False
    for c in s:
        if c.isdigit() or c.isalpha() or c in "-_":
            started = True
            out.append(c)
            continue
        if started:
            break
    return java_trim("".join(out))


def longest_substring(str1: str, str2: str):
    """SHelper.java:138-168 — DP longest common substring, returns (begin, end)."""
    if not str1 or not str2:
        return None
    n2 = len(str2)
    prev = [0] * n2
    maxlen = 0
    begin = 0
    end = 0
    for i, c1 in enumerate(str1):
        cur = [0] * n2
        for j, c2 in enumerate(str2):
            if c1 == c2:
                cur[j] = 1 if (i == 0 or j == 0) else 1 + prev[j - 1]
                if cur[j] > maxlen:
                    maxlen = cur[j]
                    begin = i - cur[j] + 1
                    end = i + 1
        prev = cur
    return (begin, end)


def get_longest_substring(str1: str, str2: str) -> str:
    """SHelper.java:130-136"""
    res = longest_substring(str1, str2)
    if res is None or res[0] >= res[1]:
        return ""
    return str1[res[0]:res[1]]


def get_default_favicon(url: str) -> str:
    """SHelper.java:170-172"""
    return use_domain_of_first_arg4_second(url, "/favicon.ico")


def java_url_resolve(base: str, spec: str) -> str:
    """Resolve like ``new java.net.URL(base, spec)`` (used by the reference for
    favicon/link absolutization, SHelper.java:179-188 and jsoup absUrl).

    Differs from RFC 3986/urljoin: excess ``..`` segments are kept
    (``/a/x.html`` + ``../../../b`` → ``/../../b``), matching
    SHelperTest.java:85-93.
    """
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*):(.*)$", spec)
    if m and m.group(2).startswith("//"):
        return spec
    bm = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(.*)$", base)
    if bm is None:
        return spec
    scheme, host, bpath, _ = bm.groups()
    if spec.startswith("//"):
        return f"{scheme}:{spec}"
    if m:  # e.g. "http:/foo" same-scheme spec — rare; treat rest as path
        spec = m.group(2)
    if spec.startswith("/"):
        path = spec
    elif spec == "":
        path = bpath
    else:
        # strip query/fragment-bearing spec handling: keep simple (spec is a path)
        d = bpath.rfind("/")
        parent = bpath[: d + 1] if d >= 0 else "/"
        path = parent + spec
    path = _java_canonicalize(path)
    return f"{scheme}://{host}{path}"


def _java_canonicalize(path: str) -> str:
    """java.net.URLStreamHandler.parseURL path canonicalization."""
    while True:
        i = path.find("/./")
        if i < 0:
            break
        path = path[:i] + path[i + 2:]
    i = 0
    while True:
        i = path.find("/../", i)
        if i < 0:
            break
        if i > 0:
            limit = path.rfind("/", 0, i)
            if limit >= 0 and not path.startswith("/../", limit):
                path = path[:limit] + path[i + 3:]
                i = 0
                continue
        i += 3
    if path.endswith("/.."):
        i = path.find("/..")
        limit = path.rfind("/", 0, i) if i > 0 else -1
        if limit >= 0 and not path.startswith("/../", limit):
            path = path[:limit + 1]
    if path.endswith("/."):
        path = path[:-1]
    return path


def use_domain_of_first_arg4_second(url_for_domain: str, path: str) -> str:
    """SHelper.java:179-188 — absolutize path against the url's domain."""
    if not re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", url_for_domain):
        return path
    try:
        return java_url_resolve(url_for_domain, path)
    except ValueError:
        return path


def extract_host(url: str) -> str:
    """SHelper.java:190-192"""
    return extract_domain(url, False)


def extract_domain(url: str, aggressive: bool) -> str:
    """SHelper.java:194-214"""
    if url.startswith("http://"):
        url = url[len("http://"):]
    elif url.startswith("https://"):
        url = url[len("https://"):]
    if aggressive:
        if url.startswith("www."):
            url = url[len("www."):]
        if url.startswith("m."):
            url = url[len("m."):]
    slash_index = url.find("/")
    if slash_index > 0:
        url = url[:slash_index]
    return url


def is_video_link(url: str) -> bool:
    """SHelper.java:216-220"""
    url = extract_domain(url, True)
    return (url.startswith("youtube.com") or url.startswith("video.yahoo.com")
            or url.startswith("vimeo.com") or url.startswith("blip.tv"))


def is_video(url: str) -> bool:
    return url.endswith((".mpeg", ".mpg", ".avi", ".mov", ".mpg4", ".mp4", ".flv", ".wmv"))


def is_audio(url: str) -> bool:
    return url.endswith((".mp3", ".ogg", ".m3u", ".wav"))


def is_doc(url: str) -> bool:
    return url.endswith((".pdf", ".ppt", ".doc", ".swf", ".rtf", ".xls"))


def is_package(url: str) -> bool:
    return url.endswith((".gz", ".tgz", ".zip", ".rar", ".deb", ".rpm", ".7z"))


def is_app(url: str) -> bool:
    return url.endswith((".exe", ".bin", ".bat", ".dmg"))


def is_image(url: str) -> bool:
    return url.endswith((".png", ".jpeg", ".gif", ".jpg", ".bmp", ".ico", ".eps"))


def get_url_from_ugly_google_redirect(url: str) -> str | None:
    """SHelper.java:268-280"""
    if url.startswith("http://www.google.com/url?"):
        url = url[len("http://www.google.com/url?"):]
        for part in url_decode(url).split("&"):
            if part.startswith("q="):
                return part[len("q="):]
    return None


def get_url_from_ugly_facebook_redirect(url: str) -> str | None:
    """SHelper.java:282-289"""
    if url.startswith("http://www.facebook.com/l.php?u="):
        return url_decode(url[len("http://www.facebook.com/l.php?u="):])
    return None


def url_decode(s: str) -> str:
    """java.net.URLDecoder semantics: '+' means space."""
    try:
        return unquote_plus(s)
    except Exception:
        return s


def remove_hashbang(url: str) -> str:
    """SHelper.java:311-313 — remove only the FIRST '#!'"""
    return url.replace("#!", "", 1)


_MONTH3 = {"jan": 1, "feb": 2, "mar": 3, "apr": 4, "may": 5, "jun": 6,
           "jul": 7, "aug": 8, "sep": 9, "oct": 10, "nov": 11, "dec": 12}


def is_valid_date(d: _dt.datetime) -> bool:
    """SHelper.java:478-484"""
    if d.tzinfo is None:
        d = d.replace(tzinfo=UTC)
    return EARLIEST_VALID_DATE < d < OLDEST_VALID_DATE


def estimate_date(url: str) -> str | None:
    """Date-from-URL estimation (SHelper.java:336-461)."""
    index = url.find("://")
    if index > 0:
        url = url[index + 3:]

    year = -1
    year_counter = -1
    month = -1
    month_counter = -1
    day = -1
    strs = url.split("/")
    for counter, s in enumerate(strs):
        if len(s) == 4:
            try:
                y = int(s)
            except ValueError:
                continue
            if y < 1970 or y > 3000:
                year = -1
                continue
            year = y
            year_counter = counter
        elif len(s) in (1, 2):
            if month_counter < 0 and counter == year_counter + 1:
                try:
                    m = int(s)
                except ValueError:
                    continue
                if m < 1 or m > 12:
                    month = -1
                    continue
                month = m
                month_counter = counter
            elif counter == month_counter + 1:
                try:
                    day = int(s)
                except ValueError:
                    pass
                else:
                    if day < 1 or day > 31:
                        day = -1
                        continue
                    break
        elif len(s) == 3:
            m = _MONTH3.get(s.lower())
            if m is not None:
                month = m
            month_counter = counter
        elif len(s) == 8:
            d = _strict_parse(s, "%Y%m%d")
            if d is not None and is_valid_date(d):
                return d.strftime("%Y/%m/%d")
        elif len(s) == 10:
            d = _strict_parse(s, "%d-%m-%Y")
            if d is not None and is_valid_date(d):
                return d.strftime("%Y/%m/%d")

    if year < 0:
        return None
    out = [str(year)]
    if month < 1:
        return "".join(out)
    out.append("/%02d" % month)
    if day < 1:
        return "".join(out)
    out.append("/%02d" % day)
    return "".join(out)


def _strict_parse(s: str, fmt: str):
    try:
        return _dt.datetime.strptime(s, fmt).replace(tzinfo=UTC)
    except ValueError:
        return None


def complete_date(date_str: str | None) -> str | None:
    """SHelper.java:463-476"""
    if date_str is None:
        return None
    index = date_str.find("/")
    if index > 0:
        index = date_str.find("/", index + 1)
        if index > 0:
            return date_str
        return date_str + "/01"
    return date_str + "/01/01"


def count_letters(s: str) -> int:
    """SHelper.java:527-535"""
    return sum(map(str.isalpha, s))


def utf8_truncate(s: str, length: int) -> str:
    """UTF-8 byte-budget truncation without splitting chars
    (SHelper.java:544-570; operates over UTF-16 units like the original).
    """
    out = []
    resultlen = 0
    for c in s:
        cp = ord(c)
        if cp <= 0x7F:
            charlen = 1
        elif cp <= 0x7FF:
            charlen = 2
        elif cp <= 0xFFFF:
            charlen = 3
        else:
            charlen = 4  # Java sees a surrogate pair: 4 + 0 bytes
        if resultlen + charlen > length:
            break
        out.append(c)
        resultlen += charlen
    return "".join(out)
