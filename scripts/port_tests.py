"""Semi-automated port of the reference's JUnit golden tests.

Parses ArticleTextExtractorTest.java, extracts per-test (fixture, url,
assertions), runs our extractor on each, and writes a pass/fail report to
scripts/golden_report.json. Passing cases can then be promoted into
tests/golden_cases.py; failing ones document divergences to fix.

Only the common assertion shapes are recognized; tests with bespoke logic
are listed as 'unparsed'.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from snacktory_spark.converter import read_file_as_string
from snacktory_spark.dates import format_date_utc, parse_with_patterns, _tokenize_java_pattern
from snacktory_spark.extractor import extract

TEST_JAVA = "/root/reference/src/test/java/de/jetwick/snacktory/ArticleTextExtractorTest.java"
RES_DIR = "/root/reference/src/test/resources/de/jetwick/snacktory"
REF = "/root/reference"

# Tests whose bodies run SEVERAL extractions with different inputs or
# extractor configs (inline html, second OutputFormatter, two fixtures,
# maxContentSize param). The single-config auto-run misattributes their
# asserts; each is ported by hand in tests/test_reference_handports.py.
HAND_PORTED = frozenset({"testIssue4", "testI4Online", "testImagesList",
                         "testLimitSize"})

# compareDates parses expected with these patterns (test file :3689-3700)
_EXPECTED_DATE_TOKENS = [_tokenize_java_pattern(p) for p in [
    "yyyy-MM-dd",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm:ssz",
    "yyyy-MM-dd HH:mm:ss Z",
    "yyyy-MM-dd HH:mm:ss X",
]]


def _java_str(lit: str) -> str:
    """Decode a Java string literal body."""
    out = []
    i = 0
    while i < len(lit):
        c = lit[i]
        if c == "\\" and i + 1 < len(lit):
            n = lit[i + 1]
            if n == "n":
                out.append("\n")
            elif n == "t":
                out.append("\t")
            elif n == "r":
                out.append("\r")
            elif n == "u":
                out.append(chr(int(lit[i + 2:i + 6], 16)))
                i += 6
                continue
            else:
                out.append(n)
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


_STR = r'"((?:[^"\\]|\\.)*)"'


def split_methods(src: str):
    """Yield (name, body, is_commented) for each @Test method."""
    for m in re.finditer(r"@Test\s+public void (\w+)\(\) throws Exception \{", src):
        start = m.end()
        depth = 1
        i = start
        while i < len(src) and depth > 0:
            if src[i] == "{":
                depth += 1
            elif src[i] == "}":
                depth -= 1
            i += 1
        yield m.group(1), src[start:i - 1]


def parse_method(name: str, body: str):
    case = {"name": name, "asserts": [], "unparsed": []}

    m = re.search(r'getResourceAsStream\(' + _STR + r'\)', body)
    if m:
        case["fixture"] = os.path.join(RES_DIR, _java_str(m.group(1)))
    else:
        m = re.search(r'readFileAsString\(' + _STR + r'\)', body)
        if m:
            case["fixture"] = os.path.join(REF, _java_str(m.group(1)))
        else:
            case["unparsed"].append("no fixture")
            return case

    m = re.search(r'\.setUrl\(' + _STR + r'\)', body)
    if m:
        case["url"] = _java_str(m.group(1))
    else:
        m = re.search(r'String url = ' + _STR + r';', body)
        if m and ".setUrl(url)" in body:
            case["url"] = _java_str(m.group(1))

    if "extractCanonical" in body:
        case["mode"] = "canonical"
        case["use_external"] = "true)" in body.split("extractCanonical", 1)[1][:200]

    getters = {
        "getTitle": "title", "getText": "text", "getAuthorName": "author",
        "getRawAuthorName": "raw_author",
        "getAuthorDescription": "author_desc", "getImageUrl": "image",
        "getCanonicalUrl": "canonical", "getFaviconUrl": "favicon",
        "getVideoUrl": "video", "getRssUrl": "rss", "getDescription": "description",
        "getLanguage": "language", "getUrl": "url_out", "getDomain": "domain",
        "getTopPrivateDomain": "top_private_domain", "getType": "type",
        "getSitename": "sitename", "getDateString": "date_string",
    }

    # the result object is named `res` or `article` depending on the test
    OBJ = r'(?:res|article)'

    # assertEquals([msg,] "expected", obj.getX())  — optional leading space
    # and optional message argument; \s* spans the multi-line forms
    for am in re.finditer(r'assertEquals\(\s*(?:[^,()"]*,\s*)?' + _STR
                          + r',\s*' + OBJ + r'\.(\w+)\(\)\)', body):
        g = getters.get(am.group(2))
        if g:
            case["asserts"].append(("equals", g, _java_str(am.group(1))))
        else:
            case["unparsed"].append(am.group(0)[:80])

    # reversed argument order: assertEquals(obj.getX(), "expected")
    for am in re.finditer(r'assertEquals\(\s*' + OBJ + r'\.(\w+)\(\),\s*'
                          + _STR + r'\)', body):
        g = getters.get(am.group(1))
        if g:
            case["asserts"].append(("equals", g, _java_str(am.group(2))))
        else:
            case["unparsed"].append(am.group(0)[:80])

    # assertEquals(StringUtils.EMPTY, obj.getX())
    for am in re.finditer(r'assertEquals\(\s*StringUtils\.EMPTY,\s*' + OBJ
                          + r'\.(\w+)\(\)\)', body):
        g = getters.get(am.group(1))
        if g:
            case["asserts"].append(("equals", g, ""))
        else:
            case["unparsed"].append(am.group(0)[:80])

    # getter-vs-getter equality: assertEquals(obj.getA(), obj.getB())
    for am in re.finditer(r'assertEquals\(\s*' + OBJ + r'\.(\w+)\(\),\s*'
                          + OBJ + r'\.(\w+)\(\)\)', body):
        a, b = getters.get(am.group(1)), getters.get(am.group(2))
        if a and b:
            case["asserts"].append(("same", a, b))
        else:
            case["unparsed"].append(am.group(0)[:80])

    for am in re.finditer(r'(assertFalse\([^;]*?)?' + OBJ
                          + r'\.(\w+)\(\)\.(startsWith|endsWith|contains|equals)\('
                          + _STR + r'\)', body):
        g = getters.get(am.group(2))
        if g:
            kind = am.group(3)
            if am.group(1):  # negative assertion
                kind = "not_" + kind
            case["asserts"].append((kind, g, _java_str(am.group(4))))
        else:
            case["unparsed"].append(am.group(0)[:80])

    for am in re.finditer(r'compareDates\(' + _STR + r',\s*' + OBJ
                          + r'\.getDate\(\)\)', body):
        case["asserts"].append(("date", "date", _java_str(am.group(1))))

    for am in re.finditer(r'assertEquals\(Arrays\.asList\((.*?)\),\s*' + OBJ
                          + r'\.getKeywords\(\)\)', body, re.DOTALL):
        kws = [_java_str(s) for s in re.findall(_STR, am.group(1))]
        case["asserts"].append(("keywords", "keywords", kws))

    if re.search(r'assertTrue\(' + OBJ + r'\.getKeywords\(\)\.isEmpty\(\)\)', body):
        case["asserts"].append(("keywords", "keywords", []))

    for am in re.finditer(r'assertEquals\((\d+),\s*' + OBJ
                          + r'\.getLinks\(\)\.size\(\)\)', body):
        case["asserts"].append(("links_count", "links", int(am.group(1))))

    # assertEquals(N, obj.getImagesCount())
    for am in re.finditer(r'assertEquals\((\d+),\s*' + OBJ
                          + r'\.getImagesCount\(\)\)', body):
        case["asserts"].append(("images_count", "images", int(am.group(1))))

    # obj.getImages().get(i).src equality, either argument order
    for am in re.finditer(r'assertEquals\(\s*' + _STR + r',\s*' + OBJ
                          + r'\.getImages\(\)\.get\((\d+)\)\.src\)', body):
        case["asserts"].append(("image_src", int(am.group(2)), _java_str(am.group(1))))
    for am in re.finditer(r'assertEquals\(\s*' + OBJ
                          + r'\.getImages\(\)\.get\((\d+)\)\.src,\s*' + _STR
                          + r'\)', body):
        case["asserts"].append(("image_src", int(am.group(1)), _java_str(am.group(2))))

    # getImageUrl == getImages().get(0).src
    if re.search(r'assertEquals\(\s*' + OBJ + r'\.getImageUrl\(\),\s*' + OBJ
                 + r'\.getImages\(\)\.get\(0\)\.src\)', body):
        case["asserts"].append(("image_src_is_image_url", 0, None))

    # assertTrue([msg,] obj.getText().length() <= N)
    for am in re.finditer(OBJ + r'\.getText\(\)\.length\(\)\s*<=\s*(\d+)', body):
        case["asserts"].append(("text_maxlen", "text", int(am.group(1))))

    # assertTrue([msg,] obj.getX().length() == N)  — exact length checks
    for am in re.finditer(OBJ + r'\.(\w+)\(\)\.length\(\)\s*==\s*(\d+)', body):
        g = getters.get(am.group(1))
        if g:
            case["asserts"].append(("length_equals", g, int(am.group(2))))
        else:
            case["unparsed"].append(am.group(0)[:80])

    # testCredoMag: every harvested link url must be <= N chars
    if re.search(r'assertTrue\(link\.get\("url"\)\.toString\(\)\.length\(\)\s*<=\s*(\d+)\)', body):
        n = int(re.search(r'link\.get\("url"\)\.toString\(\)\.length\(\)\s*<=\s*(\d+)', body).group(1))
        case["asserts"].append(("links_url_maxlen", "links", n))

    for am in re.finditer(r'assertNull\(' + OBJ + r'\.getDate\(\)\)', body):
        case["asserts"].append(("date_null", "date", None))

    # unrecognized assert lines (roughly)
    for line in body.splitlines():
        line = line.strip()
        if line.startswith(("assert", "compareDates")) and not _recognized(line):
            case["unparsed"].append(line[:100])
    return case


def _recognized(line: str) -> bool:
    o = r'(?:res|article)'
    pats = [
        o + r'\.\w+\(\)\.(startsWith|endsWith|contains|equals)\(',
        r'assertEquals\(\s*(?:[^,()"]*,\s*)?"(?:[^"\\]|\\.)*",\s*' + o + r'\.\w+\(\)\)',
        r'assertEquals\(\s*' + o + r'\.\w+\(\),\s*"',
        r'assertEquals\(\s*StringUtils\.EMPTY,\s*' + o + r'\.\w+\(\)\)',
        r'assertEquals\(\s*' + o + r'\.\w+\(\),\s*' + o + r'\.\w+\(\)\)',
        r'compareDates\(',
        r'Arrays\.asList',
        r'getKeywords\(\)\.isEmpty',
        r'getLinks\(\)\.size',
        r'getImagesCount\(\)',
        r'getImages\(\)\.get\(\d+\)\.src',
        r'getText\(\)\.length\(\)\s*<=\s*\d+',
        r'\w+\(\)\.length\(\)\s*==\s*\d+',
        r'link\.get\("url"\)\.toString\(\)\.length\(\)\s*<=\s*\d+',
        r'assertNull\(' + o + r'\.getDate\(\)\)',
        # multi-line assertEquals: a bare '"literal",' line whose getter sits
        # on the following line was already captured by the \s*-spanning scan
        r'^assertEquals\(\s*"(?:[^"\\]|\\.)*",?\s*$',
    ]
    return any(re.search(p, line) for p in pats)


def normalize_expected_date(s: str) -> str | None:
    d = parse_with_patterns(s, _EXPECTED_DATE_TOKENS)
    return format_date_utc(d) if d else None


def run_case(case: dict):
    failures = []
    path = case["fixture"]
    if not os.path.exists(path):
        return ["fixture missing: " + path]
    html = read_file_as_string(path)
    try:
        if case.get("mode") == "canonical":
            from snacktory_spark.dom import parse as dom_parse
            from snacktory_spark.extractor import empty_result
            from snacktory_spark.metadata import extract_canonical_url
            res = empty_result(case.get("url", ""))
            res["canonical_url"] = extract_canonical_url(
                res["url"], dom_parse(html), case.get("use_external", False)) or ""
        else:
            res = extract(html, url=case.get("url", ""))
    except Exception as e:
        return [f"EXCEPTION: {e!r}"]

    field_map = {
        "title": res["title"], "text": res["text"], "author": res["author_name"],
        "raw_author": res["raw_author_name"],
        "author_desc": res["author_description"], "image": res["image_url"],
        "canonical": res["canonical_url"], "favicon": res["favicon_url"],
        "video": res["video_url"], "rss": res["rss_url"],
        "description": res["description"], "language": res["language"],
        "url_out": res["url"], "domain": res["domain"],
        "top_private_domain": res["top_private_domain"], "type": res["type"],
        "sitename": res["sitename"],
    }

    for kind, field, expected in case["asserts"]:
        if kind == "same":
            a, b = field_map.get(field), field_map.get(expected)
            if a != b:
                failures.append(f"same({field},{expected}): {a!r} != {b!r}")
        elif kind == "images_count":
            if len(res["images"]) != expected:
                failures.append(f"images_count: got {len(res['images'])} want {expected}")
        elif kind == "image_src":
            srcs = [im.get("src") for im in res["images"]]
            if field >= len(srcs) or srcs[field] != expected:
                failures.append(f"images[{field}].src: got {srcs[field] if field < len(srcs) else None!r} want {expected!r}")
        elif kind == "image_src_is_image_url":
            srcs = [im.get("src") for im in res["images"]]
            if not srcs or srcs[0] != res["image_url"]:
                failures.append(f"image_url != images[0].src: {res['image_url']!r} vs {srcs[:1]!r}")
        elif kind == "text_maxlen":
            if len(res["text"]) > expected:
                failures.append(f"text_maxlen: {len(res['text'])} > {expected}")
        elif kind == "length_equals":
            actual = field_map.get(field, "")
            if len(actual) != expected:
                failures.append(f"{field} length: got {len(actual)} want {expected}")
        elif kind == "links_url_maxlen":
            bad = [l for l in res["links"] if len(l["url"]) > expected]
            if bad:
                failures.append(f"links_url_maxlen: {len(bad)} links over {expected}")
        elif kind == "keywords":
            if res["keywords"] != expected:
                failures.append(f"keywords: got {res['keywords']!r} want {expected!r}")
        elif kind == "date":
            got = format_date_utc(res["date"])
            want = normalize_expected_date(expected)
            if want is None:
                failures.append(f"date: cannot normalize expected {expected!r}")
            elif got != want:
                failures.append(f"date: got {got!r} want {want!r} (raw {expected!r})")
        elif kind == "date_null":
            if res["date"] is not None:
                failures.append(f"date_null: got {format_date_utc(res['date'])!r}")
        elif kind == "links_count":
            if len(res["links"]) != expected:
                failures.append(f"links_count: got {len(res['links'])} want {expected}")
        else:
            actual = field_map.get(field)
            if actual is None:
                failures.append(f"{field}: no value")
            elif kind == "equals" and actual != expected:
                failures.append(f"{field} equals: got {actual[:120]!r} want {expected[:120]!r}")
            elif kind == "startsWith" and not actual.startswith(expected):
                failures.append(f"{field} startsWith: got {actual[:150]!r} want {expected[:120]!r}")
            elif kind == "endsWith" and not actual.endswith(expected):
                failures.append(f"{field} endsWith: got {actual[-150:]!r} want {expected[-120:]!r}")
            elif kind == "contains" and expected not in actual:
                failures.append(f"{field} contains: want {expected[:120]!r}")
            elif kind == "not_contains" and expected in actual:
                failures.append(f"{field} NOT-contains violated: {expected[:120]!r}")
            elif kind == "not_equals" and actual == expected:
                failures.append(f"{field} NOT-equals violated: {expected[:120]!r}")
            elif kind == "not_startsWith" and actual.startswith(expected):
                failures.append(f"{field} NOT-startsWith violated: {expected[:120]!r}")
            elif kind == "not_endsWith" and actual.endswith(expected):
                failures.append(f"{field} NOT-endsWith violated: {expected[:120]!r}")
    return failures


def main():
    src = open(TEST_JAVA, encoding="utf-8", errors="replace").read()
    # strip block comments so commented-out tests are excluded
    src = re.sub(r"/\*.*?\*/", "", src, flags=re.DOTALL)
    # strip whole-line // comments (but not // inside string literals/URLs)
    src = "\n".join(l for l in src.splitlines() if not l.lstrip().startswith("//"))
    report = {"pass": [], "fail": {}, "unparsed": {},
              "hand_ported": sorted(HAND_PORTED)}
    total_asserts = passed_asserts = 0
    for name, body in split_methods(src):
        if name in HAND_PORTED:
            continue
        case = parse_method(name, body)
        if "fixture" not in case:
            report["unparsed"][name] = case["unparsed"]
            continue
        failures = run_case(case)
        total_asserts += len(case["asserts"])
        passed_asserts += len(case["asserts"]) - len([f for f in failures])
        if failures:
            report["fail"][name] = {
                "fixture": os.path.relpath(case["fixture"], REF),
                "url": case.get("url", ""),
                "failures": failures,
                "unparsed": case["unparsed"],
            }
        else:
            report["pass"].append(name)
        if case["unparsed"] and not failures:
            report["unparsed"].setdefault(name, case["unparsed"])

    print(f"tests passing all parsed asserts: {len(report['pass'])}")
    print(f"tests with failures: {len(report['fail'])}")
    print(f"assert pass rate: {passed_asserts}/{total_asserts}")
    with open(os.path.join(REPO, "scripts", "golden_report.json"), "w") as f:
        json.dump(report, f, indent=1, ensure_ascii=False)


if __name__ == "__main__":
    main()
