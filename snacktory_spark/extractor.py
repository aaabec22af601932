"""End-to-end extraction: ``extract(html, url) -> dict`` (SURVEY.md §3, EP1).

Pure python, no Spark — this is the scalar function that the Spark layer
vectorizes over Arrow batches. Mirrors ArticleTextExtractor.extractContent
(/root/reference .../ArticleTextExtractor.java:387-563):

0. tag-free input with no url: the empty result plus the regex date,
   without the cascade below (`extract` says why that is exact)
1. parse → metadata cascades (title/description/canonical/domain/author/date)
2. destructive cleaning (scripts/styles, TO_REMOVE, per-domain kill lists)
3. candidate scoring + best-first election with retry
   (empty/shorter-than-title candidates fall through to the next best)
4. output formatting, link/image/keyword harvesting, sanity checks
5. malformed-HTML retry: if the result still looks like HTML, re-clean and
   re-extract (:411-418); empty-result retry without script cleaning
   (:421-435); description fallback.
"""

from __future__ import annotations

import re

from . import constants as C
from .author import cleanup as author_cleanup, extract_author_description, extract_author_name
from .dom import Document, Element, parse as dom_parse
from .domains import (extract_domain, extract_domain_name_without_tld,
                      extract_top_private_domain, get_domain, top_private_domain)
from .formatter import OutputFormatter, make_formatter
from .metadata import (extract_canonical_url, extract_date_from_document,
                       extract_description, extract_favicon_url, extract_image_url,
                       extract_keywords, extract_language, extract_rss_url,
                       extract_sitename, extract_title, extract_type, extract_video_url)
from .shelper import replace_spaces, utf8_truncate
from .weights import (get_best_match_elements, get_nodes, remove_nodes_per_domain,
                      remove_scripts_and_styles, strip_unlikely_candidates)

DEFAULT_FORMATTER = OutputFormatter()


def empty_result(url: str = "") -> dict:
    """JResult with null-coalescing getters (JResult.java:33-304)."""
    return {
        "url": url or "",
        "original_url": url or "",
        "canonical_url": "",
        "title": "",
        "description": "",
        "text": "",
        "author_name": "",
        "raw_author_name": "",
        "author_description": "",
        "date": None,
        "image_url": "",
        "video_url": "",
        "rss_url": "",
        "favicon_url": "",
        "keywords": [],
        "images": [],
        "links": [],
        "type": "",
        "sitename": "",
        "language": "",
        "domain": "",
        "top_private_domain": "",
    }


# a character that can put a digit into the serialized document: a Unicode
# Nd digit itself, or an `&` that may decode to one (`&#50;`)
_DATE_HINT = re.compile(r"[\d&]")


def extract(html: str, url: str = "", max_content_size: int = 0,
            extract_images: bool = True,
            formatter: OutputFormatter | None = None,
            heuristics=None) -> dict:
    """ArticleTextExtractor.extractContent(JResult, String html, ...) (:403-419).

    `formatter` mirrors setOutputFormatter (:378): it replaces the default
    fallback formatter; per-domain formatters still take precedence (:600).
    `heuristics` mirrors the setUnlikely/setPositive/setNegative/setToRemove
    tunables (:329-377) — see snacktory_spark.heuristics.

    Tag-free input with no url (most chat turns) skips the DOM cascade:
    the result is `empty_result(url)` plus, when the text holds a digit
    (`\\d`, Unicode Nd) or an `&`, the full path's own date step on a
    fresh parse. This equals `_extract_document` exactly, because
    - without `<` the tokenizer emits only text into html/head/body, so
      there is no candidate (get_nodes wants p/div/td/h1/h2/article/
      section) and no metadata element (title, meta, link, time). With no
      url there is no per-domain element, domain or url date either.
      `text` falls back to `description`, which is "", and neither the
      empty-text retry (the document stays pristine) nor the malformed-
      HTML retry ("" has no tags) fires;
    - the serializer escapes only `&`, `<` and `>`, and only to named
      entities (dom._escape_text), so a text with no `\\d` and no `&`
      serializes without a digit, and every DATE_PATTERNS entry needs
      `\\d` (dates.py), so the regex date step finds nothing;
    - extract_images, max_content_size, formatter and heuristics have no
      element to act on.
    tests/test_extract_shortcut.py checks this against `_extract_document`
    with hypothesis."""
    html = _capped(html)
    if url or "<" in html:
        return _extract_document(html, url, max_content_size, extract_images,
                                 formatter, heuristics)
    res = empty_result(url)
    if _DATE_HINT.search(html):
        res["date"] = extract_date_from_document(dom_parse(html, url), url)
    return res


def _capped(html: str) -> str:
    if not html:
        raise ValueError("html string is empty!?")
    # input byte-cap analog of Converter.java:36,:135-148. A character
    # is at most 4 UTF-8 bytes, so a short turn pays one len(); the byte
    # count is utf8_truncate's (a lone surrogate counts 3 bytes)
    if (len(html) > C.MAX_INPUT_BYTES // 4
            and len(html.encode("utf-8", "surrogatepass"))
            > C.MAX_INPUT_BYTES):
        html = utf8_truncate(html, C.MAX_INPUT_BYTES)
    return html


def _extract_document(html: str, url: str = "", max_content_size: int = 0,
                      extract_images: bool = True,
                      formatter: OutputFormatter | None = None,
                      heuristics=None) -> dict:
    """`extract` without the tag-free shortcut: parse, then the metadata,
    scoring and retry cascade on every input."""
    html = _capped(html)
    res = empty_result(url)
    doc = dom_parse(html, url)
    result = _extract_retrying(res, doc, html, extract_images, max_content_size,
                               formatter, heuristics)

    # malformed-HTML sanity retry (:411-418). The reference re-cleans with
    # htmlcleaner; our parser is a single implementation so we re-parse the
    # serialized DOM, which re-normalizes the tree the same way.
    if C.has_html_tags(result["text"]):
        serialized = doc.outer_html()
        recleaned = dom_parse(serialized, url)
        res = empty_result(url)
        result = _extract_retrying(res, recleaned, serialized,
                                   extract_images, max_content_size, formatter,
                                   heuristics)
    return result


def _extract_retrying(res: dict, doc: Document, html: str, extract_images: bool,
                      max_content_size: int,
                      formatter: OutputFormatter | None = None,
                      heuristics=None) -> dict:
    """extractContent(JResult, Document, ...) (:421-435).

    The reference clones the (about-to-be-mutated) document up front; we
    re-parse the original html on the empty-text retry instead — same
    tree (parsing is deterministic), no per-document deep copy. When the
    first pass left the document PRISTINE (no version bump AND no
    internal-scratchpad writes — markup with no p/div/td/h1/h2/article/
    section element, or tag-free text with a url, where no candidate is
    ever scored; tag-free text without a url never gets here, see
    `extract`), the retry reuses the document directly: it is
    bit-identical to what the re-parse would produce, and parsing is ~a
    quarter of per-document time (BENCH/extract_profile.md).
    """
    v0, w0 = doc.version, doc.internal_writes
    result = _extract_content(res, doc, extract_images, max_content_size, True,
                              formatter, heuristics)
    if len(result["text"]) == 0:
        # When the first pass left the document PRISTINE the whole retry
        # pass is provably a no-op and is skipped outright (r10,
        # extending the earlier metadata-only skip): _extract_content is
        # a deterministic function of (doc, url, params); the only
        # parameter that differs on the retry is clean_scripts=False,
        # and a pristine doc proves pass 1's script removal removed
        # nothing (removal bumps `version`); get_nodes() writes a
        # gravityscore per candidate (internal_writes), so pristine also
        # proves ZERO candidates existed — the retry would re-run every
        # cascade on the identical tree into the identical `res` values
        # and still elect nothing. Non-pristine docs re-parse and re-run
        # everything, exactly as before.
        pristine = (doc.version == v0 and doc.internal_writes == w0)
        if not pristine:
            retry_doc = dom_parse(html, res["url"])
            result = _extract_content(res, retry_doc,
                                      extract_images, max_content_size, False,
                                      formatter, heuristics)
    if not result["text"].strip():
        result["text"] = result["description"]
    return result


def _extract_content(res: dict, doc: Document, extract_images: bool,
                     max_content_size: int, clean_scripts: bool,
                     formatter: OutputFormatter | None = None,
                     heuristics=None) -> dict:
    """Main workhorse (:438-563)."""
    url = res["url"]

    res["title"] = extract_title(doc)
    res["description"] = extract_description(doc)
    res["canonical_url"] = extract_canonical_url(url, doc, False) or ""
    res["domain"] = extract_domain(url) or ""
    res["top_private_domain"] = extract_top_private_domain(url) or ""

    res["type"] = extract_type(doc)
    res["sitename"] = extract_sitename(doc)
    res["language"] = extract_language(doc)

    res["raw_author_name"] = extract_author_name(doc, heuristics)
    res["author_name"] = author_cleanup(res["raw_author_name"])
    res["author_description"] = extract_author_description(
        doc, res["author_name"], heuristics)

    res["date"] = extract_date_from_document(doc, url)

    if clean_scripts:
        remove_scripts_and_styles(doc, res["domain"])
    strip_unlikely_candidates(doc, heuristics)

    remove_nodes_per_domain(doc, res["domain"] or None)
    remove_nodes_per_domain(doc, res["top_private_domain"] or None)
    remove_nodes_per_domain(doc, extract_domain_name_without_tld(
        res["top_private_domain"] or None) or None)

    best_match_element = _get_best_match_element_per_url(doc, url)
    if best_match_element is not None:
        _process_best_element(res, extract_images, max_content_size,
                              best_match_element, formatter)
    else:
        nodes = get_nodes(doc)
        best_match_element = None
        for candidate in get_best_match_elements(nodes, heuristics):
            best_match_element = candidate
            if _process_best_element(res, extract_images, max_content_size,
                                     candidate, formatter):
                break
        else:
            best_match_element = best_match_element  # keep last tried (matches :506-514)

    if best_match_element is not None:
        _extract_links(res, best_match_element)

    if extract_images and not res["image_url"]:
        res["image_url"] = extract_image_url(doc)

    res["rss_url"] = extract_rss_url(doc)
    res["video_url"] = extract_video_url(doc)
    res["favicon_url"] = extract_favicon_url(doc)
    res["keywords"] = extract_keywords(doc)

    # author-description sanity checks (:546-554)
    snippet = _get_snippet(res["author_description"])
    if (_get_snippet(res["text"]) == snippet
            or _get_snippet(res["description"]) == snippet):
        res["author_description"] = ""
    elif len(res["author_description"]) > C.MAX_AUTHOR_DESC_LENGTH:
        res["author_description"] = utf8_truncate(
            res["author_description"], C.MAX_AUTHOR_DESC_LENGTH)

    # image sanity (:556-560)
    if len(res["image_url"]) > C.MAX_IMAGE_LENGTH:
        res["image_url"] = ""

    return res


def _get_snippet(data: str) -> str:
    return data if len(data) < 50 else data[:50]


def _get_best_match_element_per_url(doc: Document, url: str):
    """Per-domain best-element override (:645-677)."""
    if not url:
        return None
    domain = get_domain(url)
    if domain is None:
        return None
    tpd = top_private_domain(domain, is_host=True)
    if tpd is None:
        return None
    for key in (domain, tpd):
        for selector in C.BEST_ELEMENT_PER_DOMAIN.get(key, ()):
            items = doc.select(selector)
            if items:
                return items[0]
    return None


def _process_best_element(res: dict, extract_images: bool, max_content_size: int,
                          best_match_element: Element,
                          formatter: OutputFormatter | None = None) -> bool:
    """processBestElement (:585-643)."""
    if extract_images:
        images: list[dict] = []
        img_el = determine_image_source(best_match_element, images)
        if img_el is not None:
            res["image_url"] = replace_spaces(img_el.attr("src"))
            res["images"] = images

    custom = C.OUTPUT_FORMATTER_PER_DOMAIN.get(res["domain"])
    if custom is None:
        custom = C.OUTPUT_FORMATTER_PER_DOMAIN.get(res["top_private_domain"])
    if custom is not None:
        formatter = make_formatter(custom)
    elif formatter is None:
        formatter = DEFAULT_FORMATTER

    text = formatter.get_formatted_text(best_match_element, True)
    if len(text) == 0:
        return False

    if len(text) > len(res["title"]):
        if 0 < max_content_size < len(text):
            text = utf8_truncate(text, max_content_size)
        res["text"] = text
    return True


def _extract_links(res: dict, best_match_element: Element) -> None:
    """In-content link harvesting (:517-532)."""
    fullhtml = best_match_element.outer_html()
    lastlinkpos = 0
    links = []
    for child in best_match_element.select("a[href]"):
        linkstr = child.outer_html()
        linkpos = fullhtml.find(linkstr, lastlinkpos)
        abs_href = child.attr("abs:href")
        if len(abs_href) <= C.MAX_LINK_SIZE:
            links.append({"url": abs_href, "text": child.text(), "offset": linkpos})
            lastlinkpos = linkpos
    res["links"] = links


def determine_image_source(el: Element, images: list[dict]):
    """Image election (:3060-3124) + ImageComparator sort (:3365-3372)."""
    max_weight = 0
    max_node = None
    els = el.select("img")
    if not els and el.parent is not None and isinstance(el.parent, Element):
        els = el.parent.select("img")

    score = 1.0
    for e in els:
        source_url = e.attr("src")
        if not source_url or _is_ad_image(source_url):
            continue
        weight = 0
        height = 0
        try:
            height = int(e.attr("height"))
            weight += 20 if height >= 50 else -20
        except ValueError:
            pass
        width = 0
        try:
            width = int(e.attr("width"))
            weight += 20 if width >= 50 else -20
        except ValueError:
            pass
        alt = e.attr("alt")
        if len(alt) > 35:
            weight += 20
        title = e.attr("title")
        if len(title) > 35:
            weight += 20
        no_follow = False
        if e.parent is not None and isinstance(e.parent, Element):
            rel = e.parent.attr("rel")
            if rel and "nofollow" in rel:
                no_follow = True
                weight -= 40
        weight = int(weight * score)
        if weight > max_weight:
            max_weight = weight
            max_node = e
            score = score / 2

        images.append({"src": source_url, "weight": weight, "title": title,
                       "height": height, "width": width, "alt": alt,
                       "no_follow": no_follow})

    images.sort(key=lambda im: -im["weight"])
    return max_node


def _is_ad_image(image_url: str) -> bool:
    from .shelper import count
    return count(image_url, "ad") >= 2
