"""Vendored DOM: parsing, jsoup text semantics, CSS-lite selectors."""

from snacktory_spark.dom import parse
from snacktory_spark.formatter import OutputFormatter


def test_basic_tree():
    doc = parse("<html><head><title>T</title></head><body><p>hi</p></body></html>")
    assert doc.title() == "T"
    body = doc.body()
    assert [c.tag for c in body.children] == ["p"]
    assert body.children[0].text() == "hi"


def test_implicit_head_body():
    doc = parse("<title>T</title><meta name='x' content='y'><p>content</p>")
    assert doc.title() == "T"
    assert doc.select("head meta[name=x]").attr("content") == "y"
    ps = doc.select("body p")
    assert len(ps) == 1 and ps[0].text() == "content"


def test_implied_p_close():
    doc = parse("<body><p>one<p>two<div>three</div></body>")
    body = doc.body()
    assert [c.tag for c in body.children] == ["p", "p", "div"]
    assert body.children[0].text() == "one"


def test_li_close():
    doc = parse("<ul><li>a<li>b<li>c</ul>")
    lis = parse("<ul><li>a<li>b<li>c</ul>").select("li")
    assert [li.text() for li in lis] == ["a", "b", "c"]
    assert doc.select("ul")[0].children[0].tag == "li"


def test_own_text_vs_text():
    doc = parse("<div>own <b>bold</b> tail</div>")
    div = doc.select("div")[0]
    assert div.own_text() == "own tail"
    assert div.text() == "own bold tail"


def test_text_block_spacing():
    doc = parse("<div><p>one</p><p>two</p></div>")
    assert doc.select("div")[0].text() == "one two"


def test_br_space():
    doc = parse("<p>a<br>b</p>")
    assert doc.select("p")[0].text() == "a b"


def test_whitespace_normalization():
    doc = parse("<p>a\n   b\t c</p>")
    assert doc.select("p")[0].text() == "a b c"


def test_nbsp_preserved():
    doc = parse("<p>a&nbsp;b</p>")
    assert doc.select("p")[0].text() == "a b"


def test_entities():
    doc = parse("<p>&amp; &lt;x&gt; &quot;q&quot;</p>")
    assert doc.select("p")[0].text() == '& <x> "q"'


def test_select_class_id_attr():
    doc = parse('<div class="a b" id="main"><span data-x="Q">s</span></div>')
    assert len(doc.select(".a")) == 1
    assert len(doc.select(".b")) == 1
    assert len(doc.select("#main")) == 1
    assert len(doc.select("div.a#main")) == 1
    assert len(doc.select("[data-x]")) == 1
    assert len(doc.select("[data-x=q]")) == 1  # attr values case-insensitive
    assert len(doc.select("span[data-x*=Q]")) == 1
    assert doc.select("div > span")[0].text() == "s"
    assert len(doc.select(".c")) == 0


def test_select_descendant_and_sibling():
    doc = parse("<div><h2>head</h2><p>a</p><p>b</p><ul><li>x</li></ul></div>")
    assert len(doc.select("div p")) == 2
    assert len(doc.select("h2 ~ p")) == 2
    assert len(doc.select("h2 + p")) == 1
    assert len(doc.select("p + p")) == 1
    assert len(doc.select("div li")) == 1


def test_select_contains():
    doc = parse("<div><p>Related Stories: foo</p><p>other</p></div>")
    assert len(doc.select("p:contains(related stories:)")) == 1
    assert len(doc.select("p:containsOwn(other)")) == 1
    assert len(doc.select("div:has(p)")) == 1
    assert len(doc.select("p:has(b)")) == 0


def test_select_groups_document_order():
    doc = parse("<div><em>1</em><p>2</p><ul><li>3</li></ul></div>")
    tags = [e.tag for e in doc.select("p, ol, em, ul, li")]
    assert tags == ["em", "p", "ul", "li"]


def test_select_includes_self():
    doc = parse("<div><p>x</p></div>")
    p = doc.select("p")[0]
    assert p.select("p") == [p]


def test_first_of_type():
    doc = parse("<body><h1>first</h1><h1>second</h1></body>")
    els = doc.select("h1:first-of-type")
    assert len(els) == 1 and els[0].text() == "first"


def test_script_style_raw():
    doc = parse("<script>if (a<b) { x(); }</script><p>t</p>")
    scripts = doc.select("script")
    assert len(scripts) == 1
    assert "a<b" in scripts[0].html()


def test_remove():
    doc = parse("<div><span id='kill'>x</span>keep</div>")
    doc.select("#kill")[0].remove()
    assert doc.select("div")[0].text() == "keep"
    assert len(doc.select("#kill")) == 0


def test_clone_independent():
    doc = parse("<div><p>x</p></div>")
    c = doc.clone()
    c.select("p")[0].remove()
    assert len(doc.select("p")) == 1
    assert len(c.select("p")) == 0


def test_abs_href():
    doc = parse('<a href="/x">l</a>', "http://example.com/dir/page.html")
    assert doc.select("a")[0].attr("abs:href") == "http://example.com/x"
    doc2 = parse('<a href="y.html">l</a>', "http://example.com/dir/page.html")
    assert doc2.select("a")[0].attr("abs:href") == "http://example.com/dir/y.html"


def test_output_formatter_skip_hidden():
    """OutputFormatterTest.java:29-36."""
    doc = parse('<div><div style="display:none">xy</div>test</div>')
    f = OutputFormatter()
    sb = []
    f.append_text_skip_hidden(doc, sb)
    assert "".join(sb) == "test"


def test_duplicate_attrs_first_wins():
    doc = parse('<p class="a" class="b">x</p>')
    assert doc.select("p")[0].class_name() == "a"


def test_table_structure():
    doc = parse("<table><tr><td>a<td>b<tr><td>c</table>")
    assert len(doc.select("tr")) == 2
    assert len(doc.select("td")) == 3


def test_internal_attr_select_not_stale():
    """Doc-root [attr] selects on scoring scratchpad attributes must not
    consult the (deliberately not invalidated) attribute index (ADVICE r1)."""
    doc = parse("<div><p>a</p><p>b</p></div>")
    assert len(doc.select("[gravityscore]")) == 0  # builds the doc index
    el = doc.select("p")[0]
    el.set_attr("gravityscore", "42")
    hits = doc.select("[gravityscore]")
    assert len(hits) == 1 and hits[0] is el
    assert len(doc.select("p[gravityscore=42]")) == 1


def test_a_reconstruction_after_malformed_end_tag():
    """HTML5 active-formatting reconstruction for <a> (round 3, the macnn
    shape): a malformed '</a</li>' leaves the <a> active, so text after
    the list close is wrapped in a clone carrying the same href."""
    doc = parse('<ul><li><a href="/x">k</a</li></ul> tail text')
    anchors = doc.select("a")
    assert [(a.attr("href"), a.text()) for a in anchors] == [
        ("/x", "k"), ("/x", "tail text")]


def test_a_reconstruction_unclosed_in_list():
    """An <a> implicitly popped by </ul> reconstructs around subsequent
    phrasing content until an explicit </a> or a new <a>."""
    doc = parse('<ul><li><a href="/z">z</ul><span>s</span>more')
    anchors = doc.select("a")
    assert [(a.attr("href"), a.text()) for a in anchors] == [
        ("/z", "z"), ("/z", "smore")]


def test_a_no_reconstruction_when_closed():
    """A properly closed <a> never clones; a new <a> start ends the old
    active entry (adoption-agency behavior)."""
    doc = parse('<div><a href="/y">y</a><p>para</p></div>')
    assert [(a.attr("href"), a.text()) for a in doc.select("a")] == [
        ("/y", "y")]
    doc2 = parse('<ul><li><a href="/1">one</ul><a href="/2">two</a> t')
    assert [(a.attr("href"), a.text()) for a in doc2.select("a")] == [
        ("/1", "one"), ("/2", "two")]


def test_select_sees_attr_value_changes():
    """Changing an EXISTING class/id VALUE must invalidate the doc index:
    the pure-selector fast paths return index lists without a matches()
    re-check, so a stale index would yield false positives (r8 review)."""
    doc = parse('<div><p class="menu" id="x">hi</p></div>')
    p = doc.select(".menu")[0]
    assert doc.select("#x")
    p.set_attr("class", "other")
    assert list(doc.select(".menu")) == []
    assert doc.select(".other") == [p]
    p.set_attr("id", "y")
    assert list(doc.select("#x")) == []
    assert doc.select("#y") == [p]
    # same-value rewrite must not thrash the index version
    v = doc.version
    p.set_attr("class", "other")
    assert doc.version == v


def test_detached_element_text_not_stale():
    """Detached elements (no document) must never serve cached text/kids:
    _bump() is a no-op without a doc, so caches could not invalidate."""
    from snacktory_spark.dom import Element, TextNode
    e = Element("div")
    e.append_child(TextNode("a", e))
    assert e.text() == "a"
    assert e.own_text() == "a"
    assert e.children == []
    e.append_child(TextNode("b", e))
    assert e.text() == "ab"
    assert e.own_text() == "ab"
    child = Element("span")
    e.append_child(child)
    assert e.children == [child]


# --- differential fuzz: select() fast paths vs naive scan (round 8) --------
#
# The r8 select engine grew index-returning fast paths (pure selectors,
# single-chain, pure-tag groups) that skip matches() re-verification.
# This differential test evaluates every generated selector BOTH ways —
# the public select() (fast paths + doc index) and a naive
# iter_descendants scan through the same parsed chains — on random
# documents, before AND after an index-invalidating mutation.

import itertools as _it

from hypothesis import HealthCheck, given, settings, strategies as st

from snacktory_spark import dom as _dom

_TAGS = ["div", "p", "span", "a", "ul", "li", "b"]
_CLASSES = ["a", "b", "c", "a b", "a a", "b c"]
_IDS = ["x", "y", "z"]


@st.composite
def _doc_html(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    parts = []
    depth = 0
    for _ in range(n):
        tag = draw(st.sampled_from(_TAGS))
        attrs = ""
        if draw(st.booleans()):
            attrs += f' class="{draw(st.sampled_from(_CLASSES))}"'
        if draw(st.booleans()):
            attrs += f' id="{draw(st.sampled_from(_IDS))}"'
        if draw(st.booleans()):
            attrs += f' data-k="{draw(st.sampled_from(["v", "vw", "w"]))}"'
        parts.append(f"<{tag}{attrs}>")
        depth += 1
        if draw(st.booleans()):
            parts.append(draw(st.sampled_from(
                ["hello", "big cat", "x", ""])))
        if draw(st.booleans()) and depth > 0:
            parts.append(f"</{tag}>")
            depth -= 1
    return "<body>" + "".join(parts) + "</body>"


_SIMPLE = st.sampled_from(
    _TAGS + ["*", ".a", ".b", "#x", "#y", "[data-k]", "[data-k=v]",
             "[data-k*=v]", "[data-k^=v]", "div.a", "p#x", ".a.b",
             "li:first-of-type", "span:contains(cat)",
             "a:containsOwn(hello)", "div:has(p)"])


@st.composite
def _selector(draw):
    n_chains = draw(st.integers(min_value=1, max_value=3))
    chains = []
    for _ in range(n_chains):
        n_parts = draw(st.integers(min_value=1, max_value=3))
        chain = [draw(_SIMPLE)]
        for _ in range(n_parts - 1):
            chain.append(draw(st.sampled_from([" ", " > ", " ~ ", " + "])))
            chain.append(draw(_SIMPLE))
        chains.append("".join(chain))
    return ", ".join(chains)


def _naive_select(query, root):
    """Reference evaluation: plain scan + _match_chain, no index, no
    fast paths, dedup by doc order — jsoup Selector semantics."""
    chains = _dom._parse_group(query)
    doc = root._doc
    if doc is not None and doc._idx_ver != doc.version:
        doc._index()  # _ord must be current for ordering
    hits = {}
    for el in root.iter_descendants():
        for chain in chains:
            if _dom._match_chain(chain, el, root):
                hits[el._ord] = el
                break
    return [hits[k] for k in sorted(hits)]


@settings(max_examples=250, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_doc_html(), st.lists(_selector(), min_size=1, max_size=3),
       st.randoms(use_true_random=False))
def test_select_fastpaths_match_naive_scan(html, queries, rnd):
    doc = parse(html)
    for q in queries:
        assert list(doc.select(q)) == _naive_select(q, doc), q
        got_first = doc.select_first(q)
        naive = _naive_select(q, doc)
        assert got_first is (naive[0] if naive else None), q
    # subtree select from a random non-root element
    els = [e for e in doc.iter_descendants() if e is not doc]
    if els:
        sub = rnd.choice(els)
        for q in queries:
            assert list(sub.select(q)) == _naive_select(q, sub), q
    # index-invalidating mutations: class/id value rewrite + removal
    if els:
        victim = rnd.choice(els)
        victim.set_attr("class", rnd.choice(_CLASSES))
        victim.set_attr("id", rnd.choice(_IDS))
        other = rnd.choice(els)
        other.remove()
        for q in queries:
            assert list(doc.select(q)) == _naive_select(q, doc), q


def test_nodes_set_matches_nodes_regex():
    # weights.get_nodes now probes C.NODES_SET; it must stay equivalent
    # to fullmatch of the reference's NODES alternation on any tag name
    from snacktory_spark import constants as C
    vocab = set(C.NODES_SET) | {
        "pre", "ptag", "xdiv", "divx", "tdi", "h11", "h3", "art", "articles",
        "sections", "span", "a", "body", "p", "td", "article", "section",
        "h1", "h2", "div", "", "P", "DIV"}
    for tag in vocab:
        assert (tag in C.NODES_SET) == bool(C.NODES.fullmatch(tag)), tag


def test_bodies_ref_and_stripped_body():
    from snacktory_spark.dom import parse
    doc = parse("<body class='x'><p>hi</p></body>")
    assert doc.bodies() == doc.select("body")
    assert len(doc.bodies()) == 1
    # a removed body yields [] from both paths
    doc.bodies()[0].remove()
    assert doc.bodies() == []
    assert list(doc.select("body")) == []
    # a manually built Document (no builder scaffold) falls back to select
    from snacktory_spark.dom import Document, Element
    d = Document()
    b = Element("body", {}, d, d)
    d.child_nodes.append(b)
    d._bump()
    assert list(d.bodies()) == [b]


def test_get_elements_by_tag_fresh_and_stale_index():
    from snacktory_spark.dom import parse
    doc = parse("<body><script>a</script><p>x</p><script>b</script>"
                "<div><script>c</script></div></body>")
    # stale index (no select yet): walk path
    walked = doc.get_elements_by_tag("script")
    assert [e.html() for e in walked] == ["a", "b", "c"]
    # fresh index: index path must agree, in doc order
    doc.select("p")
    indexed = doc.get_elements_by_tag("script")
    assert list(indexed) == list(walked)
    # after a removal (stale again) the walk path reflects the mutation
    walked[0].remove()
    assert [e.html() for e in doc.get_elements_by_tag("script")] == ["b", "c"]
    # element-rooted call always walks the subtree only
    div = doc.select("div")[0]
    assert [e.html() for e in div.get_elements_by_tag("script")] == ["c"]
