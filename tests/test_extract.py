"""Extraction-layer unit tests.

Ports every inline test of the reference with the same HTML snippets
and expected strings (SURVEY.md §5 layer 1):
- html/mod.rs:106-148 (fragment root, doctype, comment)
- element_ref/mod.rs:170-194 (:scope)
- element_ref/element.rs:150-214 (has_id / has_class / is_link)
- selector.rs:191-211 (parse errors)
plus semantics tests for inner_text/inner_html/text() and the
tree-layer behaviors (adjacent-text merge, traversal order).
"""

import pytest

from swspark.extract.dom import ELEMENT, TEXT, Html
from swspark.extract.selectors import Selector, SelectorParseError, matches, select


def first(it):
    return next(iter(it), None)


# --- html/mod.rs tests ------------------------------------------------

def test_root_element_fragment():
    html = Html.parse_document('<a href="http://github.com">1</a>')
    href = first(html.select("a"))
    assert href.inner_html() == "1"
    assert href.attr("href") == "http://github.com"


def test_root_element_document_doctype():
    html = Html.parse_document("<!DOCTYPE html>\n<title>abc</title>")
    title = first(html.select("title"))
    assert title.inner_html() == "abc"


def test_root_element_document_comment():
    html = Html.parse_document("<!-- comment --><title>abc</title>")
    title = first(html.select("title"))
    assert title.inner_html() == "abc"


# --- element_ref/mod.rs :scope test ------------------------------------

def test_scope():
    html = """
            <div>
                <b>1</b>
                <span>
                    <span><b>2</b></span>
                    <b>3</b>
                </span>
            </div>
        """
    fragment = Html.parse_document(html)
    element1 = first(fragment.select("div > span"))
    element2 = first(select(element1, ":scope > b"))
    assert element2.inner_html() == "3"


# --- element_ref/element.rs tests ---------------------------------------

def test_has_id():
    fragment = Html.parse_document("<p id='link_id_456'>hey there</p>")
    element = first(fragment.select("p"))
    assert element.id == "link_id_456"

    fragment = Html.parse_document("<p>hey there</p>")
    element = first(fragment.select("p"))
    assert element.id != "any_link_id"


def test_is_link():
    fragment = Html.parse_document("<link href='https://www.example.com'>")
    element = first(fragment.select("link"))
    # is_link = <a>/<area>/<link> with href (element.rs is_link impl)
    assert element.name in ("a", "area", "link") and element.attr("href")

    fragment = Html.parse_document("<p>hey there</p>")
    element = first(fragment.select("p"))
    assert not (element.name in ("a", "area", "link") and element.attr("href"))


def test_has_class():
    fragment = Html.parse_document("<p class='my_class'>hey there</p>")
    element = first(fragment.select("p"))
    assert element.has_class("my_class")
    # Lua-surface hasClass is ASCII-case-insensitive (interop.rs:109-113)
    assert element.has_class("MY_CLASS", case_insensitive=True)
    assert not element.has_class("MY_CLASS")

    fragment = Html.parse_document("<p>hey there</p>")
    element = first(fragment.select("p"))
    assert not element.has_class("my_class")


# --- selector.rs tests ---------------------------------------------------

def test_selector_conversions():
    Selector.parse("#testid.testclass")


def test_invalid_selector_conversions():
    with pytest.raises(SelectorParseError):
        Selector.parse("<failing selector>")


def test_unsupported_pseudo_classes_rejected():
    # element.rs:97-111 — only tree-structural pseudo-classes exist
    for s in ("a:hover", "p::before", "a:visited", ":not(p)"):
        with pytest.raises(SelectorParseError):
            Selector.parse(s)


# --- inner_text / inner_html semantics ------------------------------------

# tokenizer edge cases: quoted '>', rawtext, unterminated constructs
# at EOF (stdlib's goahead recovery), bogus comments and end tags,
# entities, marked sections (the stdlib fallback), control characters
TOKENIZER_ADVERSARIAL = [
    "",
    "plain text only",
    "a < b and c > d",
    "<p>hello</p>",
    "<p class='x'>a<b>c</b></p>",
    '<a href="x>y">quoted gt</a>',
    "<a href='x>y' title=\"z>w\">both</a>",
    "<br/><hr />text",
    "<script>var x = '<p>not a tag</p>';</script>after",
    "<script>unterminated",
    "<style>p { color: red; }</style>tail",
    "<SCRIPT>UPPER</SCRIPT>ok",
    "<!-- comment -->text<!-- unterminated",
    "<!doctype html><p>x</p>",
    "<!DOCTYPE HTML PUBLIC '-//W3C//DTD HTML 4.01//EN'>y",
    "<?php echo 1; ?>text",
    "<?incomplete",
    "</p>stray end</p>",
    "</>empty end tag</>x",
    "</ bogus>text",
    "<div<div>nested lt</div>",
    "<p>&amp; &lt; &gt; &#65; &#x41; &unknown;</p>",
    "< notatag>",
    "<",
    "text<",
    "<p",
    "<p class",
    "<p class=",
    "<p class='unterminated",
    "<input value=no-quotes x>",
    "<input checked>",
    "<weird-tag:ns.dotted attr=1>t</weird-tag:ns.dotted>",
    "<p / >slash sep</p>",
    "<p a='1'/>selfclose attr",
    "<p\ta='1'\nb=2>ws attrs</p>",
    "<![CDATA[not replicated]]>",
    "<b>&euro;100&nbsp;&copy;</b>",
    "<p>multi\nline\ttext</p>",
    "\x00null<p>\x00</p>",
]


def test_stream_fulltext_equals_dom_inner_text():
    """The tree-free fulltext path must be byte-identical to the DOM
    path on adversarial inputs (rawtext, entities, broken nesting,
    stray end tags, PIs, CDATA-ish, unicode, empty, the tokenizer's
    edge cases) and on every page of the tiny fixture corpus."""
    from swspark.extract.dom import stream_fulltext
    from swspark.fixtures import generate_corpus

    cases = [
        b"<script>var a = '<b>x</b>';</script>after",
        b"&amp;&lt;&nbsp;mixed &unknown; refs",
        b"<p>unclosed <div>nested</p>text",
        b"plain text only",
        b"<style>p{color:red}</style><!-- comment -->tail",
        b"<?pi data?>x<![CDATA[y]]>z",
        b"<td>b</td></table>stray end",
        "unicode é中文 café".encode(),
        b"<br/><img src=x>t<textarea><b>raw</b></textarea>",
        b"",
        b"<title>t</title><pre>  spaced\n\n</pre>",
        *TOKENIZER_ADVERSARIAL,
        *generate_corpus("tiny").pages["html"],
    ]
    for h in cases:
        assert stream_fulltext(h) == Html.parse_document(h).root.inner_text(), h


def test_fulltext_udf_null_html_is_an_error_row(spark):
    """The fulltext spec runs through the shared batch loop: a null
    page is an error row, the others one record and no URLs."""
    from swspark.extract.udf import apply_extraction

    pages = spark.createDataFrame(
        [("https://ex.test/a", b"<p>a &amp; b</p>"), ("https://ex.test/b", None)],
        "url string, html binary",
    )
    rec, urls, errs = apply_extraction(pages, "fulltext")
    assert [tuple(r) for r in rec.collect()] == [("https://ex.test/a", "a & b")]
    assert urls.count() == 0
    assert [tuple(r) for r in errs.collect()] == [
        ("https://ex.test/b", "ValueError: null html")
    ]


def test_stream_fulltext_property():
    """Property: equality holds for arbitrary text (hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from swspark.extract.dom import stream_fulltext

    tagish = st.sampled_from(
        ["<div>", "</div>", "<script>", "</script>", "<b ", ">", "<",
         "&amp;", "&", "<!--", "-->", "<br/>", "text ", "\n", "<p id='x'>",
         # r4 implied-tag construction paths: text must survive every
         # auto-close / implication / ignore rule untouched
         "<li>", "<td>", "<tr>", "<table>", "</table>", "</p>", "<ul>",
         "<option>", "<head>", "</head>", "<body>", "</body>", "<h1>",
         "<dd>", "<dt>", "<tbody>", "</br>", "<button>", "<meta>",
         # r5 foster/formatting paths: text position must agree
         # between the tree and the stream on every construct
         "<b>", "</b>", "<i>", "</i>", "<a href=u>", "</a>", "<em>",
         "<nobr>", "</nobr>", "<caption>", "</caption>", "<th>",
         "</td>", "</tr>", "<object>", "</object>", "<marquee>"]
    )
    docs = st.lists(st.one_of(tagish, st.text(max_size=8)), max_size=30).map(
        "".join
    )

    @settings(max_examples=150, deadline=None)
    @given(docs)
    def check(html):
        assert stream_fulltext(html) == Html.parse_document(html).root.inner_text()

    check()


def test_inner_text_preorder_concat_no_normalization():
    # element_ref/mod.rs:87-99: pre-order concat, no separator,
    # no whitespace normalization
    h = Html.parse_document("<div>a<b>b1<i>b2</i></b>\n  c&amp;d</div>")
    el = first(h.select("div"))
    assert el.inner_text() == "ab1b2\n  c&d"


def test_adjacent_text_nodes_merged():
    # tree_sink.rs:100-124: adjacent text nodes merged on append
    h = Html.parse_document("<p>a&#65;b</p>")
    el = first(h.select("p"))
    texts = [n for n in el.children if n.kind == TEXT]
    assert len(texts) == 1
    assert texts[0].text == "aAb"


def test_entities_not_decoded_in_script():
    h = Html.parse_document("<script>if (a &amp;&amp; b) {}</script>")
    el = first(h.select("script"))
    assert el.inner_text() == "if (a &amp;&amp; b) {}"
    assert el.inner_html() == "if (a &amp;&amp; b) {}"


def test_inner_html_serialization():
    h = Html.parse_document('<div><p class="x">a &amp; b</p><br><img src="i.png"></div>')
    el = first(h.select("div"))
    assert el.inner_html() == '<p class="x">a &amp; b</p><br><img src="i.png">'
    p = first(h.select("p"))
    assert p.html() == '<p class="x">a &amp; b</p>'


def test_text_iterator_lazy_preorder():
    h = Html.parse_document("<ul><li>1</li><li>2<b>3</b></li></ul>")
    el = first(h.select("ul"))
    assert list(el.text_nodes()) == ["1", "2", "3"]


# --- selector matching semantics -------------------------------------------

SAMPLE = """
<!DOCTYPE html><html><body>
<section id="s1">
  <div class="definition special" data-k="v-1">
    <h1><a class="word" href="/w/foo">foo</a></h1>
  </div>
  <div class="definition">
    <h2><a class="word">bar</a></h2>
  </div>
</section>
<table><tr>
  <td><a href="/1">one</a><a href="/2">two</a><a href="/3">three</a></td>
</tr></table>
</body></html>
"""


@pytest.fixture(scope="module")
def doc():
    return Html.parse_document(SAMPLE)


def test_descendant_and_child(doc):
    assert [e.inner_text() for e in doc.select("section .word")] == ["foo", "bar"]
    assert [e.inner_text() for e in doc.select("section > div > h1 a")] == ["foo"]


def test_class_and_id(doc):
    assert len(list(doc.select("#s1"))) == 1
    assert len(list(doc.select("div.definition.special"))) == 1
    assert len(list(doc.select(".definition"))) == 2


def test_attr_selectors(doc):
    assert len(list(doc.select('[data-k="v-1"]'))) == 1
    assert len(list(doc.select("[data-k]"))) == 1
    assert len(list(doc.select('[data-k^="v"]'))) == 1
    assert len(list(doc.select('[data-k$="-1"]'))) == 1
    assert len(list(doc.select('[data-k*="-"]'))) == 1
    assert len(list(doc.select('[href|="/1"]'))) == 1
    assert len(list(doc.select('a[href~="/2"]'))) == 1


def test_last_of_type(doc):
    # fandom_mmh7.lua:24 uses td a:last-of-type
    assert [e.inner_text() for e in doc.select("td a:last-of-type")] == ["three"]
    assert [e.inner_text() for e in doc.select("td a:first-of-type")] == ["one"]
    assert [e.inner_text() for e in doc.select("td a:nth-child(2)")] == ["two"]
    assert [e.inner_text() for e in doc.select("td a:nth-last-child(1)")] == ["three"]


def test_nth_formulas(doc):
    assert [e.inner_text() for e in doc.select("td a:nth-child(odd)")] == ["one", "three"]
    assert [e.inner_text() for e in doc.select("td a:nth-child(2n)")] == ["two"]
    assert [e.inner_text() for e in doc.select("td a:nth-child(n+2)")] == ["two", "three"]


def test_selector_group_document_order(doc):
    got = [e.inner_text() for e in doc.select("h2 a, h1 a")]
    assert got == ["foo", "bar"]  # document order, not group order


def test_sibling_combinators(doc):
    assert [e.name for e in doc.select("h1 + h2")] == []
    assert [e.inner_text() for e in doc.select('a[href="/1"] + a')] == ["two"]
    assert [e.inner_text() for e in doc.select('a[href="/1"] ~ a')] == ["two", "three"]


def test_matches_api(doc):
    el = first(doc.select("div.special"))
    assert matches(el, "div.definition")
    assert not matches(el, "span")


def test_universal_selector(doc):
    td = first(doc.select("td"))
    assert len(list(select(td, "*"))) == 3


def test_scraping_context_location_kind(tmp_path):
    """VERDICT r3 gap 3: ctx.location() must distinguish glob-sourced
    pages (PATH, canonicalized filesystem path — interop.rs:166-176)
    from crawled pages (URL, the url string). Requires the spark
    fixture; placed here with a lazy import to keep module scope light."""
    import os

    import pytest as _pytest

    from swspark.extract.specs import ExtractionSpec
    from swspark.extract.udf import apply_extraction
    from swspark.session import get_spark
    from swspark.sources import read_html_glob, single_page

    spark = get_spark("swspark-tests", cores=8, shuffle_partitions=8)

    def scrap(page, url, ctx):
        loc = ctx.location()
        return [[loc.kind, loc.get()]], []

    spec = ExtractionSpec(
        name="loctest", version=1,
        accept_url=lambda u, k: True, scrap_page=scrap,
        fields=("kind", "loc"),
    )
    d = tmp_path / "pages"
    d.mkdir()
    (d / "a.html").write_text("<html><body>hi</body></html>")
    glob_pages = read_html_glob(spark, str(d / "*.html"))
    rec, _, errs = apply_extraction(glob_pages, spec)
    assert errs.count() == 0, errs.collect()
    row = rec.collect()[0]
    assert row.kind == "PATH"
    assert row.loc == os.path.realpath(str(d / "a.html"))

    # crawled/page-table source: URL kind, location() == the url
    url = "https://ex.test/a"
    rec2, _, errs2 = apply_extraction(
        single_page(spark, url, "<html><body>hi</body></html>"), spec
    )
    assert errs2.count() == 0, errs2.collect()
    row2 = rec2.collect()[0]
    assert (row2.kind, row2.loc) == ("URL", url)


def test_select_first_multi_equals_sequential(doc):
    from swspark.extract.selectors import select, select_first_multi

    sels = ("h1 a", ".definition", "td a:last-of-type", "nosuch", "#s1")
    multi = select_first_multi(doc.root, sels)
    seq = [next(iter(select(doc.root, s)), None) for s in sels]
    assert multi == seq
    assert multi[3] is None and multi[0] is not None
