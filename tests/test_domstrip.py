import ast
from html.parser import HTMLParser
from unittest import mock

import pytest
from hypothesis import example, given, settings, strategies as st

from effocr_spark.functions import domstrip
from effocr_spark.functions.domstrip import strip_html
from effocr_spark.synth.pages import generate_page


def test_basic_main_content():
    html = b"""<html><head><script>x=1</script></head><body>
    <nav><a href="/a">aaaa</a><a href="/b">bbbb</a></nav>
    <div><p>The main story text lives here in a paragraph.</p>
    <p>And a second paragraph of body copy.</p></div>
    <footer><a href="/c">contact us now</a></footer>
    </body></html>"""
    out = strip_html(html)
    assert out == ("The main story text lives here in a paragraph.\n"
                   "And a second paragraph of body copy.")


def test_boilerplate_dropped():
    html = b"<body><nav>MENU MENU MENU MENU</nav><div><p>real text body</p></div></body>"
    assert "MENU" not in strip_html(html)


def test_link_density_penalty():
    html = (b'<body><div><a href="/1">linky linky linky linky linky</a></div>'
            b"<div><p>plain body prose of similar length here</p></div></body>")
    assert strip_html(html) == "plain body prose of similar length here"


def test_whitespace_normalized():
    html = b"<body><div><p>a   b\n\t c</p></div></body>"
    assert strip_html(html) == "a b c"


def test_malformed_html_tolerated():
    html = b"<body><div><p>unclosed paragraph<div><p>another</body>"
    out = strip_html(html)
    assert "unclosed paragraph" in out


def test_empty_and_garbage():
    assert strip_html(b"") == ""
    assert strip_html(b"\x00\x01\x02") == ""
    assert strip_html(b"no tags at all") == ""


def test_entity_references_decoded():
    html = b"<body><div><p>salt &amp; pepper &lt;tags&gt; &#65;BC</p></div></body>"
    assert strip_html(html) == "salt & pepper <tags> ABC"


def test_table_layout_page():
    html = (b"<body><table><tr><td><a href='/x'>nav nav nav nav</a></td>"
            b"<td><p>the real article body sits in this cell with plenty of prose "
            b"to win on text density over the nav cell</p></td></tr></table></body>")
    out = strip_html(html)
    assert "real article body" in out
    assert "nav nav" not in out


def test_nested_article_with_comments():
    html = (b"<body><article><h1>Title Here</h1><p>First paragraph of the story "
            b"with enough words to dominate scoring.</p><p>Second paragraph also "
            b"quite long with many words in it.</p></article>"
            b"<div id='comments'><a href='/u/1'>user1</a> short comment "
            b"<a href='/u/2'>user2</a> another comment reply here</div></body>")
    out = strip_html(html)
    assert out.startswith("Title Here")
    assert "First paragraph" in out and "Second paragraph" in out
    assert "user1" not in out


def test_unicode_content_preserved():
    html = "<body><div><p>naïve café — résumé 日本語テキスト</p></div></body>".encode("utf-8")
    assert strip_html(html) == "naïve café — résumé 日本語テキスト"


def test_br_splits_paragraphs():
    html = b"<body><div><p>line one<br>line two</p></div></body>"
    assert strip_html(html) == "line one\nline two"


def test_generated_pages_match_golden():
    checked = 0
    for i in range(300):
        p = generate_page(i, seed=42)
        if p["branch"] == "dom":
            assert strip_html(p["html"]) == p["true_text"], p["url"]
            checked += 1
    assert checked > 100


# ---- web-corpus stress fixtures (ROADMAP item 4): each golden hand-
# checked — layout tables, nested articles, link-heavy comment sections,
# entity references, malformed nesting, comments/script content ----

def test_table_as_layout_picks_article_cell():
    html = (b"<html><body><table><tr>"
            b"<td><a href='/'>nav one</a> <a href='/'>nav two</a></td>"
            b"<td><p>The actual article body sits inside a layout table "
            b"cell with plenty of text to win.</p>"
            b"<p>Second paragraph of the piece continues here with more "
            b"words.</p></td></tr></table></body></html>")
    assert strip_html(html) == (
        "The actual article body sits inside a layout table cell with "
        "plenty of text to win.\n"
        "Second paragraph of the piece continues here with more words.")


def test_nested_articles_outer_wins_without_duplicating_inner():
    html = (b"<html><body><article><h1>Outer story</h1>"
            b"<p>Outer lead paragraph with enough text to matter.</p>"
            b"<article><p>Inner quoted mini-article, short.</p></article>"
            b"<p>Outer conclusion paragraph, also long enough to count.</p>"
            b"</article></body></html>")
    out = strip_html(html)
    assert out == ("Outer story\n"
                   "Outer lead paragraph with enough text to matter.\n"
                   "Outer conclusion paragraph, also long enough to count.")
    assert "Inner quoted" not in out  # inner paras belong to inner only


def test_link_heavy_comment_section_loses_to_story():
    html = (b"<html><body><div id='main'>"
            b"<p>Story text one with a reasonable amount of words in it.</p>"
            b"<p>Story text two, still the main content of this page.</p>"
            b"</div><div class='comments'>"
            b"<p><a href='/u/1'>user1</a> says: short hot take</p>"
            b"<p><a href='/u/2'>user2</a> says: another take</p>"
            b"</div></body></html>")
    out = strip_html(html)
    assert "Story text one" in out and "hot take" not in out


def test_entity_references_decode():
    html = (b"<html><body><div><p>Fish &amp; Chips cost &pound;5 "
            b"&mdash; &quot;bargain&quot; &lt;really&gt;.</p></div>"
            b"</body></html>")
    assert strip_html(html) == 'Fish & Chips cost £5 — "bargain" <really>.'


def test_malformed_nesting_tolerated():
    html = (b"<html><body><div><p>Unclosed paragraph one"
            b"<p>Second paragraph <b>bold never closed"
            b"<div><p>Nested div paragraph with the most text of all of "
            b"them here.</div></body>")
    assert strip_html(html) == (
        "Nested div paragraph with the most text of all of them here.")


def test_html_comments_and_script_bodies_invisible():
    html = (b"<html><body><!-- <p>commented out</p> --><div>"
            b"<p>Visible text only.</p>"
            b"<script>var x = \"<p>not text</p>\";</script></div>"
            b"</body></html>")
    assert strip_html(html) == "Visible text only."


def test_all_links_page_yields_empty():
    assert strip_html(b"<html><body><nav><a href='/'>only links</a>"
                      b"</nav></body></html>") == ""


def test_transport_encodings_and_legacy_charsets():
    """WARC-derived corpora carry gzip/deflate bodies verbatim and
    legacy-charset pages: gzip and zlib transport decompress, declared
    charsets honor, undeclared non-UTF-8 falls back to cp1252 (the
    browser behavior) instead of garbling with replacement chars."""
    import gzip
    import zlib

    from effocr_spark.functions.domstrip import strip_html

    doc = ("<html><body><main><p>Real content paragraph here with "
           "words.</p></main></body></html>")
    want = "Real content paragraph here with words."
    assert strip_html(gzip.compress(doc.encode())) == want
    assert strip_html(zlib.compress(doc.encode())) == want
    legacy = ('<html><head><meta charset="windows-1252"></head><body>'
              "<main><p>Café déjà vu – naïve</p></main></body></html>"
              ).encode("cp1252")
    assert strip_html(legacy) == "Café déjà vu – naïve"
    legacy2 = ("<html><body><main><p>Smart “quotes” and — dashes</p>"
               "</main></body></html>").encode("cp1252")
    assert strip_html(legacy2) == "Smart “quotes” and — dashes"
    # truncated gzip quarantines to empty, never raises
    assert strip_html(gzip.compress(doc.encode())[:10]) == ""


# ---- the tokenizer against the stdlib's: `_Extractor.goahead` (fast
# path, unterminated-tail predictions) must give the event sequence of
# `html.parser.HTMLParser.goahead` on the running interpreter, and so
# the same `strip_html` output ----


class _Recorder(domstrip._Extractor):
    def __init__(self):
        super().__init__()
        self.events = []

    def handle_starttag(self, tag, attrs):
        self.events.append(("start", tag))
        super().handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        self.events.append(("end", tag))
        super().handle_endtag(tag)

    def handle_data(self, data):
        self.events.append(("data", data))
        super().handle_data(data)

    def handle_comment(self, data):
        self.events.append(("comment", data))

    def handle_decl(self, decl):
        self.events.append(("decl", decl))

    def handle_pi(self, data):
        self.events.append(("pi", data))

    def unknown_decl(self, data):
        self.events.append(("unknown_decl", data))


class _StdlibRecorder(_Recorder):
    goahead = HTMLParser.goahead


class _StdlibExtractor(domstrip._Extractor):
    goahead = HTMLParser.goahead


def _events(cls, text):
    parser = cls()
    try:
        parser.feed(text)
        parser.close()
    except Exception as e:  # strip_html turns these into ""
        parser.events.append(("raises", type(e).__name__))
    return parser.events


def _assert_stdlib_parity(pages):
    for html in pages:
        text = (html.decode("utf-8", "replace") if isinstance(html, bytes)
                else html)
        assert _events(_Recorder, text) == _events(_StdlibRecorder, text), \
            text[:300]
    ours = [strip_html(h) for h in pages]
    with mock.patch.object(domstrip, "_Extractor", _StdlibExtractor):
        stdlib = [strip_html(h) for h in pages]
    assert ours == stdlib


def test_tokenizer_matches_stdlib_on_born_digital_pages():
    from perfbench.workloads import html_page

    _assert_stdlib_parity([html_page(1, r)["html"] for r in range(4000)])


def test_tokenizer_matches_stdlib_on_crawl_and_embedded_pages():
    from perfbench.workloads import SIZES, crawl_page, embedded_page

    rows = [crawl_page(1, r) for r in range(SIZES["full"]["crawl_mix"])]
    rows += [embedded_page(1, r) for r in range(150)]
    pages = [r["html"] for r in rows if r["kind"] != "ocr"]
    assert len(pages) > 1000
    _assert_stdlib_parity(pages)


def test_tokenizer_matches_stdlib_on_this_files_literals():
    with open(__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    literals = [node.value for node in ast.walk(tree)
                if isinstance(node, ast.Constant)
                and isinstance(node.value, (str, bytes))
                and ("<" in node.value if isinstance(node.value, str)
                     else b"<" in node.value)]
    assert len(literals) > 30
    _assert_stdlib_parity(literals)


@pytest.mark.parametrize("unit", [
    "<a ", "<a", "<!--", "</a", "< ", "<a\x00", "<?", "<!x", "<!doctype ",
    "<![CDATA[", "<![if ", "<a x='>' ", "<a x='", '<a b="', "<a/", "<a =",
    "x<a", "<a b", "<a b=c ", "<a\x00 ", "<a b='c'<b ",
])
def test_unterminated_tails_match_stdlib(unit):
    tail = unit * (1500 // len(unit))
    _assert_stdlib_parity([
        "<body><div><p>lead text</p>" + tail,
        "<body><div><p>lead</p><b x='1'>" + tail + "</div>",
        "<body><div>" + tail + " & more &amp",
    ])


# a hostile alphabet for tag soup: case, `/>`, quotes holding `>`,
# unquoted and `=`-less attributes, CDATA elements and their odd end
# tags, comments, declarations, marked sections, processing
# instructions, character references near the end, stray `<`, NUL,
# and the unterminated-tail units
_SOUP = [
    "<div>", "<DIV>", "<p>", "</p>", "<P CLASS=X>", "</P >", "<td>", "</td>",
    "<main>", "<nav>", "</nav>", "<a href='x>y'>", '<a href="q">',
    "<a b=c>", "<a b>", "<a b = 'c' >", "<a b=c d='e' f=\"g\">",
    "<a b=='c'>", "<a b='c'd>", "<a =b>", "<a b=>", "<a b= >", "<a<b>",
    "<a b=<c>", "<a\tb\nc\rd\fe>", "<a\x0bb>", "<a　b>", "<a b\x00=c>",
    "<a @click=x>", "<br/>", "<br />", "<img src=x/>", "<a/b>", "<a / >",
    "</a b>", "</ a>", "</>", "</1>", "<script>", "<script type=x>",
    "</script>", "</script >", "</SCRIPT>", "<style>", "</style>",
    "<!-- c -->", "<!--", "-->", "--!>", "--", "<!>", "<!x>",
    "<!DOCTYPE html>", "<!doctype", "<![CDATA[x]]>", "<![CDATA[", "]]>",
    "<![if x]>", "<![endif]>", "<![foo]>", "<?pi x?>", "<?", "&amp",
    "&amp;", "&#x41;", "&#65", "&#", "&", "<", ">", "\x00", "<a ", "<a",
    "</a", "< ", "<a\x00", "text", "word", "é", " ", "\n", "\t", "\x0b",
    "\xa0", "　", "=", '"', "'", "/", "`",
]


@settings(deadline=None)
# a tag name holds the vertical tab and Unicode spaces, which `\s`
# matches: the fast path must not split the name there
@example("<a\xa0\x00=-->")
@example("<a\u3000 b=c>")
@example("<a\x0b b>")
@given(st.lists(st.one_of(st.sampled_from(_SOUP),
                          st.text(alphabet="<>/='\"!-?&#;ab \x00\n",
                                  max_size=6)),
                max_size=40).map("".join))
def test_tokenizer_matches_stdlib_on_tag_soup(text):
    _assert_stdlib_parity([text])
