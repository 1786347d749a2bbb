"""Differential tests: the regex fast scanner must either refuse a
document (bail to html.parser) or produce EXACTLY the event stream
html.parser produces — verified on every document by comparing the
scanner's events with an html.parser recorder's, and the kernel's blocks
(``html_blocks``) with the oracle's (``parse_html``), over the golden
fixtures, the synth corpus, and adversarial strings."""

from __future__ import annotations

from html.parser import HTMLParser

import pytest

from document_parser_spark.operators.html_parse import _scan_into, html_blocks
from document_parser_spark.refparser.html import parse_html
from document_parser_spark.sources.synth import fixture_docs, generate_doc


def _scan_fast(doc: str) -> list | None:
    """``_scan_into``'s events [('s'|'se', tag, attrs) | ('e', tag) |
    ('d', text)], or None when the scan bails."""
    events: list = []
    ap = events.append
    ok = _scan_into(
        doc,
        lambda t: ap(("d", t)),
        lambda tag, attrs: ap(("s", tag, attrs)),
        lambda tag: ap(("e", tag)),
        lambda tag, attrs: ap(("se", tag, attrs)),
    )
    return events if ok else None


class _Recorder(HTMLParser):
    """html.parser's events for the handlers the tree builder has. The
    scanner parses only <img> attributes (the walk reads nothing but an
    image's src), so other tags are recorded without theirs."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.events: list = []

    def handle_data(self, data):
        self.events.append(("d", data))

    def handle_starttag(self, tag, attrs):
        self.events.append(("s", tag, attrs if tag == "img" else []))

    def handle_endtag(self, tag):
        self.events.append(("e", tag))

    def handle_startendtag(self, tag, attrs):
        self.events.append(("se", tag, attrs if tag == "img" else []))


def _recorded(doc: str) -> list:
    rec = _Recorder()
    try:
        rec.feed(doc)
        rec.close()
    except Exception:
        pass  # parse_html walks whatever was built before the error
    return rec.events


def _assert_same(htmls: list[str]) -> int:
    """Every doc: kernel blocks == oracle blocks, and a doc the scanner
    accepts has html.parser's event stream (the events for the handlers
    the scanner does not call — comment, decl, pi — aside). Returns the
    number of docs the scanner refused."""
    bailed = 0
    for doc in htmls:
        blocks, fast = html_blocks(doc)
        assert blocks == parse_html(doc), doc[:200]
        events = _scan_fast(doc)
        assert fast == (events is not None), doc[:200]
        if events is None:
            bailed += 1
        else:
            assert events == _recorded(doc), doc[:200]
    return bailed


def test_fixture_corpus_identical():
    htmls = [t for _, spans in fixture_docs()
             for k, t, _, _ in spans if k == "html"]
    assert htmls
    _assert_same(htmls)


def test_synth_corpus_identical_and_mostly_fast():
    htmls = []
    i = 0
    while len(htmls) < 800:
        _, spans, _, _ = generate_doc(i)
        i += 1
        htmls.extend(t for k, t, _, _ in spans if k == "html")
    assert _assert_same(htmls) == 0  # the synth family must take the fast path


ADVERSARIAL = [
    "a < b and c > d",
    "<p>x &amp; y &lt;z&gt; &#65; &#x42; &notareal; &amp</p>",
    "<p>unclosed <div attr",
    "<P UPPER=1>Case</P>",
    "<img src=pic.png><img src='q.png'><img src=\"d.png\">",
    "<img src=\"a&amp;b.png\">",
    "<img>no src</img>",
    "<br/><br /><hr>",
    "<div/>selfclosed</div>",
    "<script>if (a<b) { x = '</div>'; }</script><p>after</p>",
    "<script>no close at all",
    "<script>x</scripty></script><p>t</p>",
    "<style>p > a { color: red }</style><p>kept</p>",
    "<!-- comment with <div> inside --><p>ok</p>",
    "<!-- unclosed comment <p>gone",
    "<!DOCTYPE html><p>doc</p>",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD\" \"http://x\"><p>quoted</p>",
    "<?php echo '<div>'; ?><p>pi</p>",
    "<![CDATA[ <p>raw</p> ]]><p>after</p>",
    "</ div><p>weird end</p>",
    "</div junk=1><p>end junk</p>",
    "</><p>empty end</p>",
    "<3 hearts <p>tagless</p>",
    "<a href=\"x'>broken quote</a><p>t</p>",
    "<a href='y\">other quote</a>",
    "<td>stray cell</td>",
    "<table><tr><td>a<td>b<tr><td>c</table>",
    "<ul><li>one<li>two</ul>",
    "<p>nested <a href='/x'>link <b>bold</b></a> end</p>",
    "<div><p>implicit close<div>again",
    "<p>trailing amp &",
    "<p>&#;</p>",
    "é café <p>unicode Ж</p>",
    "<a;>1 tolerant tag name</a;>",     # fuzz-caught: name munches ';'
    "<!-->after bogus comment<p>t</p>",  # fuzz-caught: not a decl
    "<a\"q\">quote in name</a>",
    "<!->tiny decl<p>t</p>",
    "<p>a\nb\r\nc</p>",
    "<pre>  keep\n  spacing &lt;x&gt;  </pre>",
    # r2 ADVICE: unquoted attr value abutting '/>' folds the '/' into the
    # value in CPython -> plain START tag (script enters CDATA mode)
    "<script src=x/>body leaks?</script><p>t</p>",
    "<pre id=a/>inside</pre><p>t</p>",
    "<h1 id=t/>head</h1>",
    "<table border=1/><tr><td>c</table>",
    "<img src=i.png/><p>t</p>",
    "<a href=http://e.com/p/>link</a>",
    "<input disabled/><p>t</p>",          # bare name: '/' NOT folded
    "<a b= />dangling eq</a>",            # folds across whitespace
    "<a b = />spaced eq</a>",
    "<a b=\"x\"=y/>eq-name corner</a>",
    "<a b=c //>double slash</a>",
    "<a b=\"x\"/y/>slash-skip name</a>",
    "<a a/=y/>slash before eq</a>",
    "<a foo=/>empty-ish value</a>",
    "<a b=c/d/>slash in value</a>",
    "<a b==y/>double eq</a>",
    "<style p=q/>h1{x}</style><p>t</p>",
    "",
    # review-caught: CPython's _commentclose is '--\s*>' — a literal
    # '-->' requirement made the lazy body swallow content to the NEXT
    # literal close (silent content loss, no bail)
    "<!-- note -- ><p>Real visible text</p><!-- tail -->",
    "<!-- a --  >c<p>d</p>",
    "<p>a</p><!-- x -- >b",
    "<!--x--!><p>bang close</p>",
    # review-caught: src extraction was a word-boundary grep, not an
    # attr parse — data-src, src= inside another attr's value, first-
    # vs-last duplicate, and '==' all diverged from html.parser
    "<img data-src=\"lazy.png\">",
    "<img data-src=b src=a>",
    "<img alt=\"src=foo\">",
    "<img src==x>",
    "<img src=a src=b>",
    "<img src=a src>",
    "<img src=%20&amp;x>",
    "<img src='q uo'>",
    # review-caught: truncated start tag with a long unquoted attr run
    # was exponential in the attrs backtracking (possessive now) —
    # 4000 chars completes instantly or the suite hangs
    "<a " + "b" * 4000,
    "crawl tail <div class=" + "x" * 2000,
    # fuzz-caught (pre-existing): a backtracking NAME gave the quote
    # back to the attrs group and parsed tag 'a' + attr '"<"' where
    # CPython's name munches through both — possessive name bails
    '<a"<">1',
    '<p"<"q>2</p>',
    # an '=' that no attribute name precedes is, to CPython, the first
    # character of a NAME: the quote after it is no value quote and the
    # tag ends at the first '>' (the scanner swallowed the quoted span)
    "<p>a<b ='x>y'>z",
    "<p>a<b c=d='x>y'>z",
    "<p>a<b c=\"x\"='y>z'>w",
    "<p>a<b c='x'=\"y>z\">w",
    "<p>a<b c==d='x>y'>z",
    "<p>a<b c= ='x>y'>z",
    "cx?<c;/='!<>=>-cb'p1>",
]


@pytest.mark.parametrize("idx", range(len(ADVERSARIAL)))
def test_adversarial_identical(idx):
    _assert_same([ADVERSARIAL[idx]])


def test_adversarial_all_together():
    _assert_same(ADVERSARIAL)


# ---- property-based fuzz: random tag soup must never diverge ---------------

from hypothesis import example, given, settings
from hypothesis import strategies as st

_FRAGMENTS = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>", "<br>",
    "<br/>", "<img src=i.png>", "<ul>", "<li>", "</ul>", "<table>", "<tr>",
    "<td>", "</table>", "<pre>", "</pre>", "<script>", "</script>",
    "<h2>", "</h2>", "text ", "words here ", "&amp;", "&lt;", "&#65;",
    "&bogus;", "&", "<", ">", "</", "<!", "<!--", "-->", "<!-- c -->",
    "<!DOCTYPE html>", "\"", "'", "/", "=", " ", "\n", "é", "<x y=1>",
    "</wrong>", "<UPPER>", "<3", "<table><td>c</td></table>",
    "<script src=x/>", "<img src=i.png/>", "<input disabled/>",
    "<a b= />", "<a b=c/d/>",
    "<!-- c -- >", "-- >", "<img data-src=b src=a>",
    "<img src=a src=b>", "<img alt='src=q'>", "<a bbbbbbbb",
])


@settings(max_examples=300, deadline=None)
@given(st.lists(_FRAGMENTS, min_size=0, max_size=30))
def test_fuzz_tag_soup_identical(frags):
    _assert_same(["".join(frags)])


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="<>&/!?-=\"' \nabcp1;#x", max_size=60))
@example("cx?<c;/='!<>=>-cb'p1>")  # stray '=' before a quote (ADVERSARIAL)
def test_fuzz_raw_chars_identical(doc):
    _assert_same([doc])
