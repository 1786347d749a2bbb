"""The Spark html kernel: the oracle's own tree walk with a faster tokenizer.

``html_blocks`` builds ``refparser.html._TreeBuilder`` and walks it with
``refparser.html._Extractor`` -- the contract ``parse_html`` runs -- but
drives the builder from ``_scan_into``, a compiled-regex scan, instead of
stdlib ``html.parser``. The scan refuses (bails on) every construct whose
html.parser behaviour it does not replicate exactly, and a refused document
is parsed by ``parse_html`` itself, so the two can differ only in speed.

The scanner stays because html.parser's tokenizer is most of the oracle's
time. Process CPU of the kernel alone on one 4-core host, 7 interleaved
rounds of one fresh process each, min / median:

  ==========================================  ===============  ===============
  kernel                                      1,792 synth      the same spans
                                              html payloads    joined into 60
                                              (5.5 MB)         ~90 KB pages
  ==========================================  ===============  ===============
  ``parse_html`` (html.parser tokenizer)      0.98 / 1.34 s    1.39 / 1.50 s
  ``parse_html_rows`` over ``html_blocks``    0.80 / 0.92 s    0.85 / 1.02 s
  ==========================================  ===============  ===============

Reference parity: the behaviour of Docling HTML conversion + the
reference's cleaning walk (html_parser.py:37-57) as specified by the
refparser oracle; boilerplate thresholds in config.py.
"""

from __future__ import annotations

import re
from html import unescape as _unescape

import pandas as pd

from document_parser_spark.refparser.html import (
    _TreeBuilder,
    parse_html,
    tree_blocks,
)


# ---------------------------------------------------------------------------
# Fast tokenizer (regex scan) with conservative bail-out to html.parser
# ---------------------------------------------------------------------------
#
# html.parser's pure-Python state machine is most of the oracle's time
# (cProfile: goahead/parse_starttag/parse_endtag). The tree builder only
# consumes tag names, self-closing flags, ``src`` on <img>, and data runs —
# so a compiled-regex scan can drive the SAME handler methods faster.
# Parity strategy: the scan refuses whole documents on any construct whose
# html.parser behavior it does not replicate exactly (marked sections,
# quoted declarations, end-tag junk, tag-like text the master regex failed
# to parse, irregular or missing CDATA closes, quoted spans html.parser
# does not read as attribute values). Refusal routes the document through
# html.parser itself, so the fast path can only ever be a faster
# implementation of identical behavior — asserted by differential tests
# over fixtures, synth corpus, and adversarial cases.

# Start-tag NAME charset mirrors CPython's tagfind_tolerant
# ([a-zA-Z][^\t\n\r\f />\x00]*): names munch quotes, semicolons, etc.
# ('<a;>' is tag 'a;', not 'a' — fuzz-caught). '<' is excluded from
# our class: a name CPython would continue through '<' fails to match
# here, falls into a data segment, and bails the doc (safe fallback).
# The name quantifier must be POSSESSIVE for that bail to actually
# happen: a backtracking name could give a quote back to the attrs
# group and parse '<a"<">' as tag 'a' with attr '"<"' — a parse
# CPython never produces (its name munches through the quote AND the
# '<') — instead of bailing (fuzz-caught; pre-existing, surfaced by
# the widened raw-chars alphabet).
_MASTER_RE = re.compile(r"""<(?:
    (?P<end>/)(?P<etag>[a-zA-Z][-.a-zA-Z0-9:_]*)(?P<ejunk>[^<>]*)>
  | (?P<tag>[a-zA-Z][^\t\n\r\f\x20/>\x00<]*+)
      (?P<attrs>(?:[^<>"'=]++|=++\s*+(?:"[^"]*+"|'[^']*+')?+)*+)
      >
  | !--(?P<comment>.*?)--\s*>
  | (?P<decl>(?:!(?!--)|\?)[^<>]*)>
)""", re.VERBOSE | re.DOTALL)
# attrs mirrors CPython's locatestarttagend_tolerant QUOTING RULE:
# a quote opens a quoted span ONLY after '='(+optional ws) — a bare
# quote elsewhere stops the group, fails the branch, and bails the
# doc ('<b/'>'>' parsed here as one tag to the LAST '>' while
# CPython ends the start tag at the first '>', fuzz-caught). The
# group reads EVERY '=' as a value indicator, but CPython reads an
# '=' that no attribute name precedes ('<b ='x>y'>', '<b c=d='x>y'>')
# as the first character of a NAME, so its quote is no value quote
# and the tag ends at the first '>'; a tag whose attrs hold a quote
# is therefore checked against CPython's own start-tag end (see
# _scan_into) and bails where the two ends differ. All
# quantifiers are POSSESSIVE (Python 3.11): the alternatives
# partition on their first character, so maximal munch is the only
# viable parse and possessiveness changes no match — while the
# backtracking form was exponential on a truncated tag with no
# closing '>' ('<a ' + 'b'*N measured 2^N: 3.4 s at N=25), pinning
# an executor on real crawl tails before the html.parser fallback
# could even be reached.
# Comment close is '--\s*>', CPython's _commentclose: with a literal
# '-->' the common '-- >' close style made the lazy body swallow all
# content to the NEXT literal '-->' with no bail (content loss).
# the decl branch refuses '!--' prefixes: '<!-->' (a comment opener
# with no terminator) must NOT parse as a declaration — it falls into
# a data segment and bails to html.parser (fuzz-caught).
# unterminated comments/declarations deliberately do NOT match: they fall
# into a data segment, trip the suspicious-data check, and bail the doc
# (html.parser flushes them as data at close() — parser-specific recovery).

_SUSPICIOUS_DATA_RE = re.compile(r"<[a-zA-Z/!?]")
# CPython cdata close search (`</\s*script`, re.I) + the strict close form
# we can replicate; any loose-but-not-strict close -> bail.
_CDATA_TAGS = ("script", "style")
_CDATA_LOOSE = {t: re.compile(rf"</\s*{t}", re.IGNORECASE)
                for t in _CDATA_TAGS}
_CDATA_STRICT = {t: re.compile(rf"</{t}\s*>", re.IGNORECASE)
                 for t in _CDATA_TAGS}

# --- exact start-tag classification for tags whose source ends '/>' ---------
# CPython's attrfind_tolerant munches '/' into unquoted attr VALUES
# ((?![\'"])[^>\s]*) but not into attr NAMES, so '<script src=x/>' is a
# START tag with src='x/' (and script/style enter CDATA mode) while
# '<input disabled/>' and '<a href="x"/>' are startendtags; a dangling
# '=' even folds across whitespace ('<a b= />' -> start tag, b='/').
# The r2 ADVICE found the old raw "/>"-suffix check diverging here, and
# every cheaper heuristic we tried lost to some tolerant-parsing corner
# ('<a "q"=/>' name-with-quotes, '<a x=y"q"/>' quote-in-value...), so
# for this rare shape we replay CPython's own parse_starttag attr loop
# verbatim, using the stdlib's own regexes (parity with the RUNTIME's
# html.parser is the contract).
try:    # CPython html/parser.py module-level names (no underscore)
    from html.parser import attrfind_tolerant as _ATTRFIND
    from html.parser import locatestarttagend_tolerant as _LOCATE
    from html.parser import tagfind_tolerant as _TAGFIND
except ImportError:                                   # pragma: no cover
    # a runtime html.parser this scanner was never checked against:
    # every document takes the html.parser path
    _LOCATE = None


def _start_kind(src: str) -> tuple[str, list] | None:
    """Classify a candidate start tag whose raw text between '<' and '>'
    is ``src`` (ends with '/'), by replaying CPython parse_starttag's
    attribute loop. Returns ('se'|'s', attrs-as-CPython-would) or None
    to bail the doc to html.parser (its error-recovery path)."""
    full = src + ">"
    endpos = len(full)
    m = _TAGFIND.match(full)
    k = m.end()
    attrs: list = []
    while k < endpos:
        am = _ATTRFIND.match(full, k)
        if not am:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif (attrvalue[:1] == "'" == attrvalue[-1:]
              or attrvalue[:1] == '"' == attrvalue[-1:]):
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = _unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = am.end()
    end = full[k:endpos].strip()
    if end == "/>":
        return "se", attrs
    if end == ">":
        return "s", attrs
    return None        # parse_starttag error recovery: parser decides


def _scan_into(doc: str, hd, hs, he, hse) -> bool:
    """Fused tokenizer: drives the four handler callables (data, starttag,
    endtag, startendtag) DIRECTLY from the scan loop. Returns False
    when any construct requires the html.parser fallback; the caller then
    discards whatever the handlers built (the scan can bail after emission,
    e.g. suspicious data late in the document)."""
    if _LOCATE is None or "<![" in doc:
        return False
    pos, n = 0, len(doc)
    search = _MASTER_RE.search
    while pos < n:
        m = search(doc, pos)
        seg_end = m.start() if m else n
        if seg_end > pos:
            seg = doc[pos:seg_end]
            if _SUSPICIOUS_DATA_RE.search(seg):
                return False    # tag-like text the master regex rejected
            # html.parser emits '<'-that-starts-no-construct as its own
            # data event (text split at every raw '<') — replicate the
            # exact chunking so even chunk-level consumers agree.
            if "<" in seg:
                parts = seg.split("<")
                for j, part in enumerate(parts):
                    if j > 0:
                        hd("<")
                    if part:
                        hd(_unescape(part) if "&" in part else part)
            else:
                hd(_unescape(seg) if "&" in seg else seg)
        if m is None:
            break
        pos = m.end()
        if m.group("end"):
            junk = m.group("ejunk")
            if junk and (junk.strip() or "<" in junk):
                return False    # end-tag with junk: parser-specific recovery
            he(m.group("etag").lower())
            continue
        tag = m.group("tag")
        if tag is not None:
            rawtag, tag = tag, tag.lower()
            a = m.group("attrs")
            if '"' in a or "'" in a:
                # CPython's start tag must end where this match ends:
                # '>' right after its attrs, or '/>' for a self-closing tag
                e = _LOCATE.match(doc, m.start()).end()
                if pos != e + 1 and not (pos == e + 2 and doc[e] == "/"):
                    return False  # a quote CPython does not read as a value
            attrs: list = []
            if a.endswith("/"):
                res = _start_kind(rawtag + a)
                if res is None:
                    return False  # tolerant-parsing corner: parser decides
                kind, exact_attrs = res
                selfclose = kind == "se"
                if tag == "img":
                    attrs = exact_attrs
            else:
                selfclose = False
                if tag == "img" and a:
                    # replay CPython's attr loop exactly — a word-boundary
                    # src grep diverged four ways from html.parser (it hit
                    # data-src, src= inside another attr's quoted value,
                    # first-match-wins vs last-duplicate-wins, 'src==x')
                    res = _start_kind(rawtag + a)
                    if res is None:
                        return False  # parse_starttag error recovery
                    attrs = res[1]
            if selfclose:
                hse(tag, attrs)
            else:
                hs(tag, attrs)
                if tag in _CDATA_LOOSE:
                    lm = _CDATA_LOOSE[tag].search(doc, pos)
                    if lm is None:
                        return False  # html.parser drops an unclosed body
                    sm2 = _CDATA_STRICT[tag].match(doc, lm.start())
                    if sm2 is None:
                        return False  # irregular cdata close: parser recovery
                    if lm.start() > pos:
                        hd(doc[pos:lm.start()])
                    he(tag)
                    pos = sm2.end()
            continue
        if m.group("comment") is not None:
            continue             # the tree builder ignores comments
        decl = m.group("decl")
        if decl is not None:
            if '"' in decl or "'" in decl:
                return False    # quoted declarations scan past '>' in CPython
            continue             # doctype/PI: ignored by the tree builder
    return True


def html_blocks(doc: str) -> tuple[list[tuple[str, str, str]], bool]:
    """One html payload -> (``parse_html(doc)``'s blocks, whether the fast
    scan tokenized it). On a bail or an exception the tree the scan built
    is discarded and ``parse_html`` runs on html.parser."""
    builder = _TreeBuilder()
    try:
        fast = _scan_into(doc, builder.handle_data, builder.handle_starttag,
                          builder.handle_endtag, builder.handle_startendtag)
    except Exception:
        fast = False
    if not fast:
        return parse_html(doc), False
    return tree_blocks(builder.root), True


def parse_html_rows(htmls: pd.Series) -> pd.DataFrame:
    """A batch of html payloads -> one row per block
    ``(row, seq, kind, text, media_ref)``: ``row`` is the position in
    ``htmls``, ``seq`` the block's index in its document. NULL and empty
    payloads yield no rows."""
    rows = [(i, seq, *block)
            for i, html in enumerate(htmls) if html
            for seq, block in enumerate(html_blocks(html)[0])]
    return pd.DataFrame(rows,
                        columns=["row", "seq", "kind", "text", "media_ref"])
