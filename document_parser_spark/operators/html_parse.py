"""Batched HTML DOM parsing for Spark (`mapInPandas`) — the north-star's
"batched DOM parsing over a flattened DOM-node Arrow table".

Architecture (deliberately different from the recursive refparser oracle it is
golden-tested against):
  1. ``_FlatEmitter`` — a single-pass, event-driven tokenizer (stdlib
     ``html.parser``) that never builds a tree. It emits FLAT row tables for
     the whole Arrow batch: block metadata, inline text chunks (with link
     attribution), code payloads, and table cells, each keyed by
     (row_in_batch, block_seq).
  2. Post-processing over those flat tables with pandas/numpy: the oracle's
     own text kernels (``refparser.textkernel.clean_and_fix`` and
     ``refparser.html._collapse``) mapped over all chunks of the batch,
     link-density boilerplate classification, and cell/row/table assembly
     via ordered group-joins.

Reference parity: reproduces the behavior of Docling HTML conversion + the
reference's cleaning walk (html_parser.py:37-57) as specified by the
refparser oracle; boilerplate thresholds in config.py.
"""

from __future__ import annotations

import re
from html import unescape as _unescape
from html.parser import HTMLParser

import numpy as np
import pandas as pd

from document_parser_spark.config import (
    CELL_SEP,
    DROP_TAGS,
    HEADING_TAGS,
    LINK_DENSITY_MAX,
    MIN_BLOCK_CHARS_WITH_LINKS,
    ROW_SEP,
    VOID_TAGS,
)
from document_parser_spark.refparser.html import _collapse
from document_parser_spark.refparser.textkernel import clean_and_fix

_BLOCK_TAGS = frozenset({
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "table",
    "blockquote", "div", "article", "section", "main", "body", "html",
    "ul", "ol", "tr", "td", "th", "thead", "tbody", "tfoot", "caption",
    "figcaption", "figure", "details", "summary", "fieldset", "dl", "dt",
    "dd", "address", "hgroup", "center",
})
_RUN_KINDS = ("text", "heading", "list_item")

# frame effect codes
(_F_PLAIN, _F_DROP, _F_PRE, _F_LINK, _F_TABLE, _F_CELL, _F_INNER_TBL,
 _F_CONT, _F_TR, _F_TBL_MISC) = range(10)


class _FlatEmitter(HTMLParser):
    """One instance per Arrow batch; ``reset_doc`` re-arms it per input row.
    Appends to shared flat column lists (meta/chunks/code/cells)."""

    def __init__(self, out: dict) -> None:
        super().__init__(convert_charrefs=True)
        self.out = out

    def reset_doc(self, row_idx: int) -> None:
        self.reset()
        self.row = row_idx
        self.seq = 0
        self.tag_stack: list[tuple[str, int]] = []   # (tag, effect)
        self.containers: list[tuple[str, str]] = []  # (type, media_ref)
        self.list_depths: list[int] = []             # depth per open list
        self.drop_depth = 0
        self.pre_depth = 0
        self.link_depth = 0
        self.link_save: list[int] = []  # suspended link ctx per barrier
        self.code_buf: list[str] = []
        self.tables: list[dict] = []                 # open-table frames
        self.cur_chunks: list[tuple[str, bool]] = []

    # -- emission -------------------------------------------------------

    def _emit_meta(self, kind: str, media: str) -> int:
        o = self.out
        s = self.seq
        self.seq += 1
        o["m_row"].append(self.row)
        o["m_seq"].append(s)
        o["m_kind"].append(kind)
        o["m_media"].append(media)
        return s

    def _flush(self, final: bool) -> None:
        """Flush the current inline run. ``final`` = the innermost container
        is ending (use its own kind); else a block child interrupts it (the
        reference flushes those as plain text, list items excepted)."""
        if not self.cur_chunks:
            return
        ctype, media = self.containers[-1] if self.containers else ("generic", "")
        if ctype == "li" and (final or not self._inline_nested()):
            # oracle parity: _emit_list flushes "list_item" for runs it
            # ends itself (li end, or a block/img that is a DIRECT li
            # child), but a block interrupting from INSIDE an open
            # inline element flushes via _gather_inline's default —
            # plain "text"
            kind, kmedia = "list_item", media
        elif ctype == "heading" and final:
            kind, kmedia = "heading", media
        else:
            kind, kmedia = "text", ""
        s = self._emit_meta(kind, kmedia)
        o = self.out
        for i, (text, in_link) in enumerate(self.cur_chunks):
            o["c_row"].append(self.row)
            o["c_seq"].append(s)
            o["c_ord"].append(i)
            o["c_text"].append(text)
            o["c_link"].append(in_link)
        self.cur_chunks = []

    def _inline_nested(self) -> bool:
        """True when an inline element frame (span/a/b/...) is open
        above the innermost container — i.e. the interrupting block is
        not a direct child of that container."""
        for _tag, effect in reversed(self.tag_stack):
            if effect in (_F_PLAIN, _F_LINK):
                return True
            if effect == _F_CONT:
                return False
        return False

    def _emit_cell_chunk(self, text: str) -> None:
        t = self.tables[-1]
        o = self.out
        o["t_row"].append(self.row)
        o["t_seq"].append(t["seq"])
        o["t_tr"].append(t["tr"])
        o["t_cell"].append(t["cell"])
        o["t_ord"].append(t["ord"])
        o["t_text"].append(text)
        t["ord"] += 1

    # -- tag events ------------------------------------------------------

    def _open(self, tag: str, attrs) -> int:
        """Returns the effect code recorded for this frame."""
        if self.drop_depth > 0 or tag in DROP_TAGS:
            self.drop_depth += 1
            return _F_DROP
        if self.pre_depth > 0:
            return _F_PLAIN
        t = self.tables[-1] if self.tables else None
        if t is not None:
            if t["inner"] > 0 or t["cell_open"]:
                if tag == "table":
                    t["inner"] += 1
                    return _F_INNER_TBL
                return _F_PLAIN
            # inside table, between cells
            if tag == "table":
                # nested table directly under a table: invisible to output
                self.drop_depth += 1
                return _F_DROP
            if t["tr_open"]:
                # oracle parity (html.py find_rows): cells are DIRECT
                # td/th children of the open tr — any other element
                # (incl. a nested tr) blocks cell opening for its
                # whole subtree instead of re-parenting later cells.
                if tag in ("td", "th") and t["misc"] == 0:
                    t["cell"] += 1
                    t["cell_open"] = True
                    self._emit_cell_chunk("")  # presence marker
                    return _F_CELL
                t["misc"] += 1
                return _F_TBL_MISC
            if tag == "tr":
                t["tr"] += 1
                t["cell"] = -1
                t["tr_open"] = True
                return _F_TR
            # between rows: non-tr elements (thead/tbody wrappers, and
            # per find_rows even stray td/th) are transparent — rows
            # found inside them still count
            return _F_PLAIN
        if (self.containers and self.containers[-1][0] == "list"
                and tag not in ("li", "ul", "ol")):
            # oracle parity (html.py _emit_list): a non-li/ul/ol child
            # of an open list is skipped with its WHOLE subtree — the
            # tree walk never descends into it, so the stream arm must
            # make it invisible too, not re-parent it as a sibling.
            self.drop_depth += 1
            return _F_DROP
        if tag == "pre":
            self._flush(final=False)
            self.pre_depth += 1
            self.code_buf = []
            self._suspend_link()
            return _F_PRE
        if tag == "table":
            self._flush(final=False)
            self.tables.append({"seq": self._emit_meta("table", ""),
                                "tr": -1, "cell": -1, "cell_open": False,
                                "tr_open": False, "misc": 0,
                                "inner": 0, "ord": 0})
            self._suspend_link()
            return _F_TABLE
        if tag in ("ul", "ol"):
            self._flush(final=False)
            # Oracle depth rule (html.py _emit_list/_walk): depth
            # increments ONLY along direct li>ul/ol and ul/ol>ul/ol
            # chains; a list reached any other way (inside an inline
            # element, a div under an li, a stray li...) re-enters via
            # _walk and RESTARTS at depth 0. Counting open list
            # containers overstated depth for '<li><b><ul>' shapes
            # (fuzz-caught): the stream must check the DIRECT parent
            # tag and that it carries a genuine list/li container.
            parent = self.tag_stack[-1][0] if self.tag_stack else None
            top = self.containers[-1][0] if self.containers else None
            if ((parent in ("ul", "ol") and top == "list")
                    or (parent == "li" and top == "li")) and self.list_depths:
                depth = self.list_depths[-1] + 1
            else:
                depth = 0
            self.list_depths.append(depth)
            self.containers.append(("list", "o" if tag == "ol" else "u"))
            self._suspend_link()
            return _F_CONT
        if tag == "li":
            self._flush(final=False)
            if self.containers and self.containers[-1][0] == "list":
                marker = self.containers[-1][1]
                depth = self.list_depths[-1]
                self.containers.append(("li", f"li:{marker}:{depth}"))
            else:
                self.containers.append(("generic", ""))
            self._suspend_link()
            return _F_CONT
        if tag in HEADING_TAGS:
            self._flush(final=False)
            self.containers.append(("heading", f"h{HEADING_TAGS[tag]}"))
            self._suspend_link()
            return _F_CONT
        if tag == "a":
            self.link_depth += 1
            return _F_LINK
        if tag in _BLOCK_TAGS:
            self._flush(final=False)
            self.containers.append(("generic", ""))
            self._suspend_link()
            return _F_CONT
        return _F_PLAIN

    def _suspend_link(self) -> None:
        """Oracle parity (html.py _walk / _emit_list): every block
        boundary resets the link context — `_gather_inline(node,
        False)` — so text inside a block that opened UNDER an unclosed
        <a> is NOT link text. Suspend on barrier open, restore on its
        close (the matching _close_effect)."""
        self.link_save.append(self.link_depth)
        self.link_depth = 0

    def _close_effect(self, effect: int) -> None:
        if effect == _F_DROP:
            self.drop_depth -= 1
        elif effect == _F_PRE:
            self.pre_depth -= 1
            if self.pre_depth == 0:
                text = "".join(self.code_buf)
                if text.strip():
                    s = self._emit_meta("code", "")
                    o = self.out
                    o["k_row"].append(self.row)
                    o["k_seq"].append(s)
                    o["k_text"].append(text)
            self._restore_link()
        elif effect == _F_LINK:
            self.link_depth -= 1
        elif effect == _F_TABLE:
            if self.tables:
                self.tables.pop()
            self._restore_link()
        elif effect == _F_CELL:
            if self.tables:
                self.tables[-1]["cell_open"] = False
        elif effect == _F_TR:
            if self.tables:
                self.tables[-1]["tr_open"] = False
        elif effect == _F_TBL_MISC:
            if self.tables:
                self.tables[-1]["misc"] -= 1
        elif effect == _F_INNER_TBL:
            if self.tables:
                self.tables[-1]["inner"] -= 1
        elif effect == _F_CONT:
            self._flush(final=True)
            if self.containers.pop()[0] == "list":
                self.list_depths.pop()
            self._restore_link()

    def _restore_link(self) -> None:
        if self.link_save:
            self.link_depth = self.link_save.pop()

    # -- HTMLParser callbacks ---------------------------------------------

    def handle_starttag(self, tag, attrs):
        if tag in VOID_TAGS:
            self._handle_void(tag, attrs)
            return
        effect = self._open(tag, attrs)
        self.tag_stack.append((tag, effect))

    def handle_startendtag(self, tag, attrs):
        if tag in VOID_TAGS:
            self._handle_void(tag, attrs)
        else:
            effect = self._open(tag, attrs)
            self._close_effect(effect)

    def _handle_void(self, tag, attrs):
        if self.drop_depth > 0 or self.pre_depth > 0:
            return
        t = self.tables[-1] if self.tables else None
        if tag == "img":
            if t is not None:
                return  # images inside tables are not emitted (oracle parity)
            if self.containers and self.containers[-1][0] == "list" :
                return  # img directly under ul/ol: skipped
            self._flush(final=False)
            # dict() = last-duplicate-wins, the oracle's _Node.attrs
            # semantics (html.parser hands duplicates through verbatim;
            # a first-wins pick diverged on '<img src=a src=b>')
            src = dict(attrs).get("src") or ""
            self._emit_meta("image", src)
        elif tag == "br":
            if t is not None:
                if t["cell_open"]:
                    self._emit_cell_chunk(" ")
                return
            if self.containers and self.containers[-1][0] == "list":
                return
            if (self.containers and self.containers[-1][0] == "li"
                    and not self._inline_nested()):
                # oracle parity: _emit_list routes a DIRECT li-child br
                # through _gather_inline(br) — which walks the void
                # node's (empty) children and adds nothing; only a br
                # nested in an inline element adds the " " separator
                return
            self.cur_chunks.append((" ", False))

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        stack = self.tag_stack
        for i in range(len(stack) - 1, -1, -1):
            if stack[i][0] == tag:
                for j in range(len(stack) - 1, i - 1, -1):
                    self._close_effect(stack[j][1])
                del stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data):
        if not data or self.drop_depth > 0:
            return
        if self.pre_depth > 0:
            self.code_buf.append(data)
            return
        t = self.tables[-1] if self.tables else None
        if t is not None:
            if t["cell_open"]:
                self._emit_cell_chunk(data)
            return
        if self.containers and self.containers[-1][0] == "list":
            return
        self.cur_chunks.append((data, self.link_depth > 0))

    def finish(self) -> None:
        for j in range(len(self.tag_stack) - 1, -1, -1):
            self._close_effect(self.tag_stack[j][1])
        self.tag_stack = []
        self._flush(final=True)


# ---------------------------------------------------------------------------
# Fast tokenizer (regex scan) with conservative bail-out to html.parser
# ---------------------------------------------------------------------------
#
# html.parser's pure-Python state machine is ~65% of the HTML kernel
# (cProfile: goahead/parse_starttag/parse_endtag). The emitter above only
# consumes tag names, self-closing flags, ``src`` on <img>, and data runs —
# so a compiled-regex scan can drive the SAME handler methods ~3x faster.
# Parity strategy: the scan BUFFERS events and refuses whole documents on
# any construct whose html.parser behavior it does not replicate exactly
# (marked sections, quoted declarations, end-tag junk, tag-like text the
# master regex failed to parse, irregular CDATA closes). Refusal routes the
# document through html.parser itself, so the fast path can only ever be a
# faster implementation of identical behavior — asserted by differential
# tests over fixtures, synth corpus, and adversarial cases.

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
# CPython ends the start tag at the first '>', fuzz-caught). All
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
    from html.parser import tagfind_tolerant as _TAGFIND
except ImportError:                                   # pragma: no cover
    _TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
    _ATTRFIND = re.compile(
        r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
        r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*")


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
    endtag, startendtag) DIRECTLY from the scan loop — no event tuples, no
    replay dispatch (together ~25% of the kernel in cProfile). Returns False
    when any construct requires the html.parser fallback; the caller is
    responsible for rolling back whatever the handlers emitted (the scan can
    bail after emission, e.g. suspicious data late in the document)."""
    if "<![" in doc:
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
                        if pos < n:
                            hd(doc[pos:])   # raw, no unescape
                        pos = n
                        continue
                    sm2 = _CDATA_STRICT[tag].match(doc, lm.start())
                    if sm2 is None:
                        return False  # irregular cdata close: parser recovery
                    if lm.start() > pos:
                        hd(doc[pos:lm.start()])
                    he(tag)
                    pos = sm2.end()
            continue
        if m.group("comment") is not None:
            continue             # handle_comment is a no-op for the emitter
        decl = m.group("decl")
        if decl is not None:
            if '"' in decl or "'" in decl:
                return False    # quoted declarations scan past '>' in CPython
            continue             # doctype/PI: no-op for the emitter
    return True


def _scan_fast(doc: str) -> list | None:
    """Event-recording wrapper over ``_scan_into`` (the single scanner
    implementation): returns buffered events
    [('s'|'se', tag, attrs) | ('e', tag) | ('d', text)], or None when the
    scan bails. Used by the differential tests to inspect event streams."""
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


def _replay(em: _FlatEmitter, events: list) -> None:
    for ev in events:
        kind = ev[0]
        if kind == "d":
            em.handle_data(ev[1])
        elif kind == "s":
            em.handle_starttag(ev[1], ev[2])
        elif kind == "e":
            em.handle_endtag(ev[1])
        else:
            em.handle_startendtag(ev[1], ev[2])


def _feed_doc(em: _FlatEmitter, out: dict, i: int, html: str) -> bool:
    """Run one document through the fused fast path; on bail (or any
    exception) roll the shared output lists back to their pre-document
    lengths and re-parse the whole document with html.parser — so the fast
    path can only ever be a faster implementation of identical behavior.
    Returns True when the fast path handled the document."""
    marks = [(lst, len(lst)) for lst in out.values()]
    em.reset_doc(i)
    try:
        ok = _scan_into(html, em.handle_data, em.handle_starttag,
                        em.handle_endtag, em.handle_startendtag)
    except Exception:
        ok = False
    if not ok:
        for lst, ln in marks:
            del lst[ln:]
        em.reset_doc(i)
        try:
            em.feed(html)
            em.close()
        except Exception:
            pass
    em.finish()
    return ok


def _group_join(sort_cols: list[np.ndarray], texts: np.ndarray,
                sep: str = "") -> tuple[list[np.ndarray], np.ndarray,
                                        np.ndarray]:
    """Concatenate ``texts`` within groups defined by the (pre-sorted)
    parallel key arrays. Returns (group_keys, joined, starts).

    pandas ``groupby().agg("".join)`` falls back to a pure-python
    per-group loop (_aggregate_series_pure_python) — measured ~35% of
    the whole HTML kernel. Here group boundaries come from one
    vectorized change-detection pass and the python-level join runs
    ONLY for multi-chunk groups (the rare case; most blocks are a
    single text chunk)."""
    n = len(texts)
    change = np.ones(n, dtype=bool)
    change[1:] = False
    for k in sort_cols:
        change[1:] |= k[1:] != k[:-1]
    starts = np.flatnonzero(change)
    sizes = np.diff(np.append(starts, n))
    out = np.empty(len(starts), dtype=object)
    single = sizes == 1
    out[single] = texts[starts[single]]
    for g in np.flatnonzero(~single):
        s = starts[g]
        out[g] = sep.join(texts[s:s + sizes[g]])
    return [k[starts] for k in sort_cols], out, starts


def _sorted_by(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Stable sort by ``cols`` — skipped when the frame is already in order,
    which is the common case: the emitter appends rows per document in
    ascending (row, seq, ...) order, so emission order IS sorted order
    unless a handler exception left a partial tail."""
    n = len(df)
    if n < 2:
        return df
    arrays = [df[c].to_numpy() for c in cols]
    unordered = np.zeros(n - 1, dtype=bool)   # True where prev > next
    tied = np.ones(n - 1, dtype=bool)
    for a in arrays:
        with np.errstate(invalid="ignore"):
            unordered |= tied & (a[:-1] > a[1:])
            tied &= a[:-1] == a[1:]
    if not unordered.any():
        return df
    return df.sort_values(cols, kind="stable")


def _new_out() -> dict:
    return {k: [] for k in (
        "m_row", "m_seq", "m_kind", "m_media",
        "c_row", "c_seq", "c_ord", "c_text", "c_link",
        "k_row", "k_seq", "k_text",
        "t_row", "t_seq", "t_tr", "t_cell", "t_ord", "t_text",
    )}


def parse_html_rows(htmls: pd.Series) -> pd.DataFrame:
    """Parse a batch of HTML strings -> flat block table
    ``(row, seq, kind, text, media_ref)`` sorted by (row, seq). ``row`` is the
    positional index into ``htmls``. Text cleaning and collapse run once
    over each flat table of the whole batch."""
    out = _new_out()
    emitter = _FlatEmitter(out)
    for i, html in enumerate(htmls):
        if html is None or html == "":
            continue
        _feed_doc(emitter, out, i, html)

    frames: list[pd.DataFrame] = []

    meta = pd.DataFrame({"row": out["m_row"], "seq": out["m_seq"],
                         "kind": out["m_kind"], "media_ref": out["m_media"]})

    # ---- inline runs: clean, link-score, collapse, classify (vectorized)
    if out["c_row"]:
        cdf = pd.DataFrame({"row": out["c_row"], "seq": out["c_seq"],
                            "ord": out["c_ord"], "text": out["c_text"],
                            "link": out["c_link"]})
        cdf["clean"] = cdf["text"].map(clean_and_fix, na_action="ignore")
        # link-char counts need the collapsed length only for link chunks
        link_mask = cdf["link"].to_numpy()
        link_chars = np.zeros(len(cdf), dtype=np.int64)
        if link_mask.any():
            link_chars[link_mask] = cdf["clean"][link_mask].map(
                _collapse, na_action="ignore").str.len().to_numpy()
        cdf["link_chars"] = link_chars
        cdf = _sorted_by(cdf, ["row", "seq", "ord"])
        keys, joined, starts = _group_join(
            [cdf["row"].to_numpy(), cdf["seq"].to_numpy()],
            cdf["clean"].to_numpy())
        links = np.add.reduceat(cdf["link_chars"].to_numpy(), starts) \
            if len(starts) else np.array([], dtype=np.int64)
        runs = pd.DataFrame({"row": keys[0], "seq": keys[1],
                             "text": joined, "links": links})
        runs["text"] = runs["text"].map(_collapse, na_action="ignore")
        n = runs["text"].str.len()
        boiler = ((runs["links"] > 0) & (n < MIN_BLOCK_CHARS_WITH_LINKS)) | \
                 ((n > 0) & (runs["links"] / n.where(n > 0, 1) > LINK_DENSITY_MAX))
        runs = runs[(n > 0) & ~boiler]
        run_meta = meta[meta["kind"].isin(_RUN_KINDS)]
        frames.append(run_meta.merge(runs[["row", "seq", "text"]],
                                     on=["row", "seq"], how="inner"))

    # ---- code blocks: clean, strip edge newlines, keep if non-blank
    if out["k_row"]:
        kdf = pd.DataFrame({"row": out["k_row"], "seq": out["k_seq"],
                            "text": out["k_text"]})
        kdf["text"] = kdf["text"].map(
            clean_and_fix, na_action="ignore").str.strip("\n")
        kdf = kdf[kdf["text"].str.strip() != ""]
        kdf["kind"] = "code"
        kdf["media_ref"] = ""
        frames.append(kdf[["row", "seq", "kind", "media_ref", "text"]])

    # ---- tables: cell join -> collapse -> row join -> table join
    if out["t_row"]:
        tdf = pd.DataFrame({"row": out["t_row"], "seq": out["t_seq"],
                            "tr": out["t_tr"], "cell": out["t_cell"],
                            "ord": out["t_ord"], "text": out["t_text"]})
        tdf["clean"] = tdf["text"].map(clean_and_fix, na_action="ignore")
        tdf = _sorted_by(tdf, ["row", "seq", "tr", "cell", "ord"])
        ckeys, ctext, _ = _group_join(
            [tdf[c].to_numpy() for c in ("row", "seq", "tr", "cell")],
            tdf["clean"].to_numpy())
        ctext = pd.Series(ctext).map(_collapse, na_action="ignore").to_numpy()
        rkeys, rtext, _ = _group_join(ckeys[:3], ctext, sep=CELL_SEP)
        tkeys, ttext, _ = _group_join(rkeys[:2], rtext, sep=ROW_SEP)
        tables = pd.DataFrame({"row": tkeys[0], "seq": tkeys[1],
                               "kind": "table", "media_ref": "",
                               "text": ttext})
        frames.append(tables[["row", "seq", "kind", "media_ref", "text"]])

    # ---- images pass through
    imgs = meta[meta["kind"] == "image"].copy()
    if len(imgs):
        imgs["text"] = ""
        frames.append(imgs[["row", "seq", "kind", "media_ref", "text"]])

    if not frames:
        return pd.DataFrame(columns=["row", "seq", "kind", "text", "media_ref"])
    blocks = pd.concat(frames, ignore_index=True)
    blocks = blocks.sort_values(["row", "seq"], kind="stable").reset_index(drop=True)
    return blocks[["row", "seq", "kind", "text", "media_ref"]]


# NOTE: the per-kind Spark stage that used to live here (html_branch)
# was superseded by the fused Python arm in plans/pipeline.py
# (_python_parse_branch dispatches html alongside every other
# Python-kernel kind inside ONE mapInPandas scan) and deleted so the
# two paths cannot drift (r3 ADVICE).
