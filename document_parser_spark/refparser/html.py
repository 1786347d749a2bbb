"""Pure-Python oracle for HTML -> content blocks.

Defines the contract the Spark ``html_blocks`` kernel must match exactly:
a Readability-style main-content extractor. Reference parity: the reference
delegates HTML to Docling's converter (app/modules/parser/v1/file_parsers/
html_parser.py:37) and then walks TextItem/TableItem/PictureItem in reading
order (:39-57), cleaning each text (:42-43). We reproduce that *behavior* —
ordered blocks of cleaned main-content text with headings/lists/tables/code/
images — with explicit boilerplate classification (link-density / drop-tag
scoring per FIXTURES.md §3 and config.py thresholds).

Output block tuples: ``(kind, text, media_ref)`` where
  kind      in {heading, text, list_item, table, code, image}
  media_ref structural metadata: heading->"h<level>", list_item->"li:<u|o>:<depth>",
            image-> src verbatim, else "".
"""

from __future__ import annotations

from html.parser import HTMLParser

from document_parser_spark.config import (
    CELL_SEP,
    DROP_TAGS,
    HEADING_TAGS,
    LINK_DENSITY_MAX,
    MIN_BLOCK_CHARS_WITH_LINKS,
    ROW_SEP,
    VOID_TAGS,
)
from document_parser_spark.refparser.textkernel import clean_and_fix

# Tags that interrupt an inline run and are walked as containers.
_BLOCK_TAGS = frozenset({
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "table",
    "blockquote", "div", "article", "section", "main", "body", "html",
    "ul", "ol", "tr", "td", "th", "thead", "tbody", "tfoot", "caption",
    "figcaption", "figure", "details", "summary", "fieldset", "dl", "dt",
    "dd", "address", "hgroup", "center",
})


class _Node:
    __slots__ = ("tag", "parent", "children", "attrs")

    def __init__(self, tag: str, parent: "_Node | None", attrs=()):
        self.tag = tag
        self.parent = parent
        self.children: list = []  # _Node | str (text chunk)
        self.attrs = dict(attrs)


class _TreeBuilder(HTMLParser):
    """Tolerant DOM builder: stray end tags ignored, unclosed tags implicitly
    closed at ancestor end (FIXTURES.md hm- family)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", None)
        self._stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, self._stack[-1], attrs)
        self._stack[-1].children.append(node)
        if tag not in VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self._stack[-1].children.append(_Node(tag, self._stack[-1], attrs))

    def handle_endtag(self, tag):
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data):
        if data:
            self._stack[-1].children.append(data)


def _collapse(text: str) -> str:
    return " ".join(text.split())


def _all_text(node: _Node) -> str:
    """Cleaned text of every non-dropped descendant (table cells flatten
    nested structure; cell cleaning parity with pdf_parser.py:59-62)."""
    parts: list[str] = []

    def rec(n: _Node) -> None:
        for c in n.children:
            if isinstance(c, str):
                parts.append(clean_and_fix(c))
            elif c.tag in DROP_TAGS:
                continue
            elif c.tag == "br":
                parts.append(" ")
            else:
                rec(c)

    rec(node)
    return "".join(parts)


class _Extractor:
    """Pre-order walk emitting blocks in true document order. An "inline run"
    accumulates text (and per-run link-char counts) until a block-level child
    flushes it."""

    def __init__(self) -> None:
        self.blocks: list[tuple[str, str, str]] = []
        self._run_parts: list[str] = []
        self._run_link_chars = 0

    # -- inline accumulation -------------------------------------------------

    def _add_text(self, text: str, in_link: bool) -> None:
        cleaned = clean_and_fix(text)
        self._run_parts.append(cleaned)
        if in_link:
            self._run_link_chars += len(_collapse(cleaned))

    def _gather_inline(self, node: _Node, in_link: bool) -> None:
        for child in node.children:
            if isinstance(child, str):
                self._add_text(child, in_link)
            elif child.tag in DROP_TAGS:
                continue
            elif child.tag == "img":
                self._flush_run()
                self._emit_image(child)
            elif child.tag == "br":
                self._run_parts.append(" ")
            elif child.tag in _BLOCK_TAGS:
                self._flush_run()
                self._walk(child)
            else:  # inline element (a, span, b, i, em, code, ...)
                self._gather_inline(child, in_link or child.tag == "a")

    def _flush_run(self, kind: str = "text", media_ref: str = "") -> None:
        text = _collapse("".join(self._run_parts))
        links = self._run_link_chars
        self._run_parts, self._run_link_chars = [], 0
        if not text:
            return
        if kind in ("text", "list_item", "heading"):
            if links and len(text) < MIN_BLOCK_CHARS_WITH_LINKS:
                return
            if len(text) > 0 and links / len(text) > LINK_DENSITY_MAX:
                return
        self.blocks.append((kind, text, media_ref))

    # -- emitters ------------------------------------------------------------

    def _emit_image(self, node: _Node) -> None:
        src = node.attrs.get("src", "") or ""
        self.blocks.append(("image", "", src))

    def _emit_code(self, node: _Node) -> None:
        parts: list[str] = []

        def raw(n: _Node) -> None:
            for c in n.children:
                if isinstance(c, str):
                    parts.append(c)
                elif c.tag not in DROP_TAGS:
                    raw(c)

        raw(node)
        text = clean_and_fix("".join(parts)).strip("\n")
        if text.strip():
            self.blocks.append(("code", text, ""))

    def _emit_table(self, node: _Node) -> None:
        rows: list[str] = []

        def find_rows(n: _Node) -> None:
            for c in n.children:
                if isinstance(c, str) or c.tag in DROP_TAGS:
                    continue
                if c.tag == "tr":
                    cells: list[str] = []
                    for cell in c.children:
                        if isinstance(cell, str) or cell.tag not in ("td", "th"):
                            continue
                        cells.append(_collapse(_all_text(cell)))
                    if cells:
                        rows.append(CELL_SEP.join(cells))
                elif c.tag != "table":  # thead/tbody/tfoot wrappers
                    find_rows(c)

        find_rows(node)
        if rows:
            self.blocks.append(("table", ROW_SEP.join(rows), ""))

    def _emit_list(self, node: _Node, depth: int) -> None:
        marker = "o" if node.tag == "ol" else "u"
        for child in node.children:
            if isinstance(child, str) or child.tag in DROP_TAGS:
                continue
            if child.tag == "li":
                for sub in child.children:
                    if isinstance(sub, str):
                        self._add_text(sub, False)
                    elif sub.tag in ("ul", "ol"):
                        self._flush_run("list_item", f"li:{marker}:{depth}")
                        self._emit_list(sub, depth + 1)
                    elif sub.tag in DROP_TAGS:
                        continue
                    elif sub.tag == "img":
                        self._flush_run("list_item", f"li:{marker}:{depth}")
                        self._emit_image(sub)
                    elif sub.tag in _BLOCK_TAGS:
                        self._flush_run("list_item", f"li:{marker}:{depth}")
                        self._walk(sub)
                    else:
                        self._gather_inline(sub, sub.tag == "a")
                self._flush_run("list_item", f"li:{marker}:{depth}")
            elif child.tag in ("ul", "ol"):
                self._emit_list(child, depth + 1)

    # -- dispatch ------------------------------------------------------------

    def _walk(self, node: _Node) -> None:
        tag = node.tag
        if tag in DROP_TAGS:
            return
        if tag in HEADING_TAGS:
            self._gather_inline(node, False)
            self._flush_run("heading", f"h{HEADING_TAGS[tag]}")
        elif tag in ("ul", "ol"):
            self._flush_run()
            self._emit_list(node, 0)
        elif tag == "pre":
            self._flush_run()
            self._emit_code(node)
        elif tag == "table":
            self._flush_run()
            self._emit_table(node)
        else:
            self._gather_inline(node, False)
            self._flush_run()


def tree_blocks(root: _Node) -> list[tuple[str, str, str]]:
    """A built tree -> its ordered main-content blocks."""
    extractor = _Extractor()
    extractor._walk(root)
    extractor._flush_run()
    return extractor.blocks


def parse_html(html: str) -> list[tuple[str, str, str]]:
    """HTML document/fragment -> ordered main-content blocks
    ``[(kind, text, media_ref), ...]``. Never raises on malformed input."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        pass  # emit whatever tree was built before the error
    return tree_blocks(builder.root)
