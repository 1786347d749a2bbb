"""Pure-Python oracle for the markdown serializers (SURVEY.md §2.9 F10-F15).

Reference parity: ``doc.export_to_markdown(image_mode, page_break_placeholder)``
at pdf_parser.py:93-95 / html_parser.py:66-67 with modes set at abc/abc.py:27,30.
Behaviors reproduced:
  F10 heading   '#'×level + space + text
  F11 table     GitHub pipe table, '---' separator row after the header
  F12 list      '- ' bullets ('1.' for ordered), two-space indent per depth
  F13 picture   PLACEHOLDER mode -> '<!-- image -->'; REFERENCED -> '![](ref)'
  F14 page break pages joined with '\\n---\\n\\n\\n\\n' (abc/abc.py:30)
  F15 code      triple-backtick fence (do_code_enrichment, pdf_parser.py:35)

Blocks are joined with a blank line, except consecutive list items which are
adjacent lines. Span metadata conventions (heading level, list marker/depth in
``media_ref``) per refparser.html docstring.
"""

from __future__ import annotations

import re

from document_parser_spark.config import (
    CELL_SEP,
    IMAGE_MODE_PLACEHOLDER,
    IMAGE_PLACEHOLDER,
    PAGE_BREAK_PLACEHOLDER,
    ROW_SEP,
)

_PAGE_BREAK = object()

# media_ref grammars are STRICT (ASCII digits, one optional sign), like
# the pdf coordinate grammar: a bare int() would accept whitespace,
# underscores and unicode digits. The grammar is output-visible ('h7',
# 'li:o', 'li:o:1:x' and float depths render the fallback), so it stays
# fixed, and a regexp form of it reproduces it exactly. Depth is
# clamped to [0, 100]: the indent string is depth-proportional, and an
# unbounded hostile media_ref would otherwise allocate gigabytes
# ('li:u:999999999').
_HEADING_REF_RE = re.compile(r"^h([+-]?[0-9]{1,9})$")
_LIST_REF_RE = re.compile(r"^([^:]*):([^:]*):([+-]?[0-9]{1,9})$")
LIST_DEPTH_MAX = 100


def _heading_level(media_ref: str) -> int:
    m = _HEADING_REF_RE.match(media_ref)
    if not m:
        return 1
    return min(max(int(m.group(1)), 1), 6)


def _list_prefix(media_ref: str) -> str:
    # media_ref = "li:<u|o>:<depth>" (exactly three ':'-parts; any
    # other shape falls back to an unordered depth-0 bullet)
    marker, depth = "u", 0
    m = _LIST_REF_RE.match(media_ref)
    if m:
        marker = m.group(2)
        depth = min(max(int(m.group(3)), 0), LIST_DEPTH_MAX)
    bullet = "1." if marker == "o" else "-"
    return "  " * depth + bullet + " "


def serialize_table(payload: str) -> str:
    rows = [r.split(CELL_SEP) for r in payload.split(ROW_SEP) if r != ""]
    if not rows:
        return ""
    ncols = max(len(r) for r in rows)
    out = []
    for i, row in enumerate(rows):
        cells = row + [""] * (ncols - len(row))
        out.append("| " + " | ".join(cells) + " |")
        if i == 0:
            out.append("|" + "---|" * ncols)
    return "\n".join(out)


def serialize_markdown(
    spans: list[tuple[str, str, str]],
    image_mode: str = IMAGE_MODE_PLACEHOLDER,
) -> str:
    """Ordered output spans ``[(kind, text, media_ref)]`` -> markdown string."""
    chunks: list = []  # (kind, rendered) | _PAGE_BREAK
    for kind, text, media_ref in spans:
        # NULL fields render as empty strings. In-pipeline spans never
        # carry NULLs after reassembly, but the serializer UDF must not
        # crash on any schema-valid input (review-caught: heading/
        # list_item with a NULL media_ref raised TypeError here).
        text = text if text is not None else ""
        media_ref = media_ref if media_ref is not None else ""
        if kind == "page_break":
            chunks.append(_PAGE_BREAK)
        elif kind == "heading":
            chunks.append((kind, "#" * _heading_level(media_ref) + " " + text))
        elif kind == "list_item":
            chunks.append((kind, _list_prefix(media_ref) + text))
        elif kind == "table":
            rendered = serialize_table(text)
            if rendered:
                chunks.append((kind, rendered))
        elif kind == "code":
            chunks.append((kind, "```\n" + text + "\n```"))
        elif kind == "image":
            if image_mode == IMAGE_MODE_PLACEHOLDER:
                chunks.append((kind, IMAGE_PLACEHOLDER))
            else:
                chunks.append((kind, f"![]({media_ref})"))
        else:  # "text" and any future plain kind
            chunks.append((kind, text))

    pages: list[str] = []
    buf: list[str] = []
    prev_kind: str | None = None
    for chunk in chunks:
        if chunk is _PAGE_BREAK:
            pages.append("".join(buf))
            buf, prev_kind = [], None
            continue
        kind, rendered = chunk
        if buf:
            buf.append("\n" if (kind == "list_item" and prev_kind == "list_item")
                       else "\n\n")
        buf.append(rendered)
        prev_kind = kind
    pages.append("".join(buf))
    return PAGE_BREAK_PLACEHOLDER.join(pages)
