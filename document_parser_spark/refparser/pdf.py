"""Pure-Python oracle for PDF layout parsing: page -> column -> block -> line
grouping by y-coordinate clustering and reading-order sort.

Reference parity: the reference's PDF path delegates to Docling's layout
pipeline (app/modules/parser/v1/file_parsers/pdf_parser.py:31-43,
``generate_parsed_pages=True`` + ``ThreadedStandardPdfPipeline``), which
groups glyphs->lines->blocks and sorts blocks into reading order, then cleans
every text item (pdf_parser.py:53-62) and joins pages with the page-break
placeholder (pdf_parser.py:94, abc/abc.py:30). We reproduce that behavior
over coordinate-bearing ``pdf_line`` spans (FIXTURES.md encoding:
``"<page>;<x0>;<y0>;<x1>;<y1>|<text>"``, PDF points ×100, y grows upward).

Rules (FIXTURES.md §4.2, constants in config.py):
  - columns: page is two-column when the largest gap between sorted distinct
    x0 values exceeds COLUMN_GAP_FRACTION × page x-extent; left column reads
    first.
  - blocks: within a column, lines sorted by (-y1, x0); whitespace gap
    ``prev.y0 - cur.y1`` > Y_GAP_FACTOR × median line height starts a block.
  - headings: a single-line block whose line height is ≥2.0× the page median
    is a level-1 heading; ≥1.5× is level-2 (Docling emits PDF headings from
    font size; line height is our deterministic stand-in).
  - pages joined by a ``page_break`` span between consecutive pages present.
"""

from __future__ import annotations

import re
from statistics import median

from document_parser_spark.config import COLUMN_GAP_FRACTION, Y_GAP_FACTOR
from document_parser_spark.refparser.textkernel import clean_and_fix


class PdfLineError(ValueError):
    """Raised for a malformed pdf_line payload (-> parse_failure tally)."""


# the ONE definition of the coordinate-magnitude grammar bound: the
# paged path's page-field regexp (plans/pipeline.py) imports it, so the
# page a line is grouped by and the page parse_line reads cannot drift
# apart. The bound is output-visible (a 16-digit coordinate is a parse
# failure) and keeps every accepted page inside a Spark long.
COORD_MAX_DIGITS = 15
_COORD_RE = re.compile(r"[+-]?[0-9]{1,%d}\Z" % COORD_MAX_DIGITS)


def parse_line(payload: str) -> tuple[int, int, int, int, int, str]:
    """``"1;7200;70100;30950;71300|Hello"`` -> (page,x0,y0,x1,y1,text).

    Coordinates must match the FIXTURES.md grammar exactly: ASCII
    digits with one optional sign. A bare ``int(p)`` would silently
    accept whitespace padding, ``1_0`` underscores, and non-ASCII
    unicode digits, none of which the paged path's JVM page-field
    regexp accepts; the regex pins one grammar for both.

    Magnitude is bounded at 15 digits (values < 10^15): the paged path
    groups lines by the page field cast to a Spark long, so every
    accepted page must fit one, and the bound is part of the output
    contract (a longer field is a parse failure). Real coordinates
    are PDF points x100 (< 10^7)."""
    head, sep, text = payload.partition("|")
    if not sep:
        raise PdfLineError("missing '|' separator")
    parts = head.split(";")
    if len(parts) != 5:
        raise PdfLineError("expected 5 coordinate fields")
    if not all(_COORD_RE.match(p) for p in parts):
        raise PdfLineError("non-integer coordinate")
    page, x0, y0, x1, y1 = (int(p) for p in parts)
    return page, x0, y0, x1, y1, text


def _split_columns(lines: list[tuple]) -> list[list[tuple]]:
    """lines: (x0, y0, x1, y1, text). Returns 1 or 2 column groups, left
    first, per the largest-x0-gap rule."""
    xs = sorted({ln[0] for ln in lines})
    if len(xs) < 2:
        return [lines]
    extent = max(ln[2] for ln in lines) - min(xs)
    if extent <= 0:
        return [lines]
    best_gap, best_split = 0, None
    for a, b in zip(xs, xs[1:]):
        if b - a > best_gap:
            best_gap, best_split = b - a, (a + b) / 2.0
    if best_gap <= COLUMN_GAP_FRACTION * extent:
        return [lines]
    left = [ln for ln in lines if ln[0] < best_split]
    right = [ln for ln in lines if ln[0] >= best_split]
    if not left or not right:
        return [lines]
    return [left, right]


def _cluster_blocks(col_lines: list[tuple], med_height: float) -> list[list[tuple]]:
    """Sort a column's lines top-down and split into blocks at large y gaps."""
    ordered = sorted(col_lines, key=lambda ln: (-ln[3], ln[0]))
    blocks: list[list[tuple]] = []
    prev = None
    for ln in ordered:
        if prev is None or (prev[1] - ln[3]) > Y_GAP_FACTOR * med_height:
            blocks.append([ln])
        else:
            blocks[-1].append(ln)
        prev = ln
    return blocks


def parse_pdf_lines(payloads: list[str]) -> tuple[list[tuple[str, str, str]], int]:
    """All pdf_line payloads of one document (in input offset order) ->
    (ordered blocks ``[(kind, text, media_ref)]`` incl. page_break spans,
    n_failures)."""
    failures = 0
    by_page: dict[int, list[tuple]] = {}
    for payload in payloads:
        try:
            page, x0, y0, x1, y1, text = parse_line(payload)
        except PdfLineError:
            failures += 1
            continue
        by_page.setdefault(page, []).append((x0, y0, x1, y1, text))

    blocks_out: list[tuple[str, str, str]] = []
    for page_idx, page in enumerate(sorted(by_page)):
        if page_idx > 0:
            blocks_out.append(("page_break", "", ""))
        lines = by_page[page]
        heights = [ln[3] - ln[1] for ln in lines]
        med = median(heights) if heights else 1.0
        if med <= 0:
            med = 1.0
        for col in _split_columns(lines):
            for block in _cluster_blocks(col, med):
                text = " ".join(
                    t for t in (clean_and_fix(ln[4]).strip() for ln in block) if t
                )
                if not text:
                    continue
                kind, media_ref = "text", ""
                if len(block) == 1:
                    h = block[0][3] - block[0][1]
                    if h >= 2.0 * med:
                        kind, media_ref = "heading", "h1"
                    elif h >= 1.5 * med:
                        kind, media_ref = "heading", "h2"
                blocks_out.append((kind, text, media_ref))
    return blocks_out, failures


def parse_vlm_lines(payloads: list[str]) -> tuple[list[tuple[str, str, str]],
                                                  int]:
    """The VLM full-page parser's contract (pdf_parser_vlm.py:100-135),
    distinct from ``parse_pdf_lines`` in three ways that mirror the
    reference exactly:

    * NO per-item cleaning (the VLM parser has no clean_text/to_utf8
      walk) — text passes through verbatim;
    * ``raises_on_error=True``: ONE malformed line fails the whole
      conversion -> ``([], 1)`` (a single parse-failure for the doc);
    * pages become one markdown block each, lines joined by newline in
      input order (the VLM defines reading order; the deterministic
      stand-in uses identity order), page_break spans between emitted
      pages; all-blank output hits the P4 empty guard (``([], 0)``).
    """
    by_page: dict[int, list[str]] = {}
    for payload in payloads:
        try:
            page, _x0, _y0, _x1, _y1, text = parse_line(payload)
        except PdfLineError:
            return [], 1
        by_page.setdefault(page, []).append(text)

    blocks_out: list[tuple[str, str, str]] = []
    for page in sorted(by_page):
        block = "\n".join(t for t in by_page[page] if t.strip())
        if not block:
            continue
        if blocks_out:
            blocks_out.append(("page_break", "", ""))
        blocks_out.append(("text", block, ""))
    return blocks_out, 0
