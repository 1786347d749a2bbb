"""Shared constants: the single source of truth for every threshold and
character table used by BOTH the pure-Python oracle (``refparser``) and the
Spark-side code that does not call it: the JVM clean arm and the batched HTML
stage. Keeping them here guarantees those separate code paths cannot drift on
*constants* (golden tests check the rest).

Reference parity notes (file:line into /root/reference):
  - invisible codepoint table: app/modules/parser/abc/abc.py:80-108
  - replacement-char fix '\\ufffd' -> '.': abc/abc.py:106
  - /uniXXXX unescape: abc/abc.py:73-79
  - page break placeholder: abc/abc.py:30
  - image placeholder comment: abc/abc.py:27 (ImageRefMode.PLACEHOLDER)
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Text-cleaning kernel (SURVEY.md §2.8 F4-F6)
# ---------------------------------------------------------------------------

# The 23 "invisible space" codepoints the reference maps to a single ASCII
# space each (abc/abc.py:80-104). Order is irrelevant (1:1 char map).
INVISIBLE_CODEPOINTS: str = (
    "	"  # TAB
    " "  # NO-BREAK SPACE
    "­"  # SOFT HYPHEN
    " "  # OGHAM SPACE MARK
    "           "
    "​"  # ZERO WIDTH SPACE
    "‌"  # ZERO WIDTH NON-JOINER
    "‍"  # ZERO WIDTH JOINER
    " "  # NARROW NO-BREAK SPACE
    " "  # MEDIUM MATHEMATICAL SPACE
    "⁠"  # WORD JOINER
    "　"  # IDEOGRAPHIC SPACE
    "﻿"  # ZERO WIDTH NO-BREAK SPACE / BOM
)
assert len(INVISIBLE_CODEPOINTS) == 23
INVISIBLE_REPLACEMENT: str = " " * len(INVISIBLE_CODEPOINTS)

REPLACEMENT_CHAR: str = "�"
REPLACEMENT_FIX: str = "."

# /uniXXXX escape (abc/abc.py:73-79): exactly 4 hex digits, invalid left as-is.
UNI_ESCAPE_PATTERN: str = r"/uni([0-9A-Fa-f]{4})"

# Mojibake-repair trigger: attempt cp1252/latin-1 -> utf-8 re-decode only when
# a char in the UTF-8 lead-byte range (0xC2-0xF4 as latin-1: Â..ô) is present;
# the strict encode/decode round-trip is the real gate. (Deterministic subset
# of ftfy.fix_text, abc/abc.py:59-61 — see refparser.textkernel.fix_text.)
MOJIBAKE_LEAD_LO: str = "Â"
MOJIBAKE_LEAD_HI: str = "ô"

# The exact whitespace set of Python's str.strip()/str.split() — the
# reference's blank test is `if not text.strip()` (refparser mirrors it),
# so THIS set, not Java's (?U)\s (which omits U+001C-001F), is the blank
# contract. Derived at import so it can never drift from the runtime's
# semantics; shared by the Spark-side blank filter (F.translate), the
# pandas kernels (str.split uses it implicitly) and the driver oracle
# generator, making the blank rule structural rather than
# corpus-dependent. Max isspace codepoint is U+3000.
PY_WHITESPACE: str = "".join(
    chr(c) for c in range(0x3001) if chr(c).isspace())

# ---------------------------------------------------------------------------
# Span model (BASELINE.json input_hint / FIXTURES.md)
# ---------------------------------------------------------------------------

# Input span vocabulary. "docx" / "docx_table" are the DocParser-path
# kinds (docx_parser.py:43-49): text items get NFC *before* clean_text +
# to_utf8, table cells get clean_text ONLY (no to_utf8 — the reference's
# asymmetry). "table" is the generic table-span kind the pptx/xlsx
# ingest mapping produces (pptx_parser.py:52-59 / xlsx_parser.py:53-60:
# cells get clean_text + to_utf8, same as the pdf/html cell rule) —
# pptx/xlsx docs ingest as kind "text" items + kind "table" tables.
INPUT_KINDS = ("html", "pdf_line", "text", "image", "docx", "docx_table",
               "table")

# Table cell/row separators inside a single table span's text payload.
CELL_SEP: str = "\x1f"   # unit separator between cells
ROW_SEP: str = "\x1e"    # record separator between rows

# Doc-level status vocabulary (FIXTURES.md §2).
STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_PARSE_FAILURE = "parse_failure"

# Lineage status of a committed bucket (READY in the reference's
# webhook_manager/schemas.py:7-13 vocabulary).
LINEAGE_READY = "READY"

# ---------------------------------------------------------------------------
# HTML boilerplate classification (SURVEY.md §7.3.6 — constants are ours,
# fixed here first, mirrored by the batched HTML stage)
# ---------------------------------------------------------------------------

# Subtrees dropped unconditionally (Readability-style semantic boilerplate).
DROP_TAGS = frozenset({
    "script", "style", "noscript", "template", "iframe", "svg",
    "nav", "footer", "header", "aside", "form", "button",
})
HEADING_TAGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
# Void elements that never hold text (html.parser does not auto-close them).
VOID_TAGS = frozenset({
    "br", "hr", "img", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr",
})
# A text block is dropped as boilerplate when more than this fraction of its
# characters live inside <a> tags.
LINK_DENSITY_MAX: float = 0.33
# Blocks shorter than this (after cleaning/stripping) with at least one link
# are treated as navigation chrome and dropped.
MIN_BLOCK_CHARS_WITH_LINKS: int = 20

# ---------------------------------------------------------------------------
# PDF layout clustering (FIXTURES.md §4.2)
# ---------------------------------------------------------------------------

# gap > Y_GAP_FACTOR * median line height  =>  new block
Y_GAP_FACTOR: float = 1.8
# Column split: largest gap between sorted x0 values must exceed this fraction
# of the page's x extent for the page to be treated as two-column.
COLUMN_GAP_FRACTION: float = 0.25

# ---------------------------------------------------------------------------
# Markdown serialization (SURVEY.md §2.9 F10-F15)
# ---------------------------------------------------------------------------

PAGE_BREAK_PLACEHOLDER: str = "\n---\n\n\n\n"  # abc/abc.py:30
IMAGE_PLACEHOLDER: str = "<!-- image -->"       # ImageRefMode.PLACEHOLDER
IMAGE_MODE_PLACEHOLDER = "placeholder"
IMAGE_MODE_REFERENCED = "referenced"

# ---------------------------------------------------------------------------
# Scale / shuffle tuning
# ---------------------------------------------------------------------------

# Default salt fan-out for the two-phase reassembly collect (SURVEY §4.1).
DEFAULT_SALT_BUCKETS: int = 8
# Span count above which a document is hot: it takes the salted
# two-phase reassembly and, if it is a pdf, the per-page parse
# (always-on salting costs ~1.6x on ordinary size distributions).
# operators/reassemble.py turns the hot ids into one per-row flag:
# no hot docs, an id list, or overflow where every doc is hot.
SALT_SPAN_THRESHOLD: int = 65536
# size_bucket value flagging pathological documents at ingest (docs
# above SALT_SPAN_THRESHOLD spans). extract() keys its salting
# decision on this column when present — a dictionary-encoded string
# scan instead of re-measuring every spans payload (the north rule's
# "doc-size buckets", literally).
GIANT_SIZE_BUCKET: str = "g"
# Stable output-partition count for lineage/restart bucketing.
DEFAULT_OUTPUT_PARTITIONS: int = 64
SYNTH_SEED: int = 42
