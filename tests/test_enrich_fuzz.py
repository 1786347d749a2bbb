"""Enrichment-composition parity fuzz: extract() with the J1/J2/A2
flags on vs a pure-Python oracle model of the same stages applied on
top of ``refparser.parse.parse_document``.

The base pipeline has a whole-pipeline fuzz (test_fuzz_parity) and the
enrichment stages have example-based unit tests (test_enrich), but the
COMPOSITION — parse -> reassemble -> OCR splice -> language detect ->
translate -> serialize — had no randomized parity check. The oracle
here models the deterministic stubs exactly:

* J1 (``insert_ocr_after_images``, as called by ``extract``):
  after every image span with a non-empty media_ref AND every table
  span, insert ("text", "[ocr:" + sha256(seed)[:12] + "]", "") where
  seed = media_ref if non-empty else the span text; renumber offsets
  0..n-1.
* A2 (``detect_language``): sample = first 3 non-empty text spans
  (Spark ``trim`` = ASCII-space strip) joined by \\n, words = Java
  ``\\s+`` split of the lowercased sample, per-language stopword ratio,
  strict-> argmax in LANG_ORDER with 'unk' below EN_STOP_RATIO_MIN.
  Runs BEFORE translate (extract's stage order), so the sample is the
  untranslated text.
* J2 (``translate_spans``): kinds in TRANSLATED_KINDS get
  upper-then-backtick->'*'; other kinds pass through untouched.
* markdown re-serializes AFTER enrichment; status/n_failures follow
  the same rule as the base pipeline.

J1 and J2 run Python (the stub services behind the BatchedService
slot), so the oracle's ``str.upper`` is the translator's own case
table. A2 runs Spark's ``lower``, ``trim`` and Java ``\\s`` split, and
Java's and Python's full Unicode case tables differ on exotic
codepoints; that is why the fuzz alphabet sticks to case-mapping-safe
codepoints (ASCII + Latin-1 letters). The pinned edges below hold two
codepoints that Spark's ``upper`` maps unlike ``str.upper``
(U+019B, U+0264) and that the translator must keep Python's mapping
for.
"""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from document_parser_spark.operators.enrich import TRANSLATED_KINDS
from document_parser_spark.operators.service import OCR_PREFIX
from document_parser_spark.ops.textstats import (
    EN_STOP_RATIO_MIN,
    LANG_ORDER,
    STOPWORDS,
)
from document_parser_spark.refparser.parse import parse_document
from document_parser_spark.refparser.serialize import serialize_markdown

from test_fuzz_parity import SPAN_SCHEMA, _doc_spans

# Java default \s (no UNICODE_CHARACTER_CLASS): the regex Spark's
# F.split compiles verbatim in detect_language
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def _ocr_text(seed: str) -> str:
    digest = hashlib.sha256(seed.encode("utf-8")).hexdigest()[:12]
    return f"{OCR_PREFIX}{digest}]"


def oracle_insert_ocr(seq):
    """J1 model over output (kind, text, media_ref) triples —
    enrich.insert_ocr_after_images with extract()'s stub service."""
    out = []
    for kind, text, media_ref in seq:
        out.append((kind, text, media_ref))
        has_ref = media_ref is not None and len(media_ref) > 0
        if (kind == "image" and has_ref) or kind == "table":
            seed = media_ref if has_ref else (text or "")
            out.append(("text", _ocr_text(seed), ""))
    return out


def oracle_translate(seq):
    """J2 model: upper + backtick sanitize on text-bearing kinds."""
    return [
        (k,
         t.upper().replace("`", "*")
         if k in TRANSLATED_KINDS and t is not None else t,
         m)
        for k, t, m in seq
    ]


def oracle_detect_lang(seq):
    """A2 model: first-3 text-span sample -> stopword-ratio argmax."""
    texts = [t for k, t, _ in seq
             if k == "text" and t is not None and t.strip(" ") != ""]
    sample = "\n".join(texts[:3])
    words = _JAVA_WS.split(sample.lower())
    denom = max(len(words), 1)
    best_lang, best_ratio = LANG_ORDER[0], None
    for lang in LANG_ORDER:
        ratio = sum(1 for w in words if w in STOPWORDS[lang]) / denom
        if best_ratio is None or ratio > best_ratio:
            best_lang, best_ratio = lang, ratio
    return best_lang if best_ratio >= EN_STOP_RATIO_MIN else "unk"


def oracle_enriched(doc_id, spans, parse_images, translate, detect_lang,
                    pdf_vlm=False):
    """Full-composition oracle: parse_document + stub models, in
    extract()'s stage order (OCR -> detect -> translate -> serialize)."""
    base = parse_document(doc_id, spans, pdf_vlm=pdf_vlm)
    seq = [(k, t, m) for k, t, m, _ in base.spans]
    if parse_images:
        seq = oracle_insert_ocr(seq)
    lang = oracle_detect_lang(seq) if detect_lang else None
    if translate:
        seq = oracle_translate(seq)
    out_spans = [(k, t, m, i) for i, (k, t, m) in enumerate(seq)]
    markdown = serialize_markdown(seq)
    return out_spans, markdown, base.status, base.n_failures, lang


def _compare(spark, docs, parse_images, translate, detect_lang,
             pdf_vlm=False):
    from document_parser_spark.plans.pipeline import extract

    rows = [(f"d{i}", spans) for i, spans in enumerate(docs)]
    df = spark.createDataFrame(rows, SPAN_SCHEMA)
    out = extract(df, parse_images=parse_images, translate=translate,
                  detect_lang=detect_lang, pdf_vlm=pdf_vlm)
    got = {
        r["doc_id"]: (
            [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in r["spans"]],
            r["markdown"], r["status"], r["n_failures"],
            r["lang"] if detect_lang else None,
        )
        for r in out.collect()
    }
    assert len(got) == len(rows)
    for doc_id, spans in rows:
        want = oracle_enriched(doc_id, spans, parse_images, translate,
                               detect_lang, pdf_vlm=pdf_vlm)
        assert got[doc_id] == want, (doc_id, spans)


# -- pinned composition edges -----------------------------------------

EDGE_DOCS = {
    # image with empty media_ref: NOT an OCR target (no seed to hash)
    "img-empty-ref": [("image", "", "", 0), ("text", "tail", "", 1)],
    # image with NULL media_ref: parse coalesces to "" -> not a target
    "img-null-ref": [("image", "x", None, 0)],
    # consecutive images + image at doc end: each splice lands directly
    # after its own image, renumbering stays dense
    "img-run": [("image", "", "img://a", 0), ("image", "", "img://b", 1),
                ("text", "mid", "", 2), ("image", "", "img://c", 3)],
    # table seeds OCR on its CLEANED payload (post-parse text, not raw)
    "tbl-seed": [("table", "a\x00b\x1dc", "", 0)],
    # empty table payload still a target: sha256("")
    "tbl-empty": [("table", "", "", 0)],
    # backticks in a heading survive to J2 and come back as '*'
    "backtick": [("html", "<h2>a `code` head</h2><p>body `x`</p>", "", 0)],
    # page breaks / code blocks are NOT translated kinds
    "pdf-passthru": [("pdf_line", "1;10;100;10;100|keep `tick`", "", 0),
                     ("pdf_line", "2;10;100;10;100|page two", "", 1)],
    # stopword-dense English sample -> lang 'en' even though translate
    # then uppercases the spans (A2 runs before J2)
    "lang-en": [("text", "the cat sat on the mat and it is fine", "", 0)],
    # sparse stopwords -> 'unk'
    "lang-unk": [("text", "zzz qqq www", "", 0)],
    # html-derived images inside a doc are spliced too
    "html-img": [("html", "<p>before</p><img src='img://h'/>", "", 0)],
    # failure rows: unknown kind tallies, never reaches enrichment
    "fail-kind": [("blob", "x", "", 0), ("image", "", "img://z", 1)],
    # Spark's upper maps U+019B and U+0264 unlike str.upper (to
    # U+A7DC / U+A7CB): the translator keeps Python's case table
    "case-text": [("text", "ƛ alpha", "", 0)],
    "case-table": [("table", "ɤ\x1fb", "", 0)],
}


def test_enrichment_composition_edges(spark):
    _compare(spark, list(EDGE_DOCS.values()),
             parse_images=True, translate=True, detect_lang=True)


def test_enrichment_edges_ocr_only(spark):
    _compare(spark, list(EDGE_DOCS.values()),
             parse_images=True, translate=False, detect_lang=False)


def test_enrichment_edges_translate_only(spark):
    _compare(spark, list(EDGE_DOCS.values()),
             parse_images=False, translate=True, detect_lang=True)


# -- the fuzz ----------------------------------------------------------


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(_doc_spans, min_size=1, max_size=3),
       flags=st.sampled_from([(True, True, True), (True, False, False),
                              (False, True, True)]))
def test_fuzz_enrichment_matches_oracle(spark, docs, flags):
    parse_images, translate, detect_lang = flags
    _compare(spark, docs, parse_images, translate, detect_lang)


@pytest.mark.usefixtures("spark")
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(_doc_spans, min_size=1, max_size=3),
       flags=st.sampled_from([(False, False, False), (True, True, False)]))
def test_fuzz_pdf_vlm_arm_matches_oracle(spark, docs, flags):
    """The VLM whole-doc PDF arm (pdf_vlm=True) through the same
    composition oracle: the batch fuzz only ever exercised the layout
    pipeline; hostile grammar must fail identically and the enrichment
    stages must compose identically over VLM output spans."""
    parse_images, translate, detect_lang = flags
    _compare(spark, docs, parse_images, translate, detect_lang,
             pdf_vlm=True)
