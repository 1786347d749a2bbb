"""Enrichment-stage tests: OCR insert-after ordering (J1), in-place
translation + backtick sanitization (J2/F7), language detection (A2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_parser_spark.operators import enrich, service
from document_parser_spark.plans.pipeline import extract
from document_parser_spark.schema import DOCUMENTS_IN_SCHEMA


def _docs(spark, spans_by_doc):
    rows = [
        (doc_id,
         [{"kind": k, "text": t, "media_ref": m, "offset": o}
          for k, t, m, o in spans],
         "h", "s")
        for doc_id, spans in spans_by_doc
    ]
    return spark.createDataFrame(rows, DOCUMENTS_IN_SCHEMA)


@pytest.fixture(scope="module")
def mixed(spark):
    return _docs(spark, [
        ("m1", [("text", "intro paragraph before image", "", 0),
                ("image", "", "img://a", 1),
                ("text", "after the image", "", 2)]),
        ("m2", [("image", "", "img://b", 0),
                ("image", "", "img://c", 1)]),
    ])


def test_ocr_insert_after_images(spark, mixed):
    out = extract(mixed, parse_images=True)
    spans = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                        for s in r.spans] for r in out.collect()}
    m1 = spans["m1"]
    assert [s[0] for s in m1] == ["text", "image", "text", "text"]
    assert m1[2][1].startswith(service.OCR_PREFIX)  # right after the image
    assert [s[3] for s in m1] == [0, 1, 2, 3]      # offsets renumbered
    m2 = spans["m2"]
    assert [s[0] for s in m2] == ["image", "text", "image", "text"]
    # deterministic: same media_ref -> same OCR text across runs
    again = {r.doc_id: [s.text for s in r.spans]
             for r in extract(mixed, parse_images=True).collect()}
    assert again["m1"][2] == m1[2][1]
    # distinct media -> distinct OCR
    assert m2[1][1] != m2[3][1]


def test_ocr_in_markdown(spark, mixed):
    md = {r.doc_id: r.markdown
          for r in extract(mixed, parse_images=True).collect()}
    assert service.OCR_PREFIX in md["m1"]
    assert (md["m1"].index("<!-- image -->")
            < md["m1"].index(service.OCR_PREFIX))


def test_translate_in_place_and_backticks(spark):
    docs = _docs(spark, [
        ("t1", [("text", "hello `code` world", "", 0),
                ("image", "", "img://x", 1)]),
    ])
    out = extract(docs, translate=True)
    spans = [(s.kind, s.text) for s in out.head().spans]
    assert spans[0] == ("text", "HELLO *CODE* WORLD")   # F7: ` -> *
    assert spans[1][0] == "image" and spans[1][1] == ""  # untouched


def test_translate_after_ocr(spark, mixed):
    out = extract(mixed, parse_images=True, translate=True)
    m1 = [s.text for s in
          out.filter(F.col("doc_id") == "m1").head().spans]
    assert m1[0] == "INTRO PARAGRAPH BEFORE IMAGE"
    assert m1[2].startswith("[OCR:")  # OCR text is translated too


def test_detect_language(spark):
    docs = _docs(spark, [
        ("en1", [("text", "the cat is on the mat and the dog", "", 0)]),
        ("de1", [("text", "der hund ist ein guter hund und der", "", 0)]),
        ("unk1", [("text", "zzz qqq www eee rrr", "", 0)]),
        ("img-only", [("image", "", "img://z", 0)]),
    ])
    out = extract(docs, detect_lang=True)
    langs = {r.doc_id: r.lang for r in out.collect()}
    assert langs["en1"] == "en"
    assert langs["de1"] == "de"
    assert langs["unk1"] == "unk"
    assert langs["img-only"] == "unk"  # no text sample -> unknown


def test_plain_extract_unchanged_by_flags_off(spark, mixed):
    a = sorted(map(str, extract(mixed).collect()))
    b = sorted(map(str, extract(mixed, parse_images=False, translate=False,
                                detect_lang=False).collect()))
    assert a == b


def test_ocr_table_splice_matches_reference_condition(spark):
    """pdf_parser.py:64-71 OCRs PictureItem OR TableItem — table spans
    must get an OCR span too (seeded on the payload: deterministic)."""
    docs = _docs(spark, [
        ("tb", [("text", "before", "", 0),
                ("table", "a\x1fb\x1ec\x1fd", "", 1),
                ("text", "after", "", 2)]),
    ])
    out = extract(docs, parse_images=True)
    spans = [(s.kind, s.text) for s in out.head().spans]
    assert [k for k, _ in spans] == ["text", "table", "text", "text"]
    assert spans[2][1].startswith(service.OCR_PREFIX)


def test_ocr_failure_fallback_string(spark):
    """image_parser.py:174-182: an OCR failure yields a FIXED fallback
    string spliced in (not empty, not a failure row)."""
    docs = _docs(spark, [
        ("f1", [("image", "", "img://ok", 0),
                ("image", "", "img://bad#timeout", 1)]),
    ])
    from document_parser_spark.operators.reassemble import reassemble
    from document_parser_spark.plans.pipeline import parse_all_branches

    def vlm(chunk):
        if any("#timeout" in c for c in chunk):
            raise TimeoutError("vlm timed out")
        return service.ocr_service_fn(chunk)

    base = reassemble(parse_all_branches(docs))
    out = enrich.insert_ocr_after_images(
        base, service.BatchedService(vlm, batch_size=1))
    r = out.head()
    texts = [s.text for s in r.spans]
    assert texts[1].startswith(service.OCR_PREFIX)         # ok image
    assert texts[3] == service.OCR_FALLBACK_TEXT           # failed image
    assert [s.offset for s in r.spans] == [0, 1, 2, 3]
    assert r.n_failures == 0                               # NOT a fail row
