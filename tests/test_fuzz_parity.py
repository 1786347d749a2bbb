"""Adversarial whole-pipeline parity fuzz: randomized span tables ->
extract() vs the pure-Python oracle (refparser.parse.parse_document).

The goldens and the synth corpus cover the WELL-FORMED families; this
harness hammers the contract edges instead — NULL payloads on every
kind, malformed pdf_line coordinates (whitespace padding, underscores,
unicode digits — int() accepts all three, the documented grammar and
the Spark arm reject them), mojibake/invisible/whitespace text, table
payloads with embedded row/cell separators, unknown kinds, negative
and sparse offsets. Offsets are unique per doc: duplicate offsets are
OUT of contract (the oracle tie-breaks by Python sort stability =
input order, which a distributed sort cannot observe).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from document_parser_spark.config import CELL_SEP, ROW_SEP
from document_parser_spark.refparser.parse import parse_document

SPAN_SCHEMA = ("doc_id string, spans array<struct<kind:string,"
               "text:string,media_ref:string,offset:int>>")

# -- regression: the NULL-payload contract, one case per kind ----------

NULL_CASES = {
    "html-null": [("html", None, "", 0), ("text", "ok", "", 1)],
    "pdf-null": [("pdf_line", None, "", 0), ("text", "ok", "", 1)],
    "img-nullref": [("image", "", None, 0), ("text", "ok", "", 1)],
    "tbl-null": [("table", None, "", 0)],
    "docx-null": [("docx", None, "", 0)],
    "dxt-null": [("docx_table", None, "", 0)],
    "text-null": [("text", None, "", 0)],
    "all-null-span": [(None, None, None, 0)],
}

# -- regression: html text the fast scanner lost — CPython reads an '='
#    that no attribute name precedes as the start of a NAME, so the quote
#    after it opens no value and the tag ends at the first '>' -----------

HTML_CASES = {
    "html-stray-eq": [("html", "<p>a<b ='x>y'>z", "", 0)],
}

# -- regression: coordinate grammar — int()-isms the fixture grammar
#    (FIXTURES.md: ASCII digits, one optional sign) must reject --------

GRAMMAR_CASES = {
    "ws-pad": [("pdf_line", " 1;2;3;4;5|x", "", 0)],        # int(' 1') == 1
    "underscore": [("pdf_line", "1;1_0;3;4;5|x", "", 0)],   # int('1_0') == 10
    "unicode-digit": [("pdf_line", "1;١;3;4;5|x", "", 0)],  # int('١')==1
    "plus-sign": [("pdf_line", "+1;2;3;4;5|ok", "", 0)],     # valid both
    "float": [("pdf_line", "1;2.0;3;4;5|x", "", 0)],
    "empty-field": [("pdf_line", "1;;3;4;5|x", "", 0)],
    "no-sep": [("pdf_line", "1;2;3;4;5", "", 0)],
    "empty-payload": [("pdf_line", "", "", 0)],
    "double-sign": [("pdf_line", "+-1;2;3;4;5|x", "", 0)],
    "six-fields": [("pdf_line", "1;2;3;4;5;6|x", "", 0)],
    "trailing-sign": [("pdf_line", "5-;2;3;4;5|x", "", 0)],
    # magnitude bound: >15 digits rejected by BOTH grammars (above
    # 2^53 the vectorized float64 arm and the oracle's int() would
    # otherwise disagree on the VALUE while both accept the string)
    "overflow-16d": [("pdf_line", "1;9007199254740993;3;4;5|x", "", 0)],
    "max-15d": [("pdf_line", "1;2;999999999999999;4;5|ok15", "", 0)],
}

# -- regression: a doc's pdf lines are laid out in OFFSET order, as the
#    oracle sorts them, whatever their order in the spans array

ORDER_CASES = {
    # equal coordinates: the layout sort keeps input order -> "B A"
    "tied-coords": [("pdf_line", "1;1000;8000;9000;9000|A", "", 1),
                    ("pdf_line", "1;1000;8000;9000;9000|B", "", 0)],
    # the VLM joins a page's lines in input order -> "B\nA"
    "vlm-order": [("pdf_line", "1;1000;8000;9000;9000|A", "", 5),
                  ("pdf_line", "1;1000;6000;9000;7000|B", "", 2)],
}

# the three pdf plan shapes: the doc-level layout stage, every doc tagged
# giant (per-page layout stage + CASE-salted reassembly), the VLM arm
PDF_MODES = ["doc", "paged", "vlm"]


def _extract_vs_oracle(spark, rows, mode="doc"):
    """extract() of (doc_id, spans) rows in one pdf plan shape ->
    {doc_id: (got, want)}, each (spans, markdown, status, n_failures)."""
    from document_parser_spark.config import GIANT_SIZE_BUCKET
    from document_parser_spark.plans.pipeline import extract

    df = spark.createDataFrame(rows, SPAN_SCHEMA)
    if mode == "paged":
        df = df.withColumn("size_bucket", F.lit(GIANT_SIZE_BUCKET))
    vlm = mode == "vlm"
    got = {
        r["doc_id"]: (
            [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in r["spans"]],
            r["markdown"], r["status"], r["n_failures"],
        )
        for r in extract(df, pdf_vlm=vlm).collect()
    }
    assert len(got) == len(rows)
    out = {}
    for doc_id, spans in rows:
        want = parse_document(doc_id, spans, pdf_vlm=vlm)
        out[doc_id] = (got[doc_id], (want.spans, want.markdown,
                                     want.status, want.n_failures))
    return out


def _run_cases(spark, cases, mode="doc"):
    for name, (got, want) in _extract_vs_oracle(
            spark, list(cases.items()), mode).items():
        assert got == want, name


def test_null_payload_parity(spark):
    _run_cases(spark, {**NULL_CASES, **HTML_CASES})


@pytest.mark.parametrize("mode", PDF_MODES)
def test_pdf_coordinate_grammar_parity(spark, mode):
    _run_cases(spark, {**GRAMMAR_CASES, **ORDER_CASES}, mode)


def test_grammar_cases_fail_as_expected():
    """Pin the oracle side alone: every int()-ism case above IS a
    parse failure (guards against someone 'fixing' the oracle back to
    a bare int())."""
    for name in ("ws-pad", "underscore", "unicode-digit", "float",
                 "empty-field", "no-sep", "empty-payload", "double-sign",
                 "six-fields", "trailing-sign", "overflow-16d"):
        want = parse_document(name, GRAMMAR_CASES[name])
        assert want.n_failures == 1, name
        assert want.status == "parse_failure", name
    ok = parse_document("plus-sign", GRAMMAR_CASES["plus-sign"])
    assert ok.n_failures == 0 and ok.spans[0][1] == "ok"
    ok15 = parse_document("max-15d", GRAMMAR_CASES["max-15d"])
    assert ok15.n_failures == 0 and ok15.spans[0][1] == "ok15"


# -- the fuzz ----------------------------------------------------------

_WORDS = ["alpha", "beta", "Ã©", "café", "�", "/uni0041",
          "x​y", "tab\there", "", " ", "\n", "|", ";",
          " nbsp", "‮trick"]

_text = st.lists(st.sampled_from(_WORDS), max_size=5).map(" ".join)

_table_text = st.lists(
    st.lists(st.sampled_from(_WORDS + ["a|b", "1;2"]), min_size=1,
             max_size=3).map(CELL_SEP.join),
    min_size=1, max_size=3).map(ROW_SEP.join)

_html_text = st.lists(st.sampled_from([
    "<h1>Title {}</h1>", "<p>{} body</p>", "<ul><li>{}</li><li>b</li></ul>",
    "<script>var x = 1;</script>", "<img src='img://{}'/>",
    "<table><tr><td>{}</td><td>c</td></tr></table>", "<div>{}</div>",
    "<pre>code {}</pre>", "{} bare",
]), max_size=4).flatmap(
    lambda tpls: st.lists(st.sampled_from(["alpha", "Ã©", "x"]),
                          min_size=len(tpls), max_size=len(tpls))
    .map(lambda fills: "<body>" + "".join(
        t.format(f) for t, f in zip(tpls, fills)) + "</body>"))

_valid_pdf = st.tuples(
    st.integers(1, 3), st.integers(0, 9000), st.integers(0, 90000),
    st.integers(0, 9000), st.integers(0, 90000),
    st.sampled_from(_WORDS),
).map(lambda t: f"{t[0]};{t[1]};{t[2]};{t[3]};{t[4]}|{t[5]}")

_pdf_text = st.one_of(_valid_pdf, _text)

_KIND_TEXT = {
    "text": _text, "docx": _text, "table": _table_text,
    "docx_table": _table_text, "html": _html_text, "pdf_line": _pdf_text,
    "image": st.just(""), "blob": _text,
}

_span = st.sampled_from(list(_KIND_TEXT)).flatmap(
    lambda kind: st.tuples(
        st.just(kind),
        st.one_of(st.none(), _KIND_TEXT[kind]),
        st.one_of(st.none(), st.just(""), st.just("img://r1")),
    ))

_doc_spans = st.lists(_span, min_size=1, max_size=6).flatmap(
    lambda spans: st.lists(
        st.integers(-100, 100), min_size=len(spans),
        max_size=len(spans), unique=True,
    ).map(lambda offs: [(k, t, m, o)
                        for (k, t, m), o in zip(spans, offs)]))


@pytest.mark.parametrize("mode", PDF_MODES)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(_doc_spans, min_size=1, max_size=4))
def test_fuzz_extract_matches_oracle(spark, mode, docs):
    rows = [(f"d{i}", spans) for i, spans in enumerate(docs)]
    for doc_id, (got, want) in _extract_vs_oracle(spark, rows,
                                                  mode).items():
        assert got == want, (doc_id, dict(rows)[doc_id])
