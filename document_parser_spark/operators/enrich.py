"""Enrichment stages: OCR insert-after (J1), translate-in-place (J2,
F7), and language autodetection (A2) — SURVEY §3.2.

Reference behavior re-expressed Spark-first:

* J1 (pdf_parser.py:64-71): for each PictureItem or TableItem the
  reference calls a VLM and splices the OCR text into the tree
  *immediately after* the element. Here the splice happens on the
  reassembled span array in one Arrow-batched map — no join and no
  extra shuffle, because by this point each document's spans are
  already one ordered array. (The join formulation on (doc_id, pos)
  exists as the driver query ``j1_enrichment_join`` for the general
  case where OCR results arrive as a separate relation.)
* J2 (translator/v1/service.py:95-107): per-element translation zipped
  back positionally, in place; the F7 backtick sanitization
  (service.py:99) is the translator's job, applied to translated text
  only, exactly like the reference.
* A2 (translator/v1/service.py:57-72): language = heuristic over the
  first 3 non-empty text spans.

J1 and J2 call the ``operators.service.BatchedService`` they take as
an argument: ``plans.pipeline.extract`` wires in the deterministic
stubs, a deployment an HTTP batch call. A2 is a column expression.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from document_parser_spark.operators.service import BatchedService
from document_parser_spark.ops.textstats import (
    LANG_ORDER,
    STOPWORDS,
    lang_argmax,
)

TRANSLATED_KINDS = ("text", "heading", "list_item", "table")


def _splice_via_service(
        docs: DataFrame, service: BatchedService,
        payload_of: Callable[[dict], str | None],
        rebuild: Callable[[list[dict], Iterator[tuple[str, bool]]],
                          list[dict]]) -> DataFrame:
    """The one service loop of J1 and J2: a ``mapInPandas`` over the
    docs. Per Arrow batch: skip it if empty, gather ``payload_of(span)``
    for every span where that is not None (a NULL spans array passes
    through as NULL), make ONE service call for the whole batch
    (chunked and concurrent inside :class:`BatchedService`, so the
    per-request overhead amortizes across documents), then
    ``rebuild(spans, answers)`` each doc, where ``answers`` yields the
    service's ``(result, ok)`` per payload in gather order. The span
    dicts are the batch's own, so ``rebuild`` may edit them."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = [p for spans in pdf["spans"] if spans is not None
                        for s in spans if (p := payload_of(s)) is not None]
            answers = zip(*service(payloads))
            pdf["spans"] = [None if spans is None
                            else rebuild(list(spans), answers)
                            for spans in pdf["spans"]]
            yield pdf

    return docs.mapInPandas(run, schema=docs.schema)


def _ocr_payload(s) -> str | None:
    """The reference's ``PictureItem OR TableItem`` condition
    (pdf_parser.py:64-71): an image with a media_ref, or any table.
    Table OCR seeds on the table payload (the reference renders the
    table to an image via ``element.get_image``; the stub hashes the
    content instead)."""
    if (s["kind"] == "image" and s["media_ref"]) or s["kind"] == "table":
        return s["media_ref"] or s["text"] or ""
    return None


def _ocr_rebuild(spans, answers):
    out = []
    for s in spans:
        out.append(s)
        if _ocr_payload(s) is not None:
            # a failed chunk already carries the service's fallback
            # string (image_parser.py:174-182), never a failure row
            text, _ok = next(answers)
            out.append({"kind": "text", "text": text, "media_ref": ""})
    for i, s in enumerate(out):
        s["offset"] = i
    return out


def insert_ocr_after_images(docs: DataFrame,
                            service: BatchedService) -> DataFrame:
    """J1: splice the service's OCR text span immediately after every
    image span with a media_ref and every table span, then renumber
    offsets 0..n-1."""
    return _splice_via_service(docs, service, _ocr_payload, _ocr_rebuild)


def _translate_payload(s) -> str | None:
    return s["text"] if s["kind"] in TRANSLATED_KINDS else None


def _translate_rebuild(spans, answers):
    for s in spans:
        if _translate_payload(s) is not None:
            text, ok = next(answers)
            # a failed chunk KEEPS THE SOURCE TEXT: the A4 fallback of
            # an in-place rewrite is pass-through, not the service's
            # fixed fallback string (OCR-error prose)
            if ok:
                s["text"] = text
    return spans


def translate_spans(docs: DataFrame, service: BatchedService) -> DataFrame:
    """J2: translate text-bearing spans in place through the service
    (text items + table cells, mirroring the reference's two translated
    element classes; images, code, page breaks and NULL texts pass
    through untouched)."""
    return _splice_via_service(docs, service, _translate_payload,
                               _translate_rebuild)


def detect_language(docs: DataFrame) -> DataFrame:
    """A2: sample = first 3 non-empty text spans joined by newline (the
    reference's detect-language payload, translator/v1/service.py:57-64),
    scored by the stopword heuristic -> ``lang`` column. Array-only:
    no shuffle, no UDF.

    The per-language ratios materialize ONCE per row behind a Generate
    barrier and the argmax CASE chain is ``textstats.lang_argmax`` —
    shared with ``ops.textstats.lang_id`` (r4 VERDICT #6: the previous
    inline chain re-evaluated each split+filter ratio up to twice per
    language)."""
    sample = F.concat_ws(
        "\n",
        F.slice(
            F.transform(
                F.filter(F.col("spans"),
                         lambda s: (s["kind"] == "text")
                         & (F.trim(s["text"]) != "")),
                lambda s: s["text"]),
            1, 3))
    words = F.split(F.lower(sample), r"\s+")

    def ratio(stops: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(s) for s in stops])
        return (F.size(F.filter(words, lambda x: F.array_contains(arr, x)))
                .cast("double")
                / F.greatest(F.size(words), F.lit(1)).cast("double"))

    r_struct = F.struct(*[ratio(STOPWORDS[lang]).alias(f"_r_{lang}")
                          for lang in LANG_ORDER])
    d = docs.select("*", F.inline(F.array(r_struct)))
    lang, _score = lang_argmax(lambda lg: F.col(f"_r_{lg}"))
    return (d.withColumn("lang", lang)
            .drop(*[f"_r_{lg}" for lg in LANG_ORDER]))
