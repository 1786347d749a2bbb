"""Arrow-batched pdf parsing for Spark: the ``refparser.pdf`` kernels,
called inside ``mapInPandas`` / ``applyInPandas`` stages.

PDF reading order is a *document-level* computation (lines re-sort across
the whole page), so the doc-level stage consumes unexploded
``(doc_id, spans)`` rows with spans pruned to ``pdf_line`` and sorted by
offset (``plans.pipeline.parse_all_branches``) — no per-span explode and
regroup shuffle for the pdf family — and calls ``parse_pdf_lines`` once
per doc. The VLM arm (``pdf_vlm_branch``) is the same batch loop with
``parse_vlm_lines`` as the kernel. Giant docs take the per-page stage
(``pdf_branch_paged``), which calls ``parse_pdf_lines`` once per
(doc, page) group: column split, y-gap clustering, median height and
headings are per-page computations in the oracle too.

Reference parity: Docling's page->block->line grouping
(pdf_parser.py:31-43) and the VLM whole-doc conversion
(pdf_parser_vlm.py:100-135), as specified by refparser.pdf.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from document_parser_spark.refparser.pdf import (
    parse_pdf_lines,
    parse_vlm_lines,
)
from document_parser_spark.schema import FAIL_KIND, PARSED_SCHEMA


def _parse_docs(doc_ids, span_lists, kernel) -> pd.DataFrame:
    """(doc_id, pdf-only spans in offset order) -> PARSED_SCHEMA rows:
    the kernel's blocks at ord1 0.., then one ``__fail__`` row per
    failure at a DISTINCT negative ord1 -(f+1) (the reassembly salt
    hashes (ord0, ord1), so a constant would pin every malformed line
    of a doc into one salt bucket). Every row is anchored at the doc's
    least non-NULL offset, 0 when all are NULL (never throw, A4)."""
    rows = []
    for doc_id, spans in zip(doc_ids, span_lists):
        anchor = min((sp["offset"] for sp in spans
                      if sp["offset"] is not None), default=0)
        blocks, n_fail = kernel([sp["text"] or "" for sp in spans])
        rows += [(doc_id, anchor, j, kind, text, media)
                 for j, (kind, text, media) in enumerate(blocks)]
        rows += [(doc_id, anchor, -(f + 1), FAIL_KIND, None, None)
                 for f in range(n_fail)]
    return pd.DataFrame(rows, columns=PARSED_SCHEMA.fieldNames()).astype(
        {"ord0": "int32", "ord1": "int32"})


def parse_pdf_batch(doc_ids, span_lists) -> pd.DataFrame:
    """The layout kernel over a batch of docs (see ``_parse_docs``)."""
    return _parse_docs(doc_ids, span_lists, parse_pdf_lines)


def _doc_branch(docs_df, kernel):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = _parse_docs(pdf["doc_id"], pdf["spans"], kernel)
            if len(res):
                yield res

    return docs_df.mapInPandas(run, schema=PARSED_SCHEMA)


def pdf_branch(docs_df):
    """Spark stage: (doc_id, pdf_line spans in offset order) ->
    PARSED_SCHEMA rows via the layout pipeline."""
    return _doc_branch(docs_df, parse_pdf_lines)


def pdf_vlm_branch(docs_df):
    """Spark stage: the VLM whole-doc conversion (no per-line cleaning,
    one page per block, ONE malformed line fails the doc -> a single
    ``__fail__`` row; ``refparser.pdf.parse_vlm_lines``)."""
    return _doc_branch(docs_df, parse_vlm_lines)


_PAGED_KERNEL_SCHEMA = ("doc_id string, anchor int, page long, idx int, "
                        "kind string, text string, media_ref string")


def _paged_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (doc_id, page) group of exploded pdf_line payloads ->
    per-page blocks from ``parse_pdf_lines``:

      * idx -1 = a page_break marker for every PRESENT page (>= 1
        line parsed) — the downstream plan drops the doc's first one,
        reproducing the between-pages placement;
      * idx 0.. = the page's blocks in reading order;
      * one kind='__fail__' row per malformed line (idx -2; downstream
        maps each to a DISTINCT negative ord1 so the reassembly salt
        spreads them — fail rows are tallied and stripped by
        reassembly, their relative order is irrelevant)."""
    # restore line order: groupBy delivers rows in shuffle-arrival
    # order, but the layout sort breaks coordinate ties by input order
    pdf = pdf.sort_values("pos", kind="stable")
    blocks, n_fail = parse_pdf_lines(pdf["payload"].tolist())
    rows = [(-1, "page_break", "", "")] if n_fail < len(pdf) else []
    rows += [(j, kind, text, media)
             for j, (kind, text, media) in enumerate(blocks)]
    rows += [(-2, FAIL_KIND, None, None)] * n_fail
    out = pd.DataFrame(rows, columns=["idx", "kind", "text", "media_ref"])
    pg = pdf["page"].iloc[0]
    out.insert(0, "page", None if pd.isna(pg) else int(pg))
    out.insert(0, "anchor", int(pdf["anchor"].iloc[0]))
    out.insert(0, "doc_id", pdf["doc_id"].iloc[0])
    return out


def pdf_branch_paged(lines_df):
    """The giant-doc pdf path (SCALE.md §8; reference counterpart:
    Docling's page-streamed ThreadedStandardPdfPipeline,
    file_parsers/pdf_parser.py:42): parse pathological documents
    PER PAGE so a 10^5-page doc cannot pin one pandas group.

    ``lines_df``: exploded hot-doc pdf lines
    (doc_id, anchor:int = min span offset of the doc's pdf family
    (0 when all NULL), pos:int = the line's rank in the doc's
    offset-sorted pdf spans (the kernel sorts its group by it —
    coordinate-tied lines must break ties in offset order, as the
    oracle and the doc-level stage do),
    page:long = JVM regexp-extracted page field (NULL for lines whose
    page field already violates the grammar — those can only be
    malformed, so WHERE they land only affects which group tallies
    them), payload:string).

    Plan: groupBy (doc_id, page) -> applyInPandas per-page kernel ->
    one doc_id-partitioned window assigning the global reading order
    (ord1 = row_number over (page, idx) with fail rows sorted last and
    mapped to DISTINCT negatives — the reassembly salt is
    pmod(hash(ord0, ord1), K), so a constant fail ord1 would pin every
    malformed line of a hot doc into ONE salt bucket, exactly the
    pathological doc this path exists for; the doc-level kernel
    spreads fails as -(f+1) for the same reason) and dropping the
    doc's first page_break. Both
    shuffles touch only the HOT docs' rows, and the second one carries
    parsed BLOCKS (joined text), not raw lines. ord1 values may have
    gaps after the page_break drop — reassembly only sorts by them."""
    from pyspark.sql import Window, functions as F

    parsed = (lines_df.groupBy("doc_id", "page")
              .applyInPandas(_paged_kernel, schema=_PAGED_KERNEL_SCHEMA))
    is_fail = F.col("kind") == FAIL_KIND
    w_doc = Window.partitionBy("doc_id")
    w_ord = Window.partitionBy("doc_id").orderBy(
        is_fail.cast("int"), "page", "idx")
    min_pg = F.min(F.when(~is_fail, F.col("page"))).over(w_doc)
    return (
        parsed
        .withColumn("_rn", F.row_number().over(w_ord))
        .withColumn("_minpg", min_pg)
        .filter(~((F.col("kind") == "page_break")
                  & (F.col("page") == F.col("_minpg"))))
        .select(
            "doc_id",
            F.col("anchor").cast("int").alias("ord0"),
            F.when(is_fail, -F.col("_rn")).otherwise(F.col("_rn") - 1)
            .cast("int").alias("ord1"),
            "kind", "text", "media_ref",
        )
    )
