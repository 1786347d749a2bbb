"""The end-to-end extraction plan (SURVEY.md §3.1 restated Spark-first).

    read span table
      ├─ PDF family: prune spans to pdf_line, doc-level mapInPandas layout
      │  parse (no explode needed — reading order is a doc-level computation)
      └─ everything else: posexplode(filter(spans, kind != 'pdf_line'))
           ├─ JVM branch (ONE pass): clean-majority text (codegen clean
           │  chain), image passthrough, unknown -> parse-failure rows
           │  (never throw — A4), dispatched by in-row CASE
           └─ Python branch (ONE mapInPandas pass): html DOM parse +
              every kernel that needs Python (/uni-or-mojibake text,
              docx NFC tier, per-cell table cleaning), dispatched by a
              per-kind groupby INSIDE the batch
      + one presence marker per doc (so fully-dropped docs surface as 'empty')
    -> unionByName -> salted ordered reassembly -> serializer UDF -> output

All branches emit PARSED_SCHEMA; every stage is a narrow map over the explode
except the single reassembly shuffle. Branch count is a SCAN count: each
union arm re-reads the input table (Catalyst duplicates the subtree, and
the per-kind predicates cannot prune a columnar spans scan), so at 100 TB
an arm is a full extra pass. The plan therefore holds the spans-bearing
arms to THREE — JVM, Python, pdf — plus one doc_id-only marker scan
(column-pruned to ~nothing); the r2 shape's eight per-kind arms read the
table eight times for the identical work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from document_parser_spark.config import (
    DEFAULT_SALT_BUCKETS,
    GIANT_SIZE_BUCKET,
    IMAGE_MODE_PLACEHOLDER,
    INPUT_KINDS,
    PY_WHITESPACE,
    SALT_SPAN_THRESHOLD,
    STATUS_EMPTY,
    STATUS_OK,
    STATUS_PARSE_FAILURE,
)
from document_parser_spark.functions.cleaning import (
    clean_text_column,
    needs_python_column,
)
from document_parser_spark.operators.pdf_parse import (
    pdf_branch,
    pdf_branch_paged,
    pdf_vlm_branch,
)
from document_parser_spark.refparser.pdf import COORD_MAX_DIGITS
from document_parser_spark.operators.reassemble import (
    DOC_MARKER_KIND,
    HOT_COL,
    collect_hot_ids,
    reassemble,
    with_hot_flag,
)
from document_parser_spark.operators.serialize import make_serialize_udf
from document_parser_spark.schema import FAIL_KIND

_I32_MIN = -2147483648


def _hot_docs_fallback(df: DataFrame, salt_threshold: int) -> DataFrame:
    """Hot-doc estimate when the ingest ``size_bucket`` column is
    absent: span COUNT per doc, read through the ``spans.offset`` leaf
    so nested schema pruning cuts the scan to array<struct<offset:int>>
    — 4 bytes per span, never the text payload (the r4 shape folded
    length(text) over the whole payload here: a second complete read
    of the biggest column at 100 TB, r4 VERDICT #2). A plan test pins
    the pruned ReadSchema."""
    est = F.size(F.col("spans.offset")).cast("long")
    return (df.select("doc_id", est.alias("_n"))
            .filter(F.col("_n") > salt_threshold)
            .select("doc_id"))


def explode_spans(df: DataFrame) -> DataFrame:
    """posexplode of the non-pdf spans -> one row per span (the
    iterate_items analogue; pdf lines go to the pdf arm instead)."""
    # NULL-safe pdf exclusion: `s.kind != 'pdf_line'` is NULL for a
    # NULL kind and the array filter would silently drop the span
    # before it can reach the FAIL arm (r3 ADVICE)
    spans = F.filter("spans", lambda s: ~F.coalesce(
        s["kind"] == "pdf_line", F.lit(False)))
    return (
        df.select("doc_id", F.posexplode(spans).alias("pos", "span"))
        .select(
            "doc_id", "pos",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"),
        )
    )


def _python_parse_branch(src: DataFrame) -> DataFrame:
    """ONE ``mapInPandas`` pass for every kind whose kernel needs Python:
    html DOM parse (one-to-many), /uni-or-mojibake-flagged text
    (clean_and_fix), docx NFC tier (docx_parser.py:43-49: text items
    NFC->clean->fix), and per-cell table cleaning with the DocParser
    asymmetry (docx cells clean-only, generic cells clean+fix).

    Dispatch is a per-kind ``groupby`` INSIDE each Arrow batch — per-kind
    union arms would each re-scan the input table (Catalyst duplicates
    the subtree per arm), while a batch-side groupby pays one scan. Each
    one-to-one kind maps its ``refparser.textkernel`` kernel over the
    group's Series.
    Input: doc_id, offset, kind, text. Output: PARSED_SCHEMA.
    """
    from functools import partial

    import numpy as np
    import pandas as pd

    from document_parser_spark.operators.html_parse import parse_html_rows
    from document_parser_spark.refparser.textkernel import (
        clean_and_fix,
        clean_table_payload,
        docx_clean_and_fix,
    )
    from document_parser_spark.schema import PARSED_SCHEMA

    # kind -> (kernel, output kind, drop blank results)
    one2one = {
        "text": (clean_and_fix, "text", True),
        "docx": (docx_clean_and_fix, "text", True),
        "docx_table": (partial(clean_table_payload, fix_cells=False),
                       "table", False),
        "table": (partial(clean_table_payload, fix_cells=True),
                  "table", False),
    }

    def _one2one(grp: pd.DataFrame, kind: str) -> pd.DataFrame:
        kernel, out_kind, drop_blank = one2one[kind]
        # a NULL payload is the empty payload (the oracle's NULL-text
        # contract): a blank text/docx span, an empty table
        cleaned = grp["text"].fillna("").map(kernel).to_numpy()
        keep = np.ones(len(grp), dtype=bool)
        if drop_blank:
            # reference blank test (F8): `if not text.strip()`
            keep = np.array([t.strip() != "" for t in cleaned], dtype=bool)
        return pd.DataFrame({
            "doc_id": grp["doc_id"].to_numpy()[keep],
            "ord0": grp["offset"].to_numpy()[keep].astype("int32"),
            "ord1": np.zeros(int(keep.sum()), dtype="int32"),
            "kind": out_kind,
            "text": cleaned[keep],
            "media_ref": "",
        })

    def _html(grp: pd.DataFrame) -> pd.DataFrame:
        # one row per html_blocks block: ord0 = the span's offset,
        # ord1 = the block's index in its doc
        blocks = parse_html_rows(grp["text"])
        if blocks.empty:
            return blocks
        idx = blocks["row"].to_numpy()
        return pd.DataFrame({
            "doc_id": grp["doc_id"].to_numpy()[idx],
            "ord0": grp["offset"].to_numpy()[idx].astype("int32"),
            "ord1": blocks["seq"].to_numpy().astype("int32"),
            "kind": blocks["kind"].to_numpy(),
            "text": blocks["text"].to_numpy(),
            "media_ref": blocks["media_ref"].to_numpy(),
        })

    def run(batches):
        for pdf in batches:
            for kind, grp in pdf.groupby("kind", sort=False):
                grp = grp.reset_index(drop=True)
                out = _html(grp) if kind == "html" else _one2one(grp, kind)
                if len(out):
                    yield out

    return src.mapInPandas(run, schema=PARSED_SCHEMA)


def parse_all_branches(df: DataFrame, pdf_vlm: bool = False,
                       hot_ids: list | None = None) -> DataFrame:
    """Input docs -> union of parsed rows (PARSED_SCHEMA), reading the
    spans payload in THREE passes total (JVM arm, Python arm, pdf arm —
    see module docstring). ``pdf_vlm`` selects the VLM whole-doc PDF
    parser instead of the layout pipeline (the reference's alternative
    parser, pdf_parser_vlm.py).

    ``hot_ids``: the collected giant-doc id list (``collect_hot_ids``,
    shared with reassembly). When non-empty, pdf docs flagged hot by
    ``with_hot_flag`` take the PER-PAGE parse path (pdf_branch_paged)
    so a pathological page count cannot pin one pandas group — at the
    cost of one extra pdf-subtree scan paid ONLY when giants exist (the
    common no-giants plan keeps its 3+1 scans). On overflow every pdf
    doc is hot and paged; either kernel yields identical rows
    (parity-tested)."""
    exploded = explode_spans(df)

    # Blank test (F8): the reference's `if not text.strip()` — Python
    # strip semantics via the shared PY_WHITESPACE set (translate is
    # also codegen, where the old (?U)\s rlike was not, and Java's \s
    # misses U+001C-001F)
    def _non_blank(col) -> F.Column:
        return F.length(F.translate(col, PY_WHITESPACE, "")) > 0

    # JVM arm: clean-majority text + image passthrough + unknown-kind
    # failure rows, ONE scan, dispatched by in-row CASE. The clean
    # kernel's Python-only steps (/uniXXXX unescape, mojibake re-decode)
    # are no-ops unless their trigger pattern is present
    # (needs_python_column), so the overwhelming clean majority runs
    # the EXACT same transform as the JVM translate chain and never
    # leaves whole-stage codegen; only flagged rows cross into the
    # pandas kernel. A F.when() over a pandas UDF would NOT give this —
    # Spark extracts pandas UDFs into their own projection and
    # evaluates them for every row regardless of the branch — hence
    # the two-arm split.
    # NULL-safety (r3 ADVICE): under SQL three-valued logic a NULL text
    # or NULL kind would make these predicates NULL and the row would
    # silently vanish from BOTH arms — violating A4 ("never silently
    # lose a span"). Coalesce pins them: NULL text is not Python-
    # flagged (it reaches the JVM arm's blank drop — explicit P3
    # semantics), NULL kind is not known (routed to the FAIL arm).
    is_py = F.coalesce(needs_python_column(F.col("text")), F.lit(False))
    is_known = F.coalesce(F.col("kind").isin(*INPUT_KINDS), F.lit(False))
    is_text = F.coalesce(F.col("kind") == "text", F.lit(False))
    is_image = F.coalesce(F.col("kind") == "image", F.lit(False))
    clean = clean_text_column(F.col("text"))
    jvm_rows = (
        exploded
        .filter((is_text & ~is_py) | is_image | ~is_known)
        .withColumn("_clean", F.when(is_text, clean))
        .filter(~is_text
                | (F.col("_clean").isNotNull() & _non_blank(F.col("_clean"))))
        .select(
            "doc_id",
            F.col("offset").alias("ord0"),
            F.lit(0).alias("ord1"),
            F.when(is_text, F.lit("text"))
            .when(is_image, F.lit("image"))
            .otherwise(F.lit(FAIL_KIND)).alias("kind"),
            F.when(is_text, F.col("_clean"))
            .when(is_image, F.lit(""))
            .otherwise(F.lit(None).cast("string")).alias("text"),
            F.when(is_image, F.coalesce("media_ref", F.lit("")))
            .when(is_text, F.lit(""))
            .otherwise(F.lit(None).cast("string")).alias("media_ref"),
        )
    )

    # Python arm: ONE mapInPandas pass for html + docx + tables + the
    # flagged text sliver; Arrow transfer trimmed to the 4 needed cols.
    py_rows = _python_parse_branch(
        exploded
        .filter(F.col("kind").isin("html", "docx", "docx_table", "table")
                | ((F.col("kind") == "text") & is_py))
        .select("doc_id", "offset", "kind", "text")
    )

    # a doc's pdf_line spans in OFFSET order — the order the oracle lays
    # them out in — with NULL offsets last and ties kept in array order,
    # sorted once here for all three pdf stages (the paged path's
    # posexplode position is then the offset rank)
    pdf_lines = F.filter("spans", lambda s: s["kind"] == "pdf_line")
    by_offset = F.transform(
        F.array_sort(F.transform(pdf_lines, lambda s, i: F.struct(
            s["offset"].isNull().alias("null_off"),
            s["offset"].alias("off"), i.alias("pos"), s.alias("span")))),
        lambda k: k["span"])
    pdf_docs = (
        df.filter(F.exists("spans", lambda s: s["kind"] == "pdf_line"))
        .select("doc_id", by_offset.alias("spans"))
    )
    if pdf_vlm:
        pdf_rows = pdf_vlm_branch(pdf_docs)
        # (the VLM parser concatenates whole pages — a giant doc fails
        # its raises_on_error contract long before pandas memory does,
        # so no per-page fork here)
    elif hot_ids:
        tagged = with_hot_flag(pdf_docs, hot_ids)
        cold_pdf = tagged.filter(~F.col(HOT_COL)).select("doc_id", "spans")
        # anchor falls back to 0 for a doc whose pdf offsets are all
        # NULL — the doc-level kernel's default (never-throw, A4). It is
        # projected BEFORE the posexplode: next to the generator it would
        # make the Generate carry the whole spans array to every line
        # row and re-fold it there (quadratic in the doc's lines)
        hot_pdf = tagged.filter(F.col(HOT_COL)).select(
            "doc_id", "spans", F.coalesce(
                F.array_min(F.transform("spans", lambda s: s["offset"])),
                F.lit(0)).alias("anchor"))
        # posexplode: the offset rank rides along so the per-page
        # kernel can restore line order inside its group — groupBy
        # shuffle arrival order is nondeterministic, and the layout sort
        # breaks coordinate ties by input order
        lines = (hot_pdf.select(
            "doc_id", "anchor",
            F.posexplode(F.transform(
                "spans",
                lambda s: F.coalesce(s["text"], F.lit(""))))
            .alias("pos", "payload"))
            .withColumn("page", F.regexp_extract(
                "payload",
                r"^([+-]?[0-9]{1,%d});" % COORD_MAX_DIGITS,
                1).try_cast("long")))
        pdf_rows = pdf_branch(cold_pdf).unionByName(pdf_branch_paged(lines))
    else:
        pdf_rows = pdf_branch(pdf_docs)

    # presence marker: exactly one per input doc, stripped during reassembly
    marker_rows = df.select(
        "doc_id",
        F.lit(_I32_MIN).alias("ord0"),
        F.lit(0).alias("ord1"),
        F.lit(DOC_MARKER_KIND).alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )

    return (
        jvm_rows.unionByName(py_rows)
        .unionByName(pdf_rows).unionByName(marker_rows)
    )


def extract(
    df: DataFrame,
    image_mode: str = IMAGE_MODE_PLACEHOLDER,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    parse_images: bool = False,
    translate: bool = False,
    detect_lang: bool = False,
    pdf_vlm: bool = False,
) -> DataFrame:
    """Full pipeline: input span table -> DOCUMENTS_OUT_SCHEMA
    (doc_id, spans, markdown, status) + n_failures column for lineage.

    Optional enrichment stages mirror the reference's request flags:
    ``parse_images`` = VLM OCR insert-after (J1, pdf_parser.py:64-71),
    ``translate`` = per-span translation in place (J2), ``detect_lang``
    = first-3-paragraph language column (A2). All three are narrow
    maps over the reassembled span array — zero extra shuffles.
    """
    # Adaptive-salting hot set, collected ONCE (collect_hot_ids, whose
    # module owns the policy) and shared by the reassembly plan choice
    # AND the pdf per-page fork. Preferred source: the ingest-time
    # size_bucket column (GIANT_SIZE_BUCKET flags docs above the span
    # threshold) — a dictionary-encoded string scan, no spans payload
    # re-measurement; it also carries the byte-derived html-expansion
    # margin, which the count-only fallback deliberately omits. For an
    # EXTERNAL table (no size_bucket, never went through ingest) that
    # omission has TWO accepted residuals: (a) a few-spans-but-
    # multi-GB-payload doc is not flagged hot — salting cannot split
    # a single span struct anyway (the giant-SPAN shape is bounded
    # only by a spans/doc+bytes/span cap at ingest, SURVEY §7.3.4);
    # (b) a doc with few-but-huge HTML spans, each expanding into
    # thousands of parsed blocks, is not flagged either, so its
    # reassembly group lands unsalted on one reducer — the byte
    # margin exists precisely to catch this shape, and only the
    # ingest path can provide it, because re-reading the payload
    # column to estimate bytes is the full-corpus second scan r4
    # VERDICT #2 removed. Route external tables through
    # ingest_raw_text or add size_bucket upstream to get both back.
    if "size_bucket" in df.columns:
        hot_df = (df.filter(F.col("size_bucket") == GIANT_SIZE_BUCKET)
                  .select("doc_id"))
    else:
        hot_df = _hot_docs_fallback(df, SALT_SPAN_THRESHOLD)
    hot_ids = collect_hot_ids(hot_df)
    parsed = parse_all_branches(df, pdf_vlm=pdf_vlm, hot_ids=hot_ids)
    docs = reassemble(parsed, salt_buckets=salt_buckets,
                      salt_threshold=SALT_SPAN_THRESHOLD, hot_ids=hot_ids)
    if parse_images or detect_lang or translate:
        from document_parser_spark.operators import enrich, service
    if parse_images:
        docs = enrich.insert_ocr_after_images(
            docs, service.BatchedService(service.ocr_service_fn))
    if detect_lang:
        docs = enrich.detect_language(docs)
    if translate:
        docs = enrich.translate_spans(
            docs, service.BatchedService(service.translate_service_fn))
    serialize_udf = make_serialize_udf(image_mode)
    out_cols = [
        F.col("doc_id"),
        F.col("spans"),
        serialize_udf("spans").alias("markdown"),
        F.when(F.col("n_failures") > 0, F.lit(STATUS_PARSE_FAILURE))
        .when(F.size("spans") == 0, F.lit(STATUS_EMPTY))
        .otherwise(F.lit(STATUS_OK)).alias("status"),
        F.col("n_failures"),
    ]
    if detect_lang:
        out_cols.insert(3, F.col("lang"))
    return docs.select(*out_cols)
