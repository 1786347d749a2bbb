"""Seeded benchmark corpora, generated with ``sources.synth`` and cached
on disk.

The seed picks the ``generate_doc`` index window ``[seed * n, seed * n +
n)``; the corpus is a directory of ``n_files`` parquet files in the
canonical input schema, so the same files feed a batch read and a
streaming file source. A corpus is cached under the work directory,
keyed by workload, seed and size, and reused when the key repeats.

The ``skew`` workload adds giant documents. ``generate_doc`` caps a doc
at 400 spans, so giants are built here from the window's own pdf lines
(stacked into dense pages) or text paragraphs until the doc passes
``SALT_SPAN_THRESHOLD``; ``size_bucket`` then comes from the same rule
synth applies (span count or payload bytes above the threshold).
"""
from __future__ import annotations

import os
import shutil

from document_parser_spark.config import (
    GIANT_SIZE_BUCKET,
    SALT_SPAN_THRESHOLD,
)
from document_parser_spark.sources.synth import generate_doc

Doc = tuple[str, list[tuple[str, str, str, int]], str, str]


def size_bucket(spans: list, bucket: str) -> str:
    """synth.generate_doc's giant rule: span count or payload bytes above
    the salting threshold flag the doc 'g'."""
    if (len(spans) > SALT_SPAN_THRESHOLD
            or sum(len(s[1] or "") for s in spans)
            > SALT_SPAN_THRESHOLD * 200):
        return GIANT_SIZE_BUCKET
    return bucket


def window_docs(seed: int, n_docs: int) -> list[Doc]:
    start = seed * n_docs
    return [generate_doc(i) for i in range(start, start + n_docs)]


def _giant_pdf(docs: list[Doc], name: str, min_spans: int,
               lines_per_page: int = 128) -> Doc:
    """Concatenate the window's pdf lines into one doc of more than
    ``min_spans`` lines. Synth pages hold ~12 lines; stacking them
    (each shifted down below the previous one) gives pages of about
    ``lines_per_page`` lines, as in a dense book, instead of thousands
    of near-empty pages."""
    lines = [p for d in docs if d[1] and d[1][0][0] == "pdf_line"
             for _, p, _, _ in d[1]]
    spans, page, on_page, y_base, prev_y = [], 1, 0, 0, None
    while len(spans) <= min_spans:
        for payload in lines:
            fields, text = payload.split("|", 1)
            _, x0, y0, x1, y1 = (int(v) for v in fields.split(";"))
            if prev_y is not None and y0 > prev_y:     # a new synth page
                if on_page >= lines_per_page:
                    page, on_page, y_base = page + 1, 0, 0
                else:
                    y_base += 80000
            prev_y = y0
            shift = 80000 * 64 - y_base
            spans.append(("pdf_line", f"{page};{x0};{y0 + shift};{x1};"
                          f"{y1 + shift}|{text}", "", len(spans)))
            on_page += 1
            if len(spans) > min_spans:
                break
    return name, spans, "host000", size_bucket(spans, "xl")


def _giant_text(docs: list[Doc], name: str, min_spans: int) -> Doc:
    paras = [s[1] for d in docs for s in d[1] if s[0] == "text"]
    spans = [("text", paras[i % len(paras)], "", i)
             for i in range(min_spans + 1)]
    return name, spans, "host000", size_bucket(spans, "xl")


def giant_docs(docs: list[Doc], seed: int, n_pdf: int = 2,
               n_text: int = 1) -> list[Doc]:
    giants = []
    for k in range(n_pdf):
        # rotate the window so each pdf giant has its own page sequence
        rot = docs[k * len(docs) // max(1, n_pdf):] + \
            docs[:k * len(docs) // max(1, n_pdf)]
        giants.append(_giant_pdf(rot, f"pg-{seed:06d}-{k}",
                                 SALT_SPAN_THRESHOLD))
    for k in range(n_text):
        giants.append(_giant_text(docs, f"tg-{seed:06d}-{k}",
                                  SALT_SPAN_THRESHOLD))
    for g in giants:
        if g[3] != GIANT_SIZE_BUCKET:
            raise AssertionError(f"{g[0]} is not flagged giant")
    return giants


def build(seed: int, n_docs: int, with_giants: bool) -> list[Doc]:
    docs = window_docs(seed, n_docs)
    if with_giants:
        docs = docs + giant_docs(docs, seed)
    return docs


def _to_table(docs: list[Doc]):
    import pyarrow as pa

    from document_parser_spark.schema import DOCUMENTS_IN_SCHEMA

    schema = pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.struct([
            pa.field("kind", pa.string(), nullable=False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), nullable=False)])),
            nullable=False),
        pa.field("host", pa.string()),
        pa.field("size_bucket", pa.string()),
    ])
    if [f.name for f in schema] != DOCUMENTS_IN_SCHEMA.fieldNames():
        raise RuntimeError("corpus schema drifted from DOCUMENTS_IN_SCHEMA")
    return pa.table({
        "doc_id": [d[0] for d in docs],
        "spans": [[{"kind": k, "text": t, "media_ref": m, "offset": o}
                   for k, t, m, o in d[1]] for d in docs],
        "host": [d[2] for d in docs],
        "size_bucket": [d[3] for d in docs],
    }, schema=schema)


def materialize(cache_dir: str, workload: str, seed: int, n_docs: int,
                n_files: int, with_giants: bool) -> tuple[str, bool]:
    """-> (corpus dir, cache hit). Docs are dealt round-robin over the
    files so every file carries the same family mix."""
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir,
                        f"{workload}-seed{seed}-n{n_docs}-f{n_files}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, True
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    docs = build(seed, n_docs, with_giants)
    for f in range(n_files):
        pq.write_table(_to_table(docs[f::n_files]),
                       os.path.join(tmp, f"part-{f:05d}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, path)
    return path, False


def read_docs(corpus_dir: str) -> list[Doc]:
    """The corpus back as python tuples (for the oracle and in-process
    kernels), in file order."""
    import pyarrow.parquet as pq

    docs = []
    for name in sorted(os.listdir(corpus_dir)):
        if not name.endswith(".parquet"):
            continue
        for row in pq.read_table(os.path.join(corpus_dir, name)).to_pylist():
            docs.append((row["doc_id"],
                         [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in row["spans"]],
                         row["host"], row["size_bucket"]))
    return docs
