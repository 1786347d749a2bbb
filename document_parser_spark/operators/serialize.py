"""Markdown serialization for Spark (SURVEY.md §2.9 F10-F15).

A scalar pandas UDF over the reassembled ``spans`` array column: each
Arrow batch crosses into Python once, and ``refparser.serialize``'s
``serialize_markdown`` renders every doc of the batch (placeholders in
config.py; page break: abc/abc.py:30, image placeholder mode:
abc/abc.py:27).
"""

from __future__ import annotations

import pandas as pd

from document_parser_spark.config import IMAGE_MODE_PLACEHOLDER
from document_parser_spark.refparser.serialize import serialize_markdown


def serialize_batch(spans_series: pd.Series, image_mode: str) -> pd.Series:
    """Series of span arrays (dicts with kind/text/media_ref, already in
    final order) -> Series of markdown strings; a NULL array is ""."""
    return pd.Series([
        "" if spans is None else serialize_markdown(
            [(sp["kind"], sp["text"], sp["media_ref"]) for sp in spans],
            image_mode)
        for spans in spans_series], index=spans_series.index, dtype="object")


def make_serialize_udf(image_mode: str = IMAGE_MODE_PLACEHOLDER):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def serialize_markdown_udf(spans: pd.Series) -> pd.Series:
        return serialize_batch(spans, image_mode)

    return serialize_markdown_udf


def artifacts_manifest(docs):
    """REFERENCED mode's artifacts-dir analogue (reference:
    abc/abc.py:27-28 — Docling saves image files next to the markdown).
    A distributed job cannot drop files 'next to' each row, so the
    Spark-shaped contract is a MANIFEST relation: one row per image
    span of the extracted output, carrying the source ``media_ref`` and
    the deterministic ``artifact_path`` the markdown's ``![](...)``
    links resolve against once a downstream copier materializes the
    binaries. Pure narrow ops over the output spans — no shuffle."""
    from pyspark.sql import functions as F

    sp = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).filter((F.col("s.kind") == "image") & (F.col("s.media_ref") != ""))
    return sp.select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.concat(F.lit("artifacts/"), F.col("doc_id"), F.lit("/"),
                 F.col("s.offset").cast("string")).alias("artifact_path"),
    )


def materialize_artifacts(manifest, media, base_dir: str):
    """The file-materialization half of REFERENCED mode (reference:
    abc/abc.py:27-28 + html_parser.py:62 — Docling writes the image
    binaries into an artifacts dir next to the markdown). Joins the
    :func:`artifacts_manifest` relation with a media table carrying the
    binaries (``ops.multimodal.MEDIA_SCHEMA``: doc_id, media_ref,
    content) and writes each artifact to ``base_dir/artifact_path``
    FROM THE EXECUTORS — one file per image span, exactly the
    reference's artifacts-dir layout, but distributed.

    -> (doc_id, media_ref, artifact_path, n_bytes, status) with status
    ``written``, ``missing`` (manifest row with no media bytes),
    ``unsafe_path`` (the path escapes ``base_dir`` — ``artifact_path``
    embeds the raw ``doc_id:string``, so a hostile id like ``../../x``
    or an absolute path would otherwise write outside the artifacts
    dir; the write is refused and surfaced as a row — the A4 posture:
    never throw, never silently lose) or ``io_error`` (the resolve /
    mkdir / write itself raised — a NUL byte in the id makes realpath
    raise ValueError, an overlong component makes open raise OSError;
    both become rows, not task failures).

    Scale notes: ``base_dir`` must be a shared filesystem / object
    store mount (on a cluster each task writes its own partition's
    files, no driver funnel); the join is media_ref-keyed with the
    binaries on the probe side only. The inner per-row loop is file
    IO, not data transformation — there is nothing to vectorize.
    """
    import os

    import pandas as pd

    joined = manifest.join(
        media.select("doc_id", "media_ref", "content"),
        ["doc_id", "media_ref"], "left")
    out_schema = ("doc_id string, media_ref string, artifact_path string, "
                  "n_bytes long, status string")

    def run(batches):
        root = None  # resolved lazily on the executor
        for pdf in batches:
            if pdf.empty:
                continue
            if root is None:
                os.makedirs(base_dir, exist_ok=True)
                root = os.path.realpath(base_dir)
            n_bytes, status = [], []
            for path, content in zip(pdf["artifact_path"], pdf["content"]):
                if content is None:
                    n_bytes.append(0)
                    status.append("missing")
                    continue
                # doc_id is embedded raw in artifact_path: resolve and
                # refuse anything landing outside base_dir ('..' or
                # absolute ids would traverse out of the artifacts dir)
                try:
                    full = os.path.realpath(os.path.join(root, path))
                    if not full.startswith(root + os.sep):
                        n_bytes.append(0)
                        status.append("unsafe_path")
                        continue
                    os.makedirs(os.path.dirname(full), exist_ok=True)
                    with open(full, "wb") as fh:
                        fh.write(bytes(content))
                except (ValueError, OSError):
                    # NUL-byte ids (ValueError from realpath/open) and
                    # overlong paths (OSError) surface as rows (A4)
                    n_bytes.append(0)
                    status.append("io_error")
                    continue
                n_bytes.append(len(content))
                status.append("written")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype(str),
                "media_ref": pdf["media_ref"],
                "artifact_path": pdf["artifact_path"],
                "n_bytes": pd.Series(n_bytes, dtype="int64"),
                "status": status,
            })

    return joined.mapInPandas(run, schema=out_schema)
