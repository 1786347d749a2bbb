"""Correctness checks, run after the timed region.

Every workload is checked three ways: oracle parity with
``refparser.parse_document`` on a deterministic doc sample (spans,
markdown and status; every giant is always in the sample), output doc
count equal to the input's with each doc exactly once, and every lineage
bucket READY (commit workloads). ``resume`` output must also equal a
clean bulk commit of the same corpus bucket for bucket.
"""
from __future__ import annotations

import random

from pyspark.sql import functions as F

from document_parser_spark import lineage as lin
from document_parser_spark.config import GIANT_SIZE_BUCKET
from document_parser_spark.refparser.parse import parse_document

ORACLE_SAMPLE = 24
_COLS = ("doc_id", "spans", "markdown", "status", "n_failures")


def oracle_sample(docs: list, seed: int) -> list:
    ordinary = [d for d in docs if d[3] != GIANT_SIZE_BUCKET]
    giants = [d for d in docs if d[3] == GIANT_SIZE_BUCKET]
    picked = random.Random(seed).sample(ordinary,
                                        min(ORACLE_SAMPLE, len(ordinary)))
    return picked + giants


def oracle_parity(out_df, sample: list) -> list[str]:
    """Mismatches between the output rows and the oracle for ``sample``."""
    ids = [d[0] for d in sample]
    rows = {r.doc_id: r for r in
            out_df.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "spans", "markdown", "status").collect()}
    errors = []
    for doc_id, spans, _, _ in sample:
        want = parse_document(doc_id, spans)
        got = rows.get(doc_id)
        if got is None:
            errors.append(f"{doc_id}: missing from output")
            continue
        got_spans = [(s.kind, s.text, s.media_ref, s.offset)
                     for s in got.spans]
        if got_spans != want.spans:
            errors.append(f"{doc_id}: spans differ from the oracle")
        if got.markdown != want.markdown:
            errors.append(f"{doc_id}: markdown differs from the oracle")
        if got.status != want.status:
            errors.append(f"{doc_id}: status {got.status} != "
                          f"{want.status}")
    return errors


def exactly_once(out_df, n_input: int) -> list[str]:
    row = out_df.agg(F.count("*").alias("n"),
                     F.countDistinct("doc_id").alias("d")).collect()[0]
    if row.n == n_input and row.d == n_input:
        return []
    return [f"output has {row.n} rows / {row.d} distinct docs, "
            f"input {n_input}"]


def all_ready(spark, out_dir: str, n_buckets: int) -> list[str]:
    missing = set(range(n_buckets)) - lin.ready_buckets(spark, out_dir)
    return [f"buckets not READY: {sorted(missing)}"] if missing else []


def equal_outputs(a_dir: str, b_dir: str) -> list[str]:
    """Both committed outputs hold the same rows in the same buckets."""
    import pyarrow.dataset as ds

    def load(d):
        t = ds.dataset(d, format="parquet", partitioning="hive").to_table()
        return t.select([*_COLS, lin.BUCKET_COL]).sort_by("doc_id")

    a, b = load(a_dir), load(b_dir)
    return [] if a.equals(b) else [f"{a_dir} differs from {b_dir}"]
