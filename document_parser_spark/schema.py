"""Canonical Spark schemas (BASELINE.json input_hint / FIXTURES.md §1-2)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType([
    StructField("kind", StringType(), False),
    StructField("text", StringType(), True),
    StructField("media_ref", StringType(), True),
    StructField("offset", IntegerType(), False),
])

DOCUMENTS_IN_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", ArrayType(SPAN_STRUCT), False),
    StructField("host", StringType(), True),          # skew key (optional)
    StructField("size_bucket", StringType(), True),   # s|m|l|xl|g (optional;
    # 'g' = ingest-flagged giant, keys extract()'s adaptive salting)
])

DOCUMENTS_OUT_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", ArrayType(SPAN_STRUCT), False),
    StructField("markdown", StringType(), True),
    StructField("status", StringType(), False),
])

# Parsed-span relation emitted by every per-kind branch before reassembly:
# (ord0, ord1) is the total order key within a doc; kind "__fail__" marks a
# parse failure (tallied into lineage, excluded from output spans).
PARSED_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("ord0", IntegerType(), False),
    StructField("ord1", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("text", StringType(), True),
    StructField("media_ref", StringType(), True),
])

FAIL_KIND = "__fail__"
