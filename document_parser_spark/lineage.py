"""Per-partition lineage + idempotent checkpoint restart (SURVEY §2.11,
north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Model
-----
Output is bucketed into ``n_partitions`` stable buckets by
``pmod(xxhash64(doc_id), n)`` — a pure function of doc_id, so the
bucket assignment is identical across runs and cluster sizes:

    out_dir/part_bucket=<b>/*.parquet     (data)
    out_dir/_lineage/bucket=<b>.json      (one lineage row per bucket)

A lineage row carries the same status vocabulary as the reference's
webhook task store (webhook_manager/schemas.py:7-13): READY means the
bucket's data files are fully written. A commit is one partitioned
write of every non-READY bucket into ``out_dir/_tmp``, one aggregate
over the written files for every bucket's lineage tallies, then per
bucket: drop the old data dir, rename the ``_tmp`` dir into place,
write the lineage row last. A bucket is re-written wholesale
(idempotent — doc->bucket mapping is deterministic), never appended.

Restart = every bucket without a READY row, and only those are
recomputed. The unit of loss is the run, not the bucket: a crash
during the single write loses all of that run's uncommitted buckets,
while a crash during the renames keeps the buckets whose lineage row
landed.

This replaces the reference's crash-unsafe task store (a crashed task
stays PROCESSING forever, translator/v2/service.py:50-167) with a
restartable equivalent.

Iceberg note: with an Iceberg runtime jar present, data+lineage
become a single transactional ``writeTo().overwritePartitions()`` —
this module is the no-jar degradation (SURVEY §4.4) with the same
schema and semantics.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from document_parser_spark.config import (
    DEFAULT_OUTPUT_PARTITIONS,
    LINEAGE_READY,
    STATUS_PARSE_FAILURE,
)

BUCKET_COL = "part_bucket"


def with_bucket(df: DataFrame, n_partitions: int = DEFAULT_OUTPUT_PARTITIONS,
                key: str = "doc_id") -> DataFrame:
    """Stable bucket id: pure function of the doc key (restart-safe)."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(key), F.lit(n_partitions)).cast("int"))


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _bucket_dir(root: str, bucket: int) -> str:
    return os.path.join(root, f"{BUCKET_COL}={bucket}")


def ready_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets with a READY lineage row (read on the driver: one small
    JSON file per bucket, no Spark job)."""
    d = _lineage_dir(out_dir)
    ready = set()
    for f in glob.glob(os.path.join(d, "*.json")):
        with open(f, encoding="utf-8") as fh:
            row = json.load(fh)
        if row["status"] == LINEAGE_READY:
            ready.add(row["partition_id"])
    return ready


def remaining_buckets(spark: SparkSession, out_dir: str,
                      n_partitions: int) -> list[int]:
    """All buckets minus the READY ones (the anti join of SURVEY §2.3)."""
    ready = ready_buckets(spark, out_dir)
    return [b for b in range(n_partitions) if b not in ready]


def _fill_empty(spark: SparkSession, schema, tmp: str,
                buckets: list[int]) -> None:
    """Give buckets that received no rows a schema-only data file, so
    every READY bucket has its directory and an all-empty output still
    reads back with its schema."""
    empty = os.path.join(tmp, "_empty")
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(empty)
    src = glob.glob(os.path.join(empty, "*.parquet"))[0]
    for b in buckets:
        os.makedirs(_bucket_dir(tmp, b))
        shutil.copy(src, _bucket_dir(tmp, b))


def _bucket_stats(spark: SparkSession, tmp: str,
                  schema) -> dict[int, tuple]:
    """(span_count, parse_failures, doc_count) per bucket from the
    written files. Extraction output carries (spans, status); other
    relations (e.g. the curation pipeline's curated-corpus rows) commit
    through the same machinery with zeroed span/failure tallies. The
    known schema spares Spark the footer-reading job of schema
    inference."""
    df = spark.read.schema(schema).parquet(tmp)
    zero = F.lit(0).cast("long")
    # size(spans.offset): nested pruning reads one int leaf, not spans
    spans = (F.sum(F.size("spans.offset")) if "spans" in df.columns
             else zero)
    failures = (F.sum((F.col("status") == STATUS_PARSE_FAILURE)
                      .cast("long")) if "status" in df.columns else zero)
    return {r[0]: (int(r[1] or 0), int(r[2] or 0), r[3]) for r in
            df.groupBy(BUCKET_COL).agg(spans, failures, F.count("*"))
            .collect()}


def run_with_lineage(spark: SparkSession, result: DataFrame, out_dir: str,
                     n_partitions: int = DEFAULT_OUTPUT_PARTITIONS,
                     input_files: list[str] | None = None) -> list[dict]:
    """Write ``result`` (must carry doc_id; spans and status feed the
    lineage tallies) bucketed with per-bucket lineage, skipping READY
    buckets from a previous run.

    The in-progress write lands under ``out_dir/_tmp`` — deliberately
    OUTSIDE the ``part_bucket=*`` glob ``read_output`` scans, so a crash
    before a bucket's rename can never leak partial/duplicate rows into
    a post-crash read. A crash between a bucket's rename and its
    lineage row leaves it non-READY, so the restart rewrites it."""
    todo = remaining_buckets(spark, out_dir, n_partitions)
    if not todo:
        return []
    tmp = os.path.join(out_dir, "_tmp")
    bucketed = with_bucket(result, n_partitions)
    if len(todo) < n_partitions:
        bucketed = bucketed.filter(F.col(BUCKET_COL).isin(todo))
    bucketed.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
    empty = [b for b in todo if not os.path.isdir(_bucket_dir(tmp, b))]
    if empty:
        _fill_empty(spark, result.schema, tmp, empty)
    stats = _bucket_stats(spark, tmp, bucketed.schema)

    os.makedirs(_lineage_dir(out_dir), exist_ok=True)
    done = []
    for b in todo:
        data_dir = _bucket_dir(out_dir, b)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(_bucket_dir(tmp, b), data_dir)  # atomic on POSIX
        span_count, parse_failures, doc_count = stats.get(b, (0, 0, 0))
        row = {
            "partition_id": b,
            "status": LINEAGE_READY,
            "input_files": input_files or [],
            "span_count": span_count,
            "parse_failures": parse_failures,
            "doc_count": doc_count,
            "updated_at": time.time(),
        }
        lpath = os.path.join(_lineage_dir(out_dir), f"bucket={b}.json")
        with open(lpath + ".tmp", "w", encoding="utf-8") as fh:
            json.dump(row, fh)
        os.replace(lpath + ".tmp", lpath)
        done.append(row)
    shutil.rmtree(tmp, ignore_errors=True)
    return done


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back the committed output (all READY buckets). The bucket
    dirs are listed here: Spark probes a single path for a stream
    sink's ``_spark_metadata``, and a glob fails that probe with a
    warning. With no bucket dir the glob goes through and raises."""
    pattern = os.path.join(out_dir, f"{BUCKET_COL}=*")
    dirs = sorted(glob.glob(pattern)) or [pattern]
    return spark.read.option("basePath", out_dir).parquet(*dirs)
