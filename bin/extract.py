#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline (north rule:
"run via spark-submit --py-files on a multi-executor cluster").

Package and submit:

    cd /root/repo && zip -qr /tmp/dps.zip document_parser_spark
    spark-submit --py-files /tmp/dps.zip \\
        bin/extract.py --input <span-table-dir> --output <out-dir> \\
        [--partitions 64] [--salt-buckets 8] [--image-mode placeholder] \\
        [--no-resume]

The job is idempotent-restartable: output is committed per stable
doc_id bucket with a lineage row each; a re-run processes only
non-READY buckets (see document_parser_spark.lineage). On a real
cluster nothing changes except --master and executor sizing — every
operator is expressed against the DataFrame API, all parallelism
comes from partitioning.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from document_parser_spark.config import (
    DEFAULT_OUTPUT_PARTITIONS,
    DEFAULT_SALT_BUCKETS,
    IMAGE_MODE_PLACEHOLDER,
    IMAGE_MODE_REFERENCED,
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="parquet/Iceberg dir of (doc_id, spans[, host, "
                        "size_bucket])")
    p.add_argument("--output", required=True, help="output table dir")
    p.add_argument("--partitions", type=int,
                   default=DEFAULT_OUTPUT_PARTITIONS,
                   help="stable output bucket count (restart granularity)")
    p.add_argument("--salt-buckets", type=int, default=DEFAULT_SALT_BUCKETS,
                   help="salt fan-out for the reassembly shuffle")
    p.add_argument("--image-mode", default=IMAGE_MODE_PLACEHOLDER,
                   choices=(IMAGE_MODE_PLACEHOLDER, IMAGE_MODE_REFERENCED))
    p.add_argument("--media", default=None,
                   help="parquet dir of media binaries (doc_id, media_ref,"
                        " content) — with --artifacts-dir, REFERENCED "
                        "mode writes the actual artifact files")
    p.add_argument("--artifacts-dir", default=None,
                   help="shared dir to materialize REFERENCED-mode "
                        "artifacts into (one file per image span)")
    p.add_argument("--shuffle-partitions", type=int, default=256,
                   help="sized by data volume, NOT core count; AQE "
                        "coalesces down")
    p.add_argument("--no-resume", action="store_true",
                   help="ignore existing lineage (full re-run)")
    p.add_argument("--raw-bytes", action="store_true",
                   help="input is (doc_id, content: binary): decode via "
                        "the F1 utf-8 -> detected-codec -> replace chain "
                        "before extraction")
    args = p.parse_args(argv)
    if bool(args.media) != bool(args.artifacts_dir):
        # fail fast: with only one of the pair the file half would be
        # SILENTLY skipped and the REFERENCED markdown's ![](...) links
        # would dangle — discovered only downstream
        p.error("--media and --artifacts-dir must be given together "
                "(file materialization needs both; give neither to "
                "write only the manifest)")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .appName("document-parser-spark-extract")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from document_parser_spark import lineage as lin
    from document_parser_spark.plans.pipeline import extract

    if args.no_resume:
        import shutil
        shutil.rmtree(args.output, ignore_errors=True)

    t0 = time.time()
    done = []
    # a restart with every bucket READY has nothing to commit: skip the
    # input read and extract()'s hot-id collect and planning
    if lin.remaining_buckets(spark, args.output, args.partitions):
        docs = spark.read.parquet(args.input)
        if args.raw_bytes:
            from document_parser_spark.sources.ingest import ingest_raw_text
            docs = ingest_raw_text(docs)
        result = extract(docs, image_mode=args.image_mode,
                         salt_buckets=args.salt_buckets)
        done = lin.run_with_lineage(
            spark, result, args.output, n_partitions=args.partitions,
            input_files=[args.input])
    n_artifacts = n_written = None
    if args.image_mode == IMAGE_MODE_REFERENCED:
        # artifacts-dir analogue: write the media manifest beside the
        # markdown output (sibling dir — the lineage glob owns --output)
        from document_parser_spark.operators.serialize import (
            artifacts_manifest,
            materialize_artifacts,
        )
        manifest = artifacts_manifest(lin.read_output(spark, args.output))
        mpath = args.output.rstrip("/") + "_artifacts"
        manifest.write.mode("overwrite").parquet(mpath)
        n_artifacts = spark.read.parquet(mpath).count()
        if args.media and args.artifacts_dir:
            # the file half: executors write one binary per image span
            # into the artifacts dir, statuses committed beside the
            # manifest so a missing binary is a row, not an exception
            status = materialize_artifacts(
                spark.read.parquet(mpath), spark.read.parquet(args.media),
                args.artifacts_dir)
            spath = mpath + "_status"
            status.write.mode("overwrite").parquet(spath)
            st = spark.read.parquet(spath)
            n_written = st.filter(st.status == "written").count()
    wall = time.time() - t0

    # throughput counts only this run's buckets: a restart that skips
    # READY buckets must not claim their docs
    run_docs = sum(d["doc_count"] for d in done)
    summary = {
        "buckets_committed": len(done),
        "span_count": sum(d["span_count"] for d in done),
        "parse_failures": sum(d["parse_failures"] for d in done),
        "output_docs": lin.read_output(spark, args.output).count(),
        "wall_s": round(wall, 2),
        "docs_per_sec": round(run_docs / wall, 1) if wall > 0 else None,
    }
    if n_artifacts is not None:
        summary["artifacts"] = n_artifacts
    if n_written is not None:
        summary["artifacts_written"] = n_written
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
