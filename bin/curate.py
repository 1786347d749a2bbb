#!/usr/bin/env python
"""spark-submit entrypoint for the corpus-curation pipeline — the
training-data pass that runs AFTER extraction, over a (doc_id, text,
lang, source, n_chars) corpus table:

    language gate -> quality gate -> repetition gate -> exact-dedup
    survivors -> deterministic sample  (ops.curation.curation_flags)
    [-> benchmark decontamination]     (--benchmark)
    [-> domain-level quality gate]     (--domain-gate)
    -> train/val/test split            (--splits)
    [-> token-budget shard assignment] (--shard-tokens)
    -> bucketed, lineage-committed parquet

Package and submit:

    cd /root/repo && zip -qr /tmp/dps.zip document_parser_spark
    spark-submit --py-files /tmp/dps.zip \\
        bin/curate.py --input <corpus-dir> --output <out-dir> \\
        [--benchmark <bench-dir>] [--domain-gate] \\
        [--sample-fraction 1.0] [--splits train:0.9,val:0.05,test:0.05] \\
        [--shard-tokens 1048576] [--no-resume]

Restart semantics are identical to bin/extract.py: output commits per
stable doc_id bucket with a lineage row each (lineage.run_with_lineage);
a re-run processes only non-READY buckets. Every stage is a pure
function of the input + seeds, so a restart reproduces byte-identical
buckets.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="parquet dir of (doc_id, text, lang, source, ...)")
    p.add_argument("--output", required=True, help="output table dir")
    p.add_argument("--lang", default="en",
                   help="language gate target (lang_id guess)")
    p.add_argument("--sample-fraction", type=float, default=1.0,
                   help="deterministic post-dedup hash sample")
    p.add_argument("--seed", default="cur", help="sampling/split seed")
    p.add_argument("--benchmark", default=None,
                   help="parquet dir with a 'text' column: drop corpus "
                        "docs sharing n-grams with it (decontamination)")
    p.add_argument("--domain-gate", action="store_true",
                   help="drop whole sources below the corpus-level "
                        "stopword-mass ratio (ops.curation)")
    p.add_argument("--splits", default="train:0.9,val:0.05,test:0.05",
                   help="name:fraction list; residue -> last split")
    p.add_argument("--shard-tokens", type=int, default=None,
                   help="assign token-budget shard ids (ops.packing)")
    p.add_argument("--partitions", type=int, default=64,
                   help="stable output bucket count (restart granularity)")
    p.add_argument("--shuffle-partitions", type=int, default=256)
    p.add_argument("--no-resume", action="store_true",
                   help="ignore existing lineage (full re-run). Needed "
                        "for outputs written before commit bf05cbd, "
                        "which changed the split seed and so the split "
                        "assignment: resuming one would mix both")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .appName("document-parser-spark-curate")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from document_parser_spark import lineage as lin
    from document_parser_spark.ops import curation as cur
    from document_parser_spark.ops import decontam as dc
    from document_parser_spark.ops import packing as pk
    from document_parser_spark.ops import sampling as smp

    if args.no_resume:
        import shutil
        shutil.rmtree(args.output, ignore_errors=True)

    weights = tuple(
        (name, float(frac))
        for name, frac in (kv.split(":") for kv in args.splits.split(","))
    )

    t0 = time.time()
    docs = spark.read.parquet(args.input)

    if args.domain_gate:
        docs = cur.group_quality_gate(docs)

    flags = cur.curation_flags(
        docs, lang=args.lang, sample_fraction=args.sample_fraction,
        seed=args.seed)
    funnel = flags.agg(
        F.count("*").alias("n_input"),
        *[F.sum(c).cast("long").alias(c.replace("f_", "n_"))
          for c in ("f_lang", "f_quality", "f_rep", "f_dedup",
                    "f_sampled")]).collect()[0].asDict()
    kept = docs.join(
        flags.filter(F.col("f_sampled") == 1).select("doc_id"), "doc_id")

    n_contaminated = None
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        if "doc_id" not in bench.columns:
            # shingling keys on doc_id; any stable id works for the
            # benchmark side (it is only ever a distinct-shingle set)
            bench = bench.withColumn(
                "doc_id", F.monotonically_increasing_id())
        before = kept.count()
        kept = dc.decontaminate(kept, bench)
        n_contaminated = before - kept.count()

    # the split draw must be INDEPENDENT of the sampling draw: both are
    # pure functions of (doc_id, seed), so sharing args.seed correlates
    # them perfectly — with --sample-fraction <= 0.9 every surviving
    # doc's key sits below the train boundary and val/test come out
    # structurally EMPTY (masked at the 1.0 default, where every key
    # survives). A stage-distinct derived seed keeps the run fully
    # reproducible from the one --seed flag without the correlation.
    kept = smp.split_assign(kept, weights=weights,
                            seed=args.seed + ":split")
    if args.shard_tokens:
        shards = pk.shard_assign(
            kept.select("doc_id",
                        F.size(F.split("text", " ")).cast("long")
                        .alias("n_tokens")),
            shard_tokens=args.shard_tokens)
        kept = kept.join(shards.select("doc_id", "shard_id"), "doc_id")

    done = lin.run_with_lineage(
        spark, kept, args.output, n_partitions=args.partitions,
        input_files=[args.input])
    wall = time.time() - t0

    out = lin.read_output(spark, args.output)
    split_counts = {r["split"]: r["n"] for r in
                    out.groupBy("split").agg(F.count("*").alias("n"))
                    .collect()}
    summary = {
        "buckets_committed": len(done),
        "funnel": funnel,
        "split_counts": split_counts,
        "output_docs": out.count(),
        "wall_s": round(wall, 2),
    }
    if n_contaminated is not None:
        summary["decontaminated"] = n_contaminated
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
