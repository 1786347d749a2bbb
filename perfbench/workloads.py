"""The four extract workloads, each driven through the package's public
entry points exactly as ``bin/extract.py`` and ``streaming.stream`` run
them. Every op returns an ``OpResult``; the timed region of a commit op
runs from the input read to ``run_with_lineage`` returning, that of a
stream op from ``stream_extract`` to the end of the catch-up.
"""
from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from document_parser_spark import lineage as lin
from document_parser_spark.config import IMAGE_MODE_PLACEHOLDER
from document_parser_spark.plans import pipeline
from document_parser_spark.streaming import stream


@dataclass(frozen=True)
class Spec:
    name: str
    mode: str            # "commit" | "stream" | "resume"
    n_docs: int          # synth docs in the seed's window
    giants: bool         # add giant pdf + text docs (skew)


# Sizes keep one run, set-up included, near a minute on a 4-core host;
# perfbench/BASELINE.md gives the reasons and each workload's purpose.
N_FILES = 4              # corpus files (the stream's unit of arrival)
FILES_PER_TRIGGER = 2    # -> 2 streaming epochs
BUCKETS = 4              # bin/extract.py --partitions
SHUFFLE_PARTITIONS = 8   # bin/extract.py --shuffle-partitions
SALT_BUCKETS = 8         # bin/extract.py --salt-buckets (its default)

SPECS = {s.name: s for s in (
    Spec("bulk", "commit", 1000, False),
    Spec("stream", "stream", 2000, False),
    Spec("skew", "commit", 1000, True),
    Spec("resume", "resume", 1000, False),
)}


@dataclass
class OpResult:
    wall_s: float
    docs_committed: int
    units_s: list[float]         # per epoch, or op wall / buckets
    ops: int                     # buckets committed or epochs run
    t0_ms: float                 # epoch ms, for the event log window
    t1_ms: float
    progress: list[dict] = field(default_factory=list)
    cpu_s: float = 0.0           # set by the harness around the op


def data_files(out_dir: str) -> int:
    return len(glob.glob(os.path.join(out_dir, "*=*", "*.parquet")))


def commit(spark, corpus_dir: str, out_dir: str,
           docs_in_todo: int) -> OpResult:
    """extract + run_with_lineage into ``out_dir``, skipping READY
    buckets. The commit unit is the op wall over the buckets it
    committed: the per-bucket work is not separable from the shared
    read, parse and persist that precede the first bucket."""
    t0_ms = time.time() * 1e3
    t0 = time.perf_counter()
    docs = spark.read.parquet(corpus_dir)
    result = pipeline.extract(docs, image_mode=IMAGE_MODE_PLACEHOLDER,
                              salt_buckets=SALT_BUCKETS)
    done = lin.run_with_lineage(spark, result, out_dir,
                                n_partitions=BUCKETS,
                                input_files=[corpus_dir])
    wall = time.perf_counter() - t0
    t1_ms = time.time() * 1e3
    return OpResult(wall, docs_in_todo, [wall / max(1, len(done))],
                    len(done), t0_ms, t1_ms)


def stream_catchup(spark, corpus_dir: str, out_dir: str, ckpt_dir: str,
                   n_docs: int) -> OpResult:
    t0_ms = time.time() * 1e3
    t0 = time.perf_counter()
    q = stream.stream_extract(spark, corpus_dir, out_dir, ckpt_dir,
                              image_mode=IMAGE_MODE_PLACEHOLDER,
                              max_files_per_trigger=FILES_PER_TRIGGER,
                              salt_buckets=SALT_BUCKETS)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    t1_ms = time.time() * 1e3
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0)]
    units = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    return OpResult(wall, n_docs, units, len(progress), t0_ms, t1_ms,
                    progress)


def lost_buckets(seed: int) -> list[int]:
    """The half of the buckets a resume run has to recommit."""
    return sorted(random.Random(seed).sample(range(BUCKETS), BUCKETS // 2))


def restore_resume_state(pristine: str, out_dir: str,
                         lost: list[int]) -> None:
    """Copy a committed bulk output and drop the data and lineage rows
    of the ``lost`` buckets."""
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.copytree(pristine, out_dir)
    for b in lost:
        shutil.rmtree(os.path.join(out_dir, f"{lin.BUCKET_COL}={b}"))
        os.remove(os.path.join(out_dir, "_lineage", f"bucket={b}.json"))
