"""Traced run: per-layer metrics, measured from outside the package.

Spans (name, start, end, parent, run id) are recorded around every call
the benchmark makes into a layer's public functions. During the traced
workload op the calls the package makes between its own modules
(``pipeline.extract`` from the stream, ``lineage.remaining_buckets`` from
the commit) are wrapped too, by swapping the module attribute for a
spanning wrapper for the duration of the op. Spans stay in memory and are
written to ``.perfbench_work/traces/`` at the end. Spark-side numbers
come from the event log the traced session writes; each layer's Spark
work runs under its own job group so the log can attribute it.

After the warm-up op of set-up, the run does the workload op once
untraced and once traced (their wall difference is the tracing
overhead), checks the traced op's output, then
measures each layer in isolation on the workload's corpus:

  pipeline    the extract() call (it includes the eager hot-set collect),
              Catalyst phase times, input scans in the executed plan,
              hot-set size
  html_parse  parse_html_rows over the html payloads, in this process
  pdf_parse   parse_pdf_batch over the pdf docs the doc-level kernel
              takes, in this process; a Spark noop of pdf_branch_paged
              over the hot pdf docs' lines (the pdf docs of the first
              corpus file when there are no hot docs)
  cleaning    Spark noop of clean_text_column over the text spans; the
              spans needs_python_column flags, and clean_and_fix_series
              over them in this process
  reassemble  Spark noop of reassemble() over the materialized parse
              output; its shuffle bytes and reduce-task skew
  serialize   serialize_batch over the materialized reassembled spans
              in this process; a Spark noop of the serializer UDF and
              the Arrow bytes its ArrowEvalPython node moved
  lineage     run_with_lineage over a materialized extract output, from
              the workload's starting state; its job count; the
              remaining_buckets call; docs the op parsed per doc it had
              to commit
  streaming   epochs and per-epoch overhead (trigger minus addBatch) of
              the stream op, or of a catch-up over the same corpus
  spark       whole-op totals from the event log
  memory      peak summed RSS of the driver JVM and its Python workers
              during the untraced op, sampled from /proc
  op          wall time, docs per second and median commit unit of the
              untraced op: what a user waits for, kept out of the gated
              end-to-end set because other guests' CPU steal on a shared
              host moves them by more than any useful bound
"""
from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
import uuid

import numpy as np
import pandas as pd

import session
import stats
from eventlog import EventLog
from workloads import (
    BUCKETS,
    SALT_BUCKETS,
    restore_resume_state,
    stream_catchup,
)

_PHASES = ("analysis", "optimization", "planning")
_ARROW_METRICS = ("data sent to Python workers",
                  "data returned from Python workers")
_PY_RUN = ("time to run Python workers",)   # ms, summed over tasks


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": stack[-1] if stack else self.root,
                   "run_id": self.run_id, "start": time.time(), "end": None}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def self_seconds(self, span_id: int) -> float:
        """The span's duration minus the part its children cover."""
        from eventlog import union_length

        s = self.spans[span_id]
        kids = [(c["start"], c["end"]) for c in self.spans
                if c["parent"] == span_id and c["end"] is not None]
        return (s["end"] - s["start"]) - union_length(kids, s["start"],
                                                      s["end"])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for s in self.spans:
            s["self_s"] = self.self_seconds(s["id"])
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=1)


@contextlib.contextmanager
def wrapped(tracer: Tracer, module, attr: str, name: str):
    """Swap ``module.attr`` for a wrapper that records a span per call."""
    orig = getattr(module, attr)

    def spanning(*args, **kwargs):
        with tracer.span(name):
            return orig(*args, **kwargs)

    setattr(module, attr, spanning)
    try:
        yield
    finally:
        setattr(module, attr, orig)


@contextlib.contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _paged_lines(docs_df):
    """The per-page kernel's input, built as parse_all_branches builds it
    for hot pdf docs (anchor, span position, page field, payload)."""
    from pyspark.sql import functions as F

    from document_parser_spark.refparser.pdf import COORD_MAX_DIGITS

    pdf = docs_df.filter(F.exists("spans", lambda s: s["kind"] == "pdf_line")) \
        .select("doc_id", F.filter("spans", lambda s: s["kind"] == "pdf_line")
                .alias("spans"))
    anchor = F.coalesce(
        F.array_min(F.transform("spans", lambda s: s["offset"])),
        F.lit(0)).alias("anchor")
    return (pdf.select(
        "doc_id", anchor,
        F.posexplode(F.transform(
            "spans", lambda s: F.coalesce(s["text"], F.lit(""))))
        .alias("pos", "payload"))
        .withColumn("page", F.regexp_extract(
            "payload", r"^([+-]?[0-9]{1,%d});" % COORD_MAX_DIGITS,
            1).try_cast("long")))


def _catalyst_seconds(qe) -> float:
    phases = qe.tracker().phases()
    total = 0.0
    for name in _PHASES:
        if phases.contains(name):
            total += phases.apply(name).durationMs()
    return total / 1e3


def _streaming(progress: list[dict]) -> tuple[int, float]:
    over = [(p["durationMs"]["triggerExecution"]
             - p["durationMs"].get("addBatch", 0)) / 1e3 for p in progress]
    return len(progress), stats.median(over) if over else 0.0


def traced_run(bench) -> dict:
    from pyspark.sql import functions as F

    from document_parser_spark import lineage as lin
    from document_parser_spark.config import (
        GIANT_SIZE_BUCKET,
        IMAGE_MODE_PLACEHOLDER,
        SALT_SPAN_THRESHOLD,
    )
    from document_parser_spark.functions import cleaning
    from document_parser_spark.operators import (
        html_parse,
        pdf_parse,
        reassemble,
        serialize,
    )
    from document_parser_spark.plans import pipeline
    from document_parser_spark.streaming import stream

    spark, spec, docs = bench.spark, bench.spec, bench.docs
    sc = spark.sparkContext
    run_id = uuid.uuid4().hex[:12]
    tr = Tracer(run_id)
    cores = sc.defaultParallelism
    mat = os.path.join(bench.run_dir, "mat")

    # -- the workload op, untraced then traced ---------------------------
    bench._prepare()
    with session.RssSampler(session.jvm_pid(spark)) as rss:
        plain = bench.op()
    bench._prepare()
    with tr.span(f"op.{spec.name}") as root:
        tr.root = root["id"]
        with wrapped(tr, pipeline, "extract", "pipeline.extract"), \
                wrapped(tr, stream, "extract", "pipeline.extract"), \
                wrapped(tr, lin, "run_with_lineage", "lineage.commit"), \
                wrapped(tr, lin, "remaining_buckets", "lineage.remaining"):
            traced = bench.op()
        tr.root = None
    m: dict[str, tuple[float, str]] = {
        "memory.peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
        "op.wall_s": (plain.wall_s, "s"),
        "op.docs_per_s": (plain.docs_committed / plain.wall_s, "1/s"),
        "op.epoch_p50_s": (stats.median(plain.units_s), "s")}
    bench.results = [plain, traced]
    bench._check()

    src = spark.read.parquet(bench.corpus_dir)
    hot_ids = [d[0] for d in docs if d[3] == GIANT_SIZE_BUCKET]

    # -- plans.pipeline ---------------------------------------------------
    with tr.span("pipeline.extract_call"), job_group(sc, "layer:extract"):
        result = pipeline.extract(src, image_mode=IMAGE_MODE_PLACEHOLDER,
                                  salt_buckets=SALT_BUCKETS)
    qe = result._jdf.queryExecution()
    with tr.span("pipeline.plan"):
        plan = qe.executedPlan().toString()
    m["pipeline.extract_call_s"] = (tr.seconds("pipeline.extract_call"), "s")
    with tr.span("pipeline.noop"), job_group(sc, "layer:extract_noop"):
        _noop(result)
    m["pipeline.noop_s"] = (tr.seconds("pipeline.noop"), "s")
    m["pipeline.catalyst_s"] = (_catalyst_seconds(qe), "s")
    m["pipeline.input_scans"] = (plan.count("FileScan parquet"), "count")
    m["pipeline.hot_ids"] = (len(hot_ids), "count")

    # -- operators.html_parse / pdf_parse, functions.cleaning -------------
    htmls = pd.Series([s[1] for d in docs for s in d[1] if s[0] == "html"],
                      dtype="object")
    with tr.span("html_parse.parse_html_rows"):
        html_parse.parse_html_rows(htmls)
    m["html_parse.s"] = (tr.seconds("html_parse.parse_html_rows"), "s")

    cold_pdf = [d for d in docs if d[3] != GIANT_SIZE_BUCKET
                and any(s[0] == "pdf_line" for s in d[1])]
    ids = np.array([d[0] for d in cold_pdf], dtype=object)
    spans_col = [[{"offset": s[3], "text": s[1]} for s in d[1]
                  if s[0] == "pdf_line"] for d in cold_pdf]
    with tr.span("pdf_parse.parse_pdf_batch"):
        pdf_parse.parse_pdf_batch(ids, spans_col)
    m["pdf_parse.s"] = (tr.seconds("pdf_parse.parse_pdf_batch"), "s")

    # the giants' lines; without giants, the pdf docs of one corpus file
    paged_src = (src.filter(F.col("doc_id").isin(hot_ids)) if hot_ids
                 else spark.read.parquet(bench.first_file))
    with tr.span("pdf_parse.pdf_branch_paged"), \
            job_group(sc, "layer:pdf_paged"):
        _noop(pdf_parse.pdf_branch_paged(_paged_lines(paged_src)))
    m["pdf_parse.paged_s"] = (tr.seconds("pdf_parse.pdf_branch_paged"), "s")

    text = pipeline.explode_spans(src).filter(F.col("kind") == "text")
    with tr.span("cleaning.clean_text_column"), \
            job_group(sc, "layer:clean_jvm"):
        _noop(text.select(cleaning.clean_text_column(F.col("text"))))
    m["cleaning.jvm_s"] = (tr.seconds("cleaning.clean_text_column"), "s")
    with job_group(sc, "layer:clean_flagged"):
        flagged = [r.text for r in text.filter(
            cleaning.needs_python_column(F.col("text"))).select(
            "text").collect()]
    m["cleaning.python_rows"] = (len(flagged), "count")
    with tr.span("cleaning.clean_and_fix_series"):
        cleaning.clean_and_fix_series(pd.Series(flagged, dtype="object"))
    m["cleaning.python_s"] = (tr.seconds("cleaning.clean_and_fix_series"),
                              "s")

    # -- operators.reassemble ---------------------------------------------
    with job_group(sc, "layer:materialize"):
        pipeline.parse_all_branches(src, hot_ids=hot_ids or None) \
            .write.parquet(os.path.join(mat, "parsed"))
    parsed = spark.read.parquet(os.path.join(mat, "parsed"))

    def reassembled():
        return reassemble.reassemble(
            parsed, salt_buckets=SALT_BUCKETS, salted=True,
            salt_threshold=SALT_SPAN_THRESHOLD, hot_ids=hot_ids)

    with tr.span("reassemble.reassemble"), job_group(sc, "layer:reassemble"):
        _noop(reassembled())
    m["reassemble.s"] = (tr.seconds("reassemble.reassemble"), "s")
    with job_group(sc, "layer:materialize"):
        reassembled().write.parquet(os.path.join(mat, "reassembled"))

    # -- operators.serialize ----------------------------------------------
    import pyarrow.parquet as pq

    spans_series = pd.Series(
        pq.read_table(os.path.join(mat, "reassembled"),
                      columns=["spans"]).column("spans").to_pylist(),
        dtype="object")
    with tr.span("serialize.serialize_batch"):
        serialize.serialize_batch(spans_series, IMAGE_MODE_PLACEHOLDER)
    m["serialize.s"] = (tr.seconds("serialize.serialize_batch"), "s")
    udf = serialize.make_serialize_udf(IMAGE_MODE_PLACEHOLDER)
    with tr.span("serialize.udf"), job_group(sc, "layer:serialize_udf"):
        _noop(spark.read.parquet(os.path.join(mat, "reassembled"))
              .select(udf("spans").alias("markdown")))
    m["serialize.udf_s"] = (tr.seconds("serialize.udf"), "s")

    # -- lineage ------------------------------------------------------------
    with job_group(sc, "layer:materialize"):
        result.write.parquet(os.path.join(mat, "extracted"))
    state = os.path.join(bench.run_dir, "lineage_state")
    if spec.mode == "resume":
        restore_resume_state(bench.pristine, state, bench.lost)
    with tr.span("lineage.remaining_buckets"):
        lin.remaining_buckets(spark, state, BUCKETS)
    m["lineage.remaining_s"] = (tr.seconds("lineage.remaining_buckets"), "s")
    with tr.span("lineage.run_with_lineage"), job_group(sc, "layer:lineage"):
        lin.run_with_lineage(spark,
                             spark.read.parquet(os.path.join(mat,
                                                             "extracted")),
                             state, n_partitions=BUCKETS,
                             input_files=[bench.corpus_dir])
    m["lineage.commit_s"] = (tr.seconds("lineage.run_with_lineage"), "s")
    m["lineage.jobs"] = (len(sc.statusTracker().getJobIdsForGroup(
        "layer:lineage")), "count")

    # -- streaming ----------------------------------------------------------
    if spec.mode == "stream":
        progress = traced.progress
    else:
        with tr.span("streaming.catchup"):
            progress = stream_catchup(
                spark, bench.corpus_dir, os.path.join(mat, "stream_out"),
                os.path.join(mat, "stream_ckpt"), len(docs)).progress
    epochs, overhead = _streaming(progress)
    m["streaming.epochs"] = (epochs, "count")
    m["streaming.epoch_overhead_s"] = (overhead, "s")

    # -- event log ----------------------------------------------------------
    bench.close()          # flushes and closes the event log
    log = EventLog.read(bench.event_dir)
    op_jobs = log.jobs_between(traced.t0_ms, traced.t1_ms)
    parsed_docs = log.sql_metric(op_jobs, "ArrowEvalPython",
                                 ("number of output rows",))
    m["kernels.parse_python_s"] = (sum(
        log.sql_metric(op_jobs, node, _PY_RUN)
        for node in ("MapInPandas", "FlatMapGroupsInPandas")) / 1e3, "s")
    m["serialize.op_python_s"] = (
        log.sql_metric(op_jobs, "ArrowEvalPython", _PY_RUN) / 1e3, "s")
    m["lineage.recompute_ratio"] = (
        parsed_docs / max(1, traced.docs_committed), "ratio")
    re_jobs = log.jobs_in_group("layer:reassemble")
    m["reassemble.shuffle_write_bytes"] = (sum(
        t.shuffle_write_bytes for t in log.tasks_of(re_jobs)), "B")
    m["reassemble.task_skew"] = (log.reduce_task_skew(re_jobs), "ratio")
    m["serialize.arrow_bytes"] = (log.sql_metric(
        log.jobs_in_group("layer:serialize_udf"), "ArrowEvalPython",
        _ARROW_METRICS), "B")
    for k, v in log.summary(traced.t0_ms, traced.t1_ms, cores).items():
        m[k] = (v, "s" if k.endswith("_s") else
                "B" if k.endswith("_bytes") else
                "share" if k.endswith("utilization") else "count")
    m["trace.wall_s"] = (traced.wall_s, "s")
    m["trace.overhead_s"] = (traced.wall_s - plain.wall_s, "s")

    tr.dump(os.path.join(os.path.dirname(bench.cache_dir), "traces",
                         f"{spec.name}-seed{bench.seed}-{run_id}.json"))
    shutil.rmtree(mat, ignore_errors=True)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
