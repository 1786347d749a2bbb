#!/usr/bin/env python
"""Headline benchmark — prints ONE JSON line to stdout.

Runs the flagship extraction pipeline plus the headline operator
queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32). Every query is forced end
to end with the no-op sink (full computation, no collect/transfer
cost, no column-pruning shortcuts a bare count() would allow).

    {"metric": "headline_total", "value": <sum sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>,
     "extract_docs_per_sec": <docs/sec>, "cpus": N}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MASTER = os.environ.get("SPARK_GRAFT_MASTER", f"local[{CPUS}]")

HEADLINE = [
    "extract_pipeline",
    "a1_reassemble_roundtrip",
    "j2_translate_zip",
    "w3_session_breaks",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_cosine_threshold",
    "text_token_stats",
    "text_lang_id",
    "multimodal_decode_stub",
    "agg_lineitem_pricing",
    "join_revenue_by_nation",
]


def parse_sf(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    return float(base[2:]) if base.startswith("sf") else -1.0


def canary(procs: int = 0, secs: float = 1.5) -> float:
    """Per-proc busy-loop Miters/s — the episodic-CPU-steal detector.
    The loop body is SHARED with tools/scaling_bench.py
    (tools/steal_canary.py) so readings stay comparable across tools.
    The probe runs AT THE BENCH'S OWN WIDTH (CPUS procs, default 32),
    not 8: this host's steal is an aggregate-cpu cap (~27
    core-equivalents when it bites — BENCH/BASELINE.md round-4 notes
    item 7), so an 8-wide probe fits under the cap and reads quiet
    while the local[32] run itself is capped 25-45% slow (the
    measured failure mode of an earlier 8-wide gate, three times in
    round 5). Quiet-host baseline is ~7 per proc
    with all cores busy (~6.7-7.0 at full 32-wide saturation vs ~5.9
    capped); a reading far below means the surrounding numbers were
    measured during a steal window (measured up to 10x task-time
    inflation) and should be compared via min_total, not medians."""
    from tools.steal_canary import canary as probe

    return probe(procs or CPUS, secs)


# Publication gate (r4 VERDICT "what's wrong" #1: BENCH_r04's headline
# was recorded during a ~3x steal window — canary 2.34/2.48 vs quiet
# 7.0-7.3 — and read as a fake 32% regression). The pre-canary must
# reach CANARY_GATE x the quiet reference before the run starts;
# otherwise wait and retry a bounded number of times. If the host
# never quiets down, the run proceeds anyway (the driver needs a
# number) but the JSON carries contended=true + the canary ratio so
# cross-round tables can exclude it.
# the quiet reference and threshold live in tools/steal_canary.py, so
# re-baselining the host is one edit there
from tools.steal_canary import (          # noqa: E402
    DEFAULT_GATE as CANARY_GATE,
    QUIET_MITERS as QUIET_CANARY,
)
GATE_RETRIES = int(os.environ.get("SPARK_GRAFT_CANARY_RETRIES", "3"))
GATE_WAIT_S = float(os.environ.get("SPARK_GRAFT_CANARY_WAIT_S", "45"))


def gated_precanary() -> tuple[float, int]:
    """-> (pre-run canary reading, retries used). Retries while the
    host looks steal-afflicted, bounded by GATE_RETRIES."""
    attempt = 0
    while True:
        reading = canary()
        if reading >= CANARY_GATE * QUIET_CANARY or attempt >= GATE_RETRIES:
            return reading, attempt
        attempt += 1
        print(f"  canary {reading} < {CANARY_GATE}x{QUIET_CANARY} quiet ref;"
              f" steal window — retry {attempt}/{GATE_RETRIES} in"
              f" {GATE_WAIT_S}s", file=sys.stderr)
        time.sleep(GATE_WAIT_S)


def main() -> None:
    from pyspark.sql import SparkSession

    canary_pre, gate_retries = gated_precanary()

    spark = (
        SparkSession.builder.master(MASTER)
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("document-parser-spark-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def force(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def timed(name: str) -> float:
        t0 = time.time()
        force(qs[name](spark, SF_DIR))
        return round(time.time() - t0, 3)

    # Phase 1 — one full pass over every query: this IS the cold
    # measurement AND the session warmup (JVM JIT, codegen caches, and
    # the 32 Python UDF workers' package imports all amortize here;
    # measured: a query timed right after its own first run is still
    # 2x off its steady state). Phase 2 — FIVE INTERLEAVED ROUNDS over
    # the whole query list, per-query MEDIAN as the headline. Rounds
    # are interleaved (A B C ... A B C ...), not blocked (A A A A A),
    # because this host's noise is episodic CPU-steal BURSTS lasting
    # ~1 min (measured: one burst put all 5 consecutive runs of a
    # query at 6-9s whose cold run took 1.0s — the median was pure
    # contention); a burst now contaminates at most one or two SAMPLES
    # per query instead of one query's entire block, and the median
    # discards them (r2 VERDICT #3 + r3 refinement). Cache is cleared
    # between phases only: within phase 2 the CacheManager's
    # plan-canonical reuse gives every query its own persisted
    # intermediates across rounds — same semantics as the old
    # within-block reuse (in a real pipeline they are materialized
    # intermediates), no leak across queries' MEASUREMENTS because
    # each query only ever reuses ITS OWN cache (r2 VERDICT #4: the
    # leak-release test asserts the end-of-run clear).
    cold: dict[str, float] = {}
    for name in HEADLINE:
        cold[name] = timed(name)
    spark.catalog.clearCache()

    warm: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(5):
        for name in HEADLINE:
            warm[name].append(timed(name))
    spark.catalog.clearCache()

    times: dict[str, float] = {}
    for name in HEADLINE:
        runs = sorted(warm[name])
        times[name] = runs[2]   # median of 5
        print(f"  {name}: median {times[name]}s "
              f"(warm {runs} cold {cold[name]}s)", file=sys.stderr)

    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    docs_per_sec = round(n_docs / max(times["extract_pipeline"], 1e-9), 1)

    out = {
        "metric": "headline_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "cold_total": round(sum(cold.values()), 3),
        "cold": cold,
        # the cold pass is by definition a single sequential first
        # touch of each query (a cold number cannot be re-sampled), so
        # unlike the interleaved warm medians one episodic CPU-steal
        # burst can poison several ADJACENT cold numbers — the r2
        # misreading started exactly there. Compare min_total /
        # per-query warm medians across rounds; treat cold as
        # informational (r3 VERDICT #7).
        "cold_protocol": ("single_sequential_first_touch; "
                          "steal-burst-sensitive, informational only"),
        # sum of per-query minima: the contention-free lower bound on a
        # host with episodic CPU steal (two identical bench runs have
        # measured 14.3s vs 26.4s medians minutes apart)
        "min_total": round(sum(min(w) for w in warm.values()), 3),
        "protocol": "median_of_5_interleaved_rounds",
        "sf": parse_sf(SF_DIR),
        "extract_docs_per_sec": docs_per_sec,
        "n_docs": n_docs,
        "cpus": CPUS,
    }
    spark.stop()
    # steal-burst disclosure + machine-readable verdict: contended
    # means some part of the run sat in a steal window (either bracket
    # >15% below the quiet reference) — compare such rounds via
    # min_total only, or exclude them from cross-round tables.
    canary_post = canary()
    ratio = round(min(canary_pre, canary_post) / QUIET_CANARY, 3)
    out["canary_miters"] = [canary_pre, canary_post]
    out["canary_probe_procs"] = CPUS
    out["canary_quiet_ref"] = QUIET_CANARY
    out["canary_ratio"] = ratio
    out["contended"] = ratio < CANARY_GATE
    out["canary_gate"] = {"threshold": CANARY_GATE,
                          "retries_used": gate_retries,
                          "max_retries": GATE_RETRIES}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
