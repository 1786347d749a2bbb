"""One benchmark run: set-up, the timed repetitions of the workload op,
the correctness checks, and the metrics of the result line."""
from __future__ import annotations

import os
import shutil
import sys
import time

import corpus
import session
import stats
from checks import all_ready, equal_outputs, exactly_once, oracle_parity, \
    oracle_sample
from workloads import (
    BUCKETS,
    N_FILES,
    SHUFFLE_PARTITIONS,
    SPECS,
    OpResult,
    commit,
    data_files,
    lost_buckets,
    restore_resume_state,
    stream_catchup,
)


# A run reports the median of at least two repetitions, which keeps a
# run near a minute on a busy host. Over ten seeds the per-run CPU time
# spread as much whether a run reported its first repetition, its
# second, their mean or their minimum: the spread lies between runs
# (host steal, corpus content), not between a run's repetitions.
MIN_REPS = 2


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work_dir: str, run_dir: str) -> None:
        self.spec = SPECS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cache_dir = os.path.join(work_dir, "corpus")
        self.run_dir = run_dir
        self.out_dir = os.path.join(run_dir, "out")
        self.ckpt_dir = os.path.join(run_dir, "ckpt")
        self.event_dir = os.path.join(run_dir, "eventlog") if trace else None
        self.spark = None
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self.prep_s: list[float] = []
        self.results: list[OpResult] = []
        self.docs_in_todo = 0

    # -- set-up -----------------------------------------------------------

    def _setup(self) -> None:
        spec = self.spec
        t = time.perf_counter()
        self.docs = corpus.read_docs(self.corpus_dir)
        self.first_file = os.path.join(self.corpus_dir, "part-00000.parquet")
        self.setup["corpus_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.spark = session.start(self.run_dir, session.host_cores(),
                                   SHUFFLE_PARTITIONS, self.event_dir)
        self.setup["session_s"] = time.perf_counter() - t

        # warm-up: the op, untimed, over the whole corpus. Python
        # workers, class loading and codegen are cold in the first op,
        # which costs about the same over one corpus file as over all;
        # the JIT keeps compiling for several ops after it. For resume,
        # the warm-up is the clean bulk commit the restart starts from.
        t = time.perf_counter()
        self.docs_in_todo = len(self.docs)
        if spec.mode == "resume":
            self.pristine = os.path.join(self.run_dir, "pristine")
            commit(self.spark, self.corpus_dir, self.pristine,
                   len(self.docs))
            self.lost = lost_buckets(self.seed)
            self.docs_in_todo = self._docs_in(self.pristine, self.lost)
        else:
            self._prepare()
            self.op()
            self.prep_s.clear()
        self.setup["warmup_s"] = time.perf_counter() - t

    def _docs_in(self, out_dir: str, buckets: list[int]) -> int:
        from pyspark.sql import functions as F

        from document_parser_spark import lineage as lin

        return lin.read_output(self.spark, out_dir).filter(
            F.col(lin.BUCKET_COL).isin(buckets)).count()

    def _prepare(self) -> None:
        """Per-repetition set-up: an empty output, or the restart state."""
        t = time.perf_counter()
        # start every repetition from a collected heap, so none pays
        # for garbage the one before left
        self.spark._jvm.System.gc()
        if self.spec.mode == "resume":
            restore_resume_state(self.pristine, self.out_dir, self.lost)
        else:
            shutil.rmtree(self.out_dir, ignore_errors=True)
            shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        self.prep_s.append(time.perf_counter() - t)

    def op(self) -> OpResult:
        """One workload op. Its ``cpu_s`` is the CPU time this process
        tree (the benchmark's Python, the driver JVM and the Python
        workers it forks) used while the op ran."""
        cpu0 = session.tree_cpu_s(os.getpid())
        if self.spec.mode == "stream":
            r = stream_catchup(self.spark, self.corpus_dir, self.out_dir,
                               self.ckpt_dir, len(self.docs))
        else:
            r = commit(self.spark, self.corpus_dir, self.out_dir,
                       self.docs_in_todo)
        r.cpu_s = session.tree_cpu_s(os.getpid()) - cpu0
        return r

    # -- checks -----------------------------------------------------------

    def _check(self) -> None:
        from document_parser_spark import lineage as lin

        if self.spec.mode == "stream":
            out = self.spark.read.parquet(self.out_dir)
        else:
            out = lin.read_output(self.spark, self.out_dir)
            self.errors += all_ready(self.spark, self.out_dir, BUCKETS)
        self.errors += exactly_once(out, len(self.docs))
        self.errors += oracle_parity(out, oracle_sample(self.docs,
                                                        self.seed))
        if self.spec.mode == "resume":
            self.errors += equal_outputs(self.out_dir, self.pristine)

    # -- run --------------------------------------------------------------

    def run(self) -> dict:
        # generating a corpus is the benchmark's own work, paid only by a
        # seed's first run; set-up starts from the cached files
        self.corpus_dir, _ = corpus.materialize(
            self.cache_dir, self.spec.name, self.seed, self.spec.n_docs,
            N_FILES, self.spec.giants)
        t_setup = time.perf_counter()
        self._setup()
        self.setup["total_once_s"] = time.perf_counter() - t_setup
        if self.trace:
            import layers

            metrics = layers.traced_run(self)
        else:
            metrics = self._timed_run()
        return result_line(sum(r.ops for r in self.results), self.errors,
                           metrics)

    def _timed_run(self) -> dict:
        measured = 0.0
        steals = []
        while len(self.results) < MIN_REPS or measured < self.seconds:
            self._prepare()
            s0 = session.cpu_jiffies()
            r = self.op()
            steals.append(100 * session.steal_share(s0))
            self.results.append(r)
            measured += r.wall_s
        t = time.perf_counter()
        self._check()
        check_s = time.perf_counter() - t
        walls = [r.wall_s for r in self.results]
        units = [u for r in self.results for u in r.units_s]
        _log(f"setup {_fmt(self.setup)} prep {_fmt(self.prep_s)} "
             f"walls {_fmt(walls)} cpu {_fmt([r.cpu_s for r in self.results])}"
             f" steal% {_fmt(steals)} units n={len(units)} "
             f"p50={stats.median(units):.3f} check {check_s:.2f}")
        return {
            "cpu_s": _m(stats.median([r.cpu_s for r in self.results]), "s"),
            "docs_per_cpu_s": _m(stats.median(
                [r.docs_committed / r.cpu_s for r in self.results]), "1/s"),
            "setup_s": _m(self.setup["total_once_s"]
                          + stats.median(self.prep_s), "s"),
            "output_files": _m(data_files(self.out_dir), "count"),
            "ok_share": _m(1.0, "share"),
        }

    def close(self) -> None:
        """Stop the session and wait for the driver JVM (and with it the
        Python workers it forked) to exit."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        session.stop_jvm(proc)


def result_line(ops: int, errors: list[str], metrics: dict) -> dict:
    """The benchmark's last stdout line. Any correctness error fails every
    operation of the run, which ``ok_share`` (1 - failed / attempted)
    reports when the metrics carry it."""
    attempted, failed = stats.outcome(ops, 0, not errors)
    if "ok_share" in metrics:
        metrics["ok_share"]["value"] = 1.0 - stats.failed_share(attempted,
                                                                failed)
    return {"correct": not errors, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _fmt(xs) -> str:
    if isinstance(xs, dict):
        return "{" + ", ".join(f"{k}={v:.2f}" for k, v in xs.items()) + "}"
    return "[" + ", ".join(f"{v:.2f}" for v in xs) + "]"


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
