"""Lineage + idempotent checkpoint-restart tests (SURVEY §5.5)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from document_parser_spark import lineage as lin
from document_parser_spark.config import LINEAGE_READY
from document_parser_spark.plans.pipeline import extract
from document_parser_spark.schema import DOCUMENTS_IN_SCHEMA
from document_parser_spark.sources.synth import fixtures_dataframe

N_PART = 8


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "out")


@pytest.fixture(scope="module")
def result(spark):
    return extract(fixtures_dataframe(spark)).cache()


def test_full_run_commits_all_buckets(spark, result, out_dir):
    done = lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    assert {d["partition_id"] for d in done} == set(range(N_PART))
    assert all(d["status"] == LINEAGE_READY for d in done)
    assert lin.remaining_buckets(spark, out_dir, N_PART) == []
    back = lin.read_output(spark, out_dir)
    assert back.count() == result.count()
    # metrics roll up exactly
    total_spans = sum(d["span_count"] for d in done)
    assert total_spans == result.agg(F.sum(F.size("spans"))).head()[0]


def test_restart_skips_ready_and_matches_clean_run(spark, result, out_dir):
    # clean run
    lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    clean = sorted(map(str, lin.read_output(spark, out_dir).collect()))

    # simulate a crash: drop lineage+data for 3 buckets, corrupt their dirs
    for b in (1, 4, 6):
        os.remove(os.path.join(out_dir, "_lineage", f"bucket={b}.json"))
        shutil.rmtree(os.path.join(out_dir, f"part_bucket={b}"))
    assert lin.remaining_buckets(spark, out_dir, N_PART) == [1, 4, 6]

    # record mtimes of untouched READY buckets
    untouched = {
        b: os.path.getmtime(os.path.join(out_dir, f"part_bucket={b}"))
        for b in range(N_PART) if b not in (1, 4, 6)
    }
    done = lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    assert {d["partition_id"] for d in done} == {1, 4, 6}  # only gaps
    # READY buckets untouched byte-for-byte (dir not rewritten)
    for b, mt in untouched.items():
        assert os.path.getmtime(
            os.path.join(out_dir, f"part_bucket={b}")) == mt
    # restarted output identical to the clean run
    resumed = sorted(map(str, lin.read_output(spark, out_dir).collect()))
    assert resumed == clean


def test_bucket_assignment_stable_across_partitioning(spark, result):
    a = lin.with_bucket(result, 16).select("doc_id", "part_bucket")
    b = lin.with_bucket(result.repartition(7), 16) \
        .select("doc_id", "part_bucket")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_error_rows_counted(spark, out_dir):
    rows = [
        ("bad1", [{"kind": "wav", "text": None, "media_ref": None,
                   "offset": 0}], "h", "s"),
        ("ok1", [{"kind": "text", "text": "fine", "media_ref": "",
                  "offset": 0}], "h", "s"),
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_IN_SCHEMA)
    done = lin.run_with_lineage(spark, extract(df), out_dir, n_partitions=2)
    assert sum(d["parse_failures"] for d in done) == 1
    # lineage files are valid JSON with the full schema
    with open(os.path.join(out_dir, "_lineage",
                           f"bucket={done[0]['partition_id']}.json")) as fh:
        row = json.load(fh)
    assert set(row) == {"partition_id", "status", "input_files",
                        "span_count", "parse_failures", "doc_count",
                        "updated_at"}


def test_crash_leftover_tmp_dir_invisible_to_read_output(spark, result,
                                                         out_dir):
    """A crash between the data write and the rename must not leak the
    in-progress directory into read_output (it lives under _tmp/,
    outside the part_bucket=* glob namespace)."""
    lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    clean = lin.read_output(spark, out_dir).count()
    # simulate a crashed half-committed bucket write
    stale = os.path.join(out_dir, "_tmp", "bucket=3")
    result.limit(2).write.mode("overwrite").parquet(stale)
    got = lin.read_output(spark, out_dir)
    assert got.count() == clean                      # no duplicated rows
    assert dict(got.dtypes)[lin.BUCKET_COL] == "int"  # type not poisoned


def test_empty_result_reads_back_with_schema(spark, result, out_dir):
    """Committing an empty relation still makes every bucket READY with
    its data directory, and read_output returns 0 rows with the output
    schema instead of failing to infer one."""
    done = lin.run_with_lineage(spark, result.limit(0), out_dir,
                                n_partitions=4)
    assert sorted(d["partition_id"] for d in done) == [0, 1, 2, 3]
    assert all(d["span_count"] == 0 and d["parse_failures"] == 0
               for d in done)
    assert all(os.path.isdir(os.path.join(out_dir, f"part_bucket={b}"))
               for b in range(4))
    back = lin.read_output(spark, out_dir)
    assert back.count() == 0
    assert back.drop(lin.BUCKET_COL).dtypes == result.dtypes
    assert dict(back.dtypes)[lin.BUCKET_COL] == "int"


def test_commit_jobs_do_not_grow_with_bucket_count(spark, result, tmp_path):
    """One partitioned write plus one stats aggregate, whatever the
    bucket count. Both counts are past Spark's parallel-listing
    threshold (32 dirs) and leave some bucket of the small fixture
    corpus empty, so both launch the same listing and schema-only fill
    jobs too."""
    sc = spark.sparkContext

    def jobs(n):
        group = f"lineage-commit-{n}"
        sc.setJobGroup(group, group)
        try:
            lin.run_with_lineage(spark, result, str(tmp_path / str(n)),
                                 n_partitions=n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(128) == jobs(64)


# -- crash injection: kill the commit at one point, restart, compare ------

LOST = (1, 4, 6)


class _Crash(Exception):
    pass


def _crash_on_call(monkeypatch, module, name, n):
    """Make ``module.name`` raise on its ``n``-th call (1-based)."""
    real, calls = getattr(module, name), []

    def wrapper(*args, **kwargs):
        calls.append(1)
        if len(calls) == n:
            raise _Crash(f"{name} call {n}")
        return real(*args, **kwargs)
    monkeypatch.setattr(module, name, wrapper)


def _rows(spark, out_dir):
    return sorted(map(str, lin.read_output(spark, out_dir).collect()))


def _lose(out_dir, buckets):
    """The state a crash before these buckets' commit leaves behind."""
    for b in buckets:
        os.remove(os.path.join(out_dir, "_lineage", f"bucket={b}.json"))
        shutil.rmtree(os.path.join(out_dir, f"part_bucket={b}"))


def _restart_matches_clean(spark, result, out_dir, clean, want):
    assert lin.remaining_buckets(spark, out_dir, N_PART) == want
    done = lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    assert [d["partition_id"] for d in done] == want
    assert lin.remaining_buckets(spark, out_dir, N_PART) == []
    assert _rows(spark, out_dir) == clean
    assert not os.path.exists(os.path.join(out_dir, "_tmp"))


def test_crash_during_tmp_write_restart(spark, result, out_dir):
    """A crash during the partitioned write leaves a stale partial _tmp:
    rows of lost buckets AND of a READY one. The restart must discard
    it, recommit only the lost buckets and leave READY ones alone."""
    lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    clean = _rows(spark, out_dir)
    _lose(out_dir, LOST)
    lin.with_bucket(result.limit(5), N_PART).write \
        .partitionBy(lin.BUCKET_COL).parquet(os.path.join(out_dir, "_tmp"))
    os.makedirs(os.path.join(out_dir, "_tmp", "_temporary", "0"))
    mtime = os.path.getmtime(os.path.join(out_dir, "part_bucket=0"))
    _restart_matches_clean(spark, result, out_dir, clean, list(LOST))
    assert os.path.getmtime(os.path.join(out_dir, "part_bucket=0")) == mtime


def test_crash_after_rename_before_lineage_restart(spark, result, out_dir,
                                                   monkeypatch):
    """Crash after the first lost bucket's data rename, before its
    lineage row lands (the second os.replace is the lineage file's):
    the bucket's data is in place but not READY, and a half-written
    lineage .tmp file is left behind."""
    lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    clean = _rows(spark, out_dir)
    _lose(out_dir, LOST)
    _crash_on_call(monkeypatch, os, "replace", 2)
    with pytest.raises(_Crash):
        lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(out_dir, f"part_bucket={LOST[0]}"))
    _restart_matches_clean(spark, result, out_dir, clean, list(LOST))


def test_crash_between_lineage_rows_restart(spark, result, out_dir,
                                            monkeypatch):
    """Crash while writing the second lost bucket's lineage row: the
    first is READY and must not be recommitted; the second is renamed
    but not READY; the third is still in _tmp."""
    lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    clean = _rows(spark, out_dir)
    _lose(out_dir, LOST)
    _crash_on_call(monkeypatch, json, "dump", 2)
    with pytest.raises(_Crash):
        lin.run_with_lineage(spark, result, out_dir, n_partitions=N_PART)
    monkeypatch.undo()
    _restart_matches_clean(spark, result, out_dir, clean, list(LOST[1:]))


def test_extract_cli_restart_counts_only_this_runs_docs(spark, tmp_path):
    """bin/extract.py run twice over one output: the second run skips
    every READY bucket, so its throughput covers the docs it committed
    (none), not the whole output table. With nothing to commit it does
    not read the input at all: it is deleted before the second run."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    fixtures_dataframe(spark).write.parquet(inp)

    def run():
        res = subprocess.run(
            [sys.executable, "bin/extract.py", "--input", inp,
             "--output", out, "--partitions", "4",
             "--shuffle-partitions", "4"],
            env=dict(os.environ, PYTHONPATH=repo), capture_output=True,
            text=True, timeout=600, cwd=repo)
        assert res.returncode == 0, res.stderr[-2000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    first = run()
    shutil.rmtree(inp)
    second = run()
    assert first["buckets_committed"] == 4
    assert first["docs_per_sec"] > 0
    assert second["buckets_committed"] == 0
    assert second["docs_per_sec"] in (0, None)
    assert second["output_docs"] == first["output_docs"]
    rows = [json.loads(f.read_text())
            for f in (tmp_path / "out" / "_lineage").glob("*.json")]
    assert sum(r["doc_count"] for r in rows) == first["output_docs"]
