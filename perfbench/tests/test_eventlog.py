import os

import pytest

from eventlog import EventLog, idle_length, union_length

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def log():
    return EventLog.read(DATA)


def test_union_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 10), (5, 15), (20, 25)]) == 20.0
    assert union_length([(0, 10), (2, 3), (10, 12)]) == 12.0   # nested, touching
    assert union_length([(5, 15), (0, 10)], lo=2, hi=12) == 10.0
    assert union_length([(0, 1)], lo=5, hi=9) == 0.0


def test_idle_length_is_window_minus_busy_union():
    assert idle_length(0, 100, []) == 100.0
    assert idle_length(0, 100, [(10, 30), (20, 40), (90, 120)]) == 60.0
    assert idle_length(0, 10, [(-5, 20)]) == 0.0


def test_jobs_stages_tasks(log):
    assert sorted(log.jobs) == [0, 1]
    j0 = log.jobs[0]
    assert (j0.t0, j0.t1, j0.group, j0.sql_id, j0.stage_ids) == \
        (1000, 1700, "layer:x", 0, (0,))
    assert log.jobs[1].group is None and log.jobs[1].sql_id is None
    assert log.stages[0].name == "noop at x.py:1"
    assert len(log.tasks) == 6
    assert [len(log.tasks_of([log.jobs[j]])) for j in (0, 1)] == [2, 4]
    assert log.jobs_in_group("layer:x") == [j0]
    assert log.jobs_between(900, 1800) == [j0]


def test_summary_over_a_window(log):
    s = log.summary(1000, 3000, cores=2)
    assert s["spark.jobs"] == 2
    assert s["spark.tasks"] == 6
    assert s["spark.task_run_s"] == pytest.approx(1.73)
    assert s["spark.task_cpu_s"] == pytest.approx(0.5)
    assert s["spark.gc_s"] == pytest.approx(0.03)
    assert s["spark.shuffle_write_bytes"] == 2200
    assert s["spark.spill_bytes"] == 96
    assert s["spark.utilization"] == pytest.approx(1730 / (2000 * 2))
    # busy: [1100,1600] + [2100,2200] + [2300,2900] -> 1200 ms of 2000
    assert s["spark.driver_serial_s"] == pytest.approx(0.8)


def test_reduce_task_skew(log):
    # reduce tasks (fetched shuffle blocks) last 200, 600, 200 ms
    assert log.reduce_task_skew([log.jobs[1]]) == pytest.approx(3.0)
    assert log.reduce_task_skew([log.jobs[0]]) == 1.0   # none


def test_sql_metrics_come_from_the_final_adaptive_plan(log):
    jobs = log.jobs_in_group("layer:x")
    sent_returned = ("data sent to Python workers",
                     "data returned from Python workers")
    # final plan ids 11 + 12; the initial plan's id 1 is never counted.
    # string task updates (300 + 200 + 70) plus the driver update (30)
    assert log.sql_metric(jobs, "ArrowEvalPython", sent_returned) == 600
    assert log.sql_metric(jobs, "ArrowEvalPython",
                          ("number of output rows",)) == 11
    assert log.sql_metric(jobs, "MapInPandas", sent_returned) == 0
    assert log.sql_metric([log.jobs[1]], "ArrowEvalPython",
                          sent_returned) == 0
