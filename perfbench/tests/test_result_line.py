import pytest

pytest.importorskip("pyspark")

from harness import result_line  # noqa: E402


def _metrics():
    return {"cpu_s": {"value": 2.0, "unit": "s"},
            "ok_share": {"value": 1.0, "unit": "share"}}


def test_clean_run_fails_nothing():
    line = result_line(8, [], _metrics())
    assert line["correct"] is True
    assert (line["attempted"], line["failed"]) == (8, 0)
    assert line["metrics"]["ok_share"]["value"] == 1.0


def test_failed_check_fails_every_operation():
    line = result_line(8, ["bx-1: markdown differs from the oracle"],
                       _metrics())
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (8, 8)
    assert line["metrics"]["ok_share"]["value"] == 0.0
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
