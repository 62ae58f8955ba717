"""The event-log reader on a small canned log (``testdata/eventlog.json``).

    python3 -m pytest perfbench -q
"""

import os
import shutil

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "testdata", "eventlog.json")


@pytest.fixture(scope="module")
def counters():
    return eventlog.group_counters(eventlog.read(LOG))


def test_group_totals(counters):
    g = counters["r/1/extract"]
    # job 3 ran no stage of its own (all skipped): a job, but no tasks
    assert (g["jobs"], g["stages"], g["tasks"]) == (2, 2, 5)
    assert g["exec_run_s"] == pytest.approx(0.7)
    assert g["exec_cpu_s"] == pytest.approx(0.62)
    assert g["shuffle_write_mb"] == pytest.approx(3.0)
    assert g["shuffle_read_mb"] == pytest.approx(3.0)
    assert g["spill_mb"] == 0


def test_task_quantiles_and_skew(counters):
    g = counters["r/1/extract"]
    assert g["stage_task_ms"]["0.0"] == {"p50": 200.0, "p90": 300.0, "max": 300.0}
    # the heaviest stage (0: 600 ms of tasks) sets the skew, max / median
    assert g["task_skew"] == pytest.approx(1.5)


def test_spill_failed_tasks_and_unknown_stages(counters):
    g = counters["r/2/dedup"]
    # the failed task has no metrics and the task of never-submitted stage 9 is dropped
    assert (g["jobs"], g["tasks"]) == (1, 1)
    assert g["spill_mb"] == pytest.approx(3.0)
    assert sum(c["tasks"] for c in counters.values()) == 7


def test_rows_past_a_udf_filter(counters):
    # the plan naming the filter's accumulator is logged after the task that
    # updated it; the rank filter over no UDF is not counted
    assert counters["r/2/dedup"]["udf_accepted"] == {"_relevance": 7}
    assert not counters["r/1/extract"]["udf_accepted"]


def test_jobs_without_group(counters):
    assert counters[None]["jobs"] == 1
    assert counters[None]["tasks"] == 1


def test_jobs_by_call_site():
    sites = eventlog.jobs_by_call_site(eventlog.read(LOG))
    assert sites == [
        ("collect at operators/dedup.py:106", 2),
        ("count at perfbench/workloads.py:91", 1),
        ("collect at NativeMethodAccessorImpl.java:0", 1),
    ]


def test_find_log(tmp_path):
    shutil.copy(LOG, tmp_path / "local-1")
    (tmp_path / "local-2.inprogress").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(tmp_path / "local-1")
    shutil.copy(LOG, tmp_path / "local-3")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
