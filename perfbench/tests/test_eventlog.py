"""Event-log parsing on a tiny recorded log (five jobs in two job
groups: a mapInPandas + groupBy, then an applyInPandas + count)."""

import os

import pytest

from eventlog import (
    attribute_by_window,
    driver_gap,
    jobs_in_group,
    jobs_in_window,
    parse_jobs,
    read_events,
    summarize,
)

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_tiny")
T0 = 1792173125.295
T1 = 1792173130.089


@pytest.fixture(scope="module")
def jobs():
    return parse_jobs(read_events(LOG))


def test_jobs_groups_and_tasks(jobs):
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    assert [j.job_id for j in jobs_in_group(jobs, "grpA")] == [0, 1]
    assert [j.job_id for j in jobs_in_group(jobs, "grpB")] == [2, 3, 4]
    assert [jobs[i].tasks for i in range(5)] == [4, 1, 4, 1, 1]
    assert jobs[0].start == pytest.approx(T0)
    assert jobs[4].end == pytest.approx(T1)


def test_task_metrics_and_python_runner_metrics(jobs):
    assert jobs[0].run_s == pytest.approx(11.862)
    assert jobs[0].python_run_s == pytest.approx(10.18)
    assert jobs[3].python_run_s == pytest.approx(0.263)
    assert jobs[2].shuffle_write_bytes == 784197
    assert jobs[1].python_bytes == 0


def test_summary_and_driver_gap(jobs):
    mine = jobs_in_window(jobs, T0, T1)
    s = summarize(mine, T0, T1)
    assert s["spark.jobs"] == 5 and s["spark.tasks"] == 11
    assert s["spark.python_udf_s"] == pytest.approx(10.443)
    # union of the five job spans is 4.368 s of the 4.794 s window
    assert s["spark.driver_gap_s"] == pytest.approx(0.426, abs=1e-6)
    assert driver_gap(mine, T0 - 1.0, T1) == pytest.approx(1.426, abs=1e-6)


def test_attribution_by_submission_window(jobs):
    windows = [("first", T0, T0 + 3.5), ("second", T0 + 3.5, T1)]
    got = attribute_by_window(list(jobs.values()), windows)
    assert [j.job_id for j in got["first"]] == [0, 1]
    assert [j.job_id for j in got["second"]] == [2, 3, 4]
