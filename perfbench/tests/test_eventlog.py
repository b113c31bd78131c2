"""Event-log parser and job attribution, on a recorded Spark 4.1 log.

The fixture is a rolling-directory log of a two-task mapInPandas +
groupBy job run twice, once with a job description and once without.
Only the event kinds the parser reads are kept, without plan and RDD
details.
"""

import os

import pytest

from perfbench import eventlog

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(eventlog.find_log(FIXTURES))


def test_reads_rolling_directory(log):
    assert os.path.basename(eventlog.find_log(FIXTURES)).startswith("eventlog_v2_")
    assert log.spark_version == "4.1.2"
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert [log.jobs[j].description for j in range(4)] == ["q_pandas", "q_pandas", None, None]
    assert all(j.end_ms >= j.submit_ms for j in log.jobs.values())


def test_task_metrics_and_python_worker_accumulables(log):
    st = log.stages[0]
    assert st.tasks == 2 and st.task_failures == 0
    assert st.run_ms == 4751 and st.shuffle_write_bytes == 363
    assert st.accum[eventlog.PY_SENT] == 165376
    assert st.accum[eventlog.PY_RECV] == 320448
    assert st.accum[eventlog.PY_START] == 2528
    assert st.accum[eventlog.PY_RUN] == 4071
    # the second run reuses the started workers
    assert eventlog.PY_START not in log.stages[3].accum


def test_totals_count_skipped_stages_and_tags(log):
    tot = eventlog.totals(log, [0, 1], label="q_pandas")
    assert tot["jobs"] == 2 and tot["tagged_jobs"] == 2
    assert tot["stages"] == 2 and tot["stages_skipped"] == 1  # stage 1 reused stage 0's shuffle
    assert tot["tasks"] == 3
    assert tot["python_sent_mb"] == pytest.approx(0.165376)
    assert tot["python_start_s"] == pytest.approx(2.528)
    untagged = eventlog.totals(log, [2, 3], label="q_pandas")
    assert untagged["tagged_jobs"] == 0 and untagged["python_start_s"] == 0


def test_log_files_follow_event_file_numbers(tmp_path):
    for n in (10, 2, 1):
        (tmp_path / f"events_{n}_app").write_text("")
    (tmp_path / "appstatus_app").write_text("")
    assert [os.path.basename(p) for p in eventlog.log_files(str(tmp_path))] == [
        "events_1_app", "events_2_app", "events_10_app"]


def test_jobs_attributed_by_time_window(log):
    jobs = list(log.jobs.values())
    t = {j.id: j.submit_ms for j in jobs}
    windows = [("a", t[0] - 1, t[1]), ("b", t[2], t[2] + 5)]
    assert eventlog.attribute(jobs, windows) == {"a": [0, 1], "b": [2]}  # job 3 is outside


def test_attribution_ignores_job_descriptions():
    jobs = [eventlog.Job(1, 100, [], "q1"), eventlog.Job(2, 150, [], None),
            eventlog.Job(3, 250, [], "q1")]
    got = eventlog.attribute(jobs, [("q1", 90, 200), ("q2", 200, 300)])
    assert got == {"q1": [1, 2], "q2": [3]}


def test_covered_ms_merges_and_clips():
    assert eventlog.covered_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert eventlog.covered_ms([(0, 10), (5, 20)], 8, 15) == 7
    assert eventlog.covered_ms([], 0, 10) == 0
