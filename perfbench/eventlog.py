"""Read a Spark event log and attribute its jobs to time windows.

Spark 4.1 writes an uncompressed log either as one JSON-lines file or,
with rolling on, as a directory ``eventlog_v2_<app>`` holding
``events_<n>_<app>`` files. Jobs are attributed to a query by the
query's wall-clock window, not by job description: jobs started from
the library's search thread pools do not carry the description.
"""

from __future__ import annotations

import bisect
import json
import os
import re
from dataclasses import dataclass, field

# SQL metrics of the Arrow/pandas Python runners (Spark 4.1 names).
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_ACCUMS = (PY_RUN, PY_START, PY_SENT, PY_RECV)
# "time to initialize Python workers" is left out: on reused workers
# Spark 4.1 reports values far above the task's own run time.

MB = 1e6


@dataclass
class Job:
    id: int
    submit_ms: int
    stage_ids: list[int]
    description: str | None
    end_ms: int | None = None


@dataclass
class Stage:
    id: int
    submit_ms: int | None = None
    tasks: int = 0
    task_failures: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    overhead_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    accum: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    spark_version: str | None
    jobs: dict[int, Job]
    stages: dict[int, Stage]


_EVENTS_FILE = re.compile(r"^events_(\d+)_")


def find_log(log_dir: str) -> str:
    """The newest application log (file or rolling directory) in log_dir."""
    entries = [os.path.join(log_dir, e) for e in os.listdir(log_dir)
               if not e.startswith(".")]
    if not entries:
        raise FileNotFoundError(f"no event log in {log_dir}")
    return max(entries, key=os.path.getmtime)


def log_files(path: str) -> list[str]:
    """The JSON-lines files of one application log, in event order."""
    if not os.path.isdir(path):
        return [path]
    numbered = []
    for name in os.listdir(path):
        m = _EVENTS_FILE.match(name)
        if m:
            numbered.append((int(m.group(1)), os.path.join(path, name)))
    if not numbered:
        raise FileNotFoundError(f"no events_<n>_* files in {path}")
    return [p for _, p in sorted(numbered)]


def _stage(stages: dict[int, Stage], sid: int) -> Stage:
    st = stages.get(sid)
    if st is None:
        st = stages[sid] = Stage(sid)
    return st


def _add_task(st: Stage, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    st.tasks += 1
    if info.get("Failed") or info.get("Killed") or reason != "Success":
        st.task_failures += 1
    run = int(m.get("Executor Run Time", 0))
    st.run_ms += run
    st.cpu_ns += int(m.get("Executor CPU Time", 0))
    st.gc_ms += int(m.get("JVM GC Time", 0))
    launch, finish = info.get("Launch Time"), info.get("Finish Time")
    if launch and finish:
        st.overhead_ms += max(0, int(finish) - int(launch) - run)
    st.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
    st.fetch_wait_ms += int(sr.get("Fetch Wait Time", 0))
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
    st.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
    st.result_bytes += int(m.get("Result Size", 0))
    # a SQL metric is an accumulator of its plan node, and its stage-level
    # value is cumulative over every stage that ran the node; the task's
    # own "Update" is this task's share
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name in PY_ACCUMS and acc.get("Update") is not None:
            st.accum[name] = st.accum.get(name, 0.0) + float(acc["Update"])


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    version = None
    for fname in log_files(path):
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerLogStart":
                    version = ev.get("Spark Version")
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], int(ev["Submission Time"]),
                        list(ev.get("Stage IDs", [])),
                        props.get("spark.job.description"))
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = int(ev["Completion Time"])
                elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                    info = ev["Stage Info"]
                    st = _stage(stages, info["Stage ID"])
                    if info.get("Submission Time") is not None:
                        st.submit_ms = int(info["Submission Time"])
                elif kind == "SparkListenerTaskEnd":
                    _add_task(_stage(stages, ev["Stage ID"]), ev)
    return EventLog(version, jobs, stages)


def attribute(jobs, windows) -> dict:
    """Map window key -> [job ids] by job submission time.

    ``windows`` is a list of (key, start_ms, end_ms), disjoint in time.
    A job submitted outside every window is left out.
    """
    wins = sorted(windows, key=lambda w: w[1])
    starts = [w[1] for w in wins]
    out: dict = {w[0]: [] for w in wins}
    for job in sorted(jobs, key=lambda j: j.submit_ms):
        i = bisect.bisect_right(starts, job.submit_ms) - 1
        if i >= 0 and job.submit_ms <= wins[i][2]:
            out[wins[i][0]].append(job.id)
    return out


def covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _stage_owner(log: EventLog) -> dict[int, int]:
    """Stage id -> the job that ran it: the earliest job listing the
    stage whose lifetime contains the stage's submission."""
    owner: dict[int, int] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.submit_ms):
        end = job.end_ms if job.end_ms is not None else float("inf")
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if (sid not in owner and st is not None and st.submit_ms is not None
                    and job.submit_ms <= st.submit_ms <= end):
                owner[sid] = job.id
    return owner


def totals(log: EventLog, job_ids, label: str | None = None) -> dict:
    """Scheduling, execution and Python-worker totals over ``job_ids``.

    ``label`` is the job description the benchmark set; jobs carrying it
    are counted as tagged.
    """
    owner = _stage_owner(log)
    ids = set(job_ids)
    run_stages = [log.stages[s] for s, j in owner.items() if j in ids]
    listed = sum(len(log.jobs[j].stage_ids) for j in ids)
    agg = {
        "jobs": len(ids),
        "tagged_jobs": sum(1 for j in ids if label is not None
                           and log.jobs[j].description == label),
        "stages": len(run_stages),
        "stages_skipped": listed - len(run_stages),
        "tasks": sum(s.tasks for s in run_stages),
        "task_failures": sum(s.task_failures for s in run_stages),
        "task_overhead_s": sum(s.overhead_ms for s in run_stages) / 1e3,
        "run_s": sum(s.run_ms for s in run_stages) / 1e3,
        "cpu_s": sum(s.cpu_ns for s in run_stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in run_stages) / 1e3,
        "input_mb": sum(s.input_bytes for s in run_stages) / MB,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in run_stages) / MB,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in run_stages) / MB,
        "fetch_wait_s": sum(s.fetch_wait_ms for s in run_stages) / 1e3,
        "spill_mb": sum(s.spill_bytes for s in run_stages) / MB,
        "result_mb": sum(s.result_bytes for s in run_stages) / MB,
        "python_run_s": sum(s.accum.get(PY_RUN, 0.0) for s in run_stages) / 1e3,
        "python_start_s": sum(s.accum.get(PY_START, 0.0) for s in run_stages) / 1e3,
        "python_sent_mb": sum(s.accum.get(PY_SENT, 0.0) for s in run_stages) / MB,
        "python_recv_mb": sum(s.accum.get(PY_RECV, 0.0) for s in run_stages) / MB,
    }
    return agg


def job_intervals(log: EventLog, job_ids):
    return [(log.jobs[j].submit_ms,
             log.jobs[j].end_ms if log.jobs[j].end_ms is not None else log.jobs[j].submit_ms)
            for j in job_ids]
