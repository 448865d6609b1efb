"""Layer attribution for the traced run, from public Spark sources only.

Three sources, all read from outside the engine:

- the Spark event log (``spark.eventLog.enabled``), parsed after the
  session stops: jobs, stages, tasks, SQL executions and task metrics;
- the caller's job groups (``setJobGroup`` around query construction and
  around delivery) and ``statusTracker()`` job counts per group;
- a ``StreamingQueryListener`` registered with ``spark.streams``.

A job tagged with an op's job group belongs to that op. Every other
event-log job belongs to the client window whose wall-clock span contains
its submission time. With one client thread that is exact, and it also
catches set-up work and any job a streaming drain submits from its own
thread without the caller's group.
"""

from __future__ import annotations

import bisect
import json
import os
from collections import defaultdict

# A job's span may pass its window's bounds by at most this much (event-log
# times are whole milliseconds; the client clock is finer).
WINDOW_TOLERANCE_S = 0.05
# |wall - (construct + deliver)| allowed per op before the run fails.
RECONCILE_TOLERANCE_S = 0.02
RECONCILE_TOLERANCE_SHARE = 0.02

PYTHON_BYTE_METRICS = ("data sent to Python workers",
                       "data returned from Python workers")


def trace_conf(event_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def make_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            states = p.stateOperators or []
            dur = dict(p.durationMs or {})
            self.progress.append({
                "ts": _iso_to_s(p.timestamp),
                "trigger_s": dur.get("triggerExecution", 0) / 1000.0,
                "commit_s": (dur.get("walCommit", 0)
                             + dur.get("commit", 0)) / 1000.0,
                "state_rows": sum(int(s.numRowsTotal or 0) for s in states),
                "state_bytes": sum(int(s.memoryUsedBytes or 0) for s in states),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


def _iso_to_s(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def read_event_log(event_dir: str, app_id: str) -> dict:
    """Parse the event log of application ``app_id`` under ``event_dir``."""
    path = os.path.join(event_dir, app_id)
    if not os.path.exists(path):
        raise RuntimeError(f"no finished event log for {app_id} in {event_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    sql: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "sql": props.get("spark.sql.execution.id"),
                    "stages": len(ev["Stage IDs"]),
                }
                for sid in ev["Stage IDs"]:
                    # A stage reused by a later job runs in the first one.
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(ev))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = {"start": ev["time"] / 1000.0}
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks, "sql": sql}


def _task(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
    run = m.get("Executor Run Time", 0) / 1000.0
    deser = m.get("Executor Deserialize Time", 0) / 1000.0
    ser = m.get("Result Serialization Time", 0) / 1000.0
    getting = (info["Finish Time"] - info["Getting Result Time"]) / 1000.0 if (
        info.get("Getting Result Time")
    ) else 0.0
    shuffle_r = m.get("Shuffle Read Metrics") or {}
    shuffle_w = m.get("Shuffle Write Metrics") or {}
    py = sum(
        int(a.get("Update") or 0)
        for a in info.get("Accumulables") or []
        if a.get("Name") in PYTHON_BYTE_METRICS
    )
    return {
        "stage": ev["Stage ID"],
        "s": dur,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "sched_s": max(0.0, dur - run - deser - ser - getting),
        "shuffle_read": shuffle_r.get("Remote Bytes Read", 0)
        + shuffle_r.get("Local Bytes Read", 0),
        "shuffle_write": shuffle_w.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "python": py,
        "failed": bool(info.get("Failed")),
    }


def attribute(log: dict, windows: list[dict], progress: list[dict]) -> dict:
    """Assign each job, SQL execution and stream batch to a client window.

    A job tagged with a window's job group goes to that window. Any other
    job (set-up work, jobs that streaming drains submit from their own
    threads) goes to the window whose span contains its submission time.
    ``windows`` are dicts with ``key``, ``start`` and ``end`` (epoch
    seconds). Returns per-key lists, the jobs no window claims, and the
    jobs that do not lie inside their window within WINDOW_TOLERANCE_S."""
    order = sorted(windows, key=lambda w: w["start"])
    starts = [w["start"] for w in order]
    by_key = {w["key"]: w for w in order}

    def find(t: float):
        # Event-log times are whole milliseconds, rounded down.
        i = bisect.bisect_right(starts, t + 1e-3) - 1
        if i >= 0 and t <= order[i]["end"] + 1e-3:
            return order[i]
        return None

    out: dict = {
        "jobs": defaultdict(list), "tasks": defaultdict(list),
        "sql": defaultdict(list), "batches": defaultdict(list),
        "orphans": [], "outside": [],
    }
    job_key: dict[int, str] = {}
    for jid, job in log["jobs"].items():
        w = by_key.get(job["group"]) or find(job["start"])
        if w is None:
            out["orphans"].append(jid)
            continue
        job_key[jid] = w["key"]
        out["jobs"][w["key"]].append(job)
        if (job["start"] < w["start"] - WINDOW_TOLERANCE_S
                or job.get("end", job["start"]) > w["end"] + WINDOW_TOLERANCE_S):
            out["outside"].append((jid, w["key"]))
    for t in log["tasks"]:
        if t["job"] in job_key:
            out["tasks"][job_key[t["job"]]].append(t)
    for eid, ex in log["sql"].items():
        w = find(ex["start"])
        if w is not None:
            out["sql"][w["key"]].append(dict(ex, id=str(eid)))
    for p in progress:
        w = find(p["ts"])
        if w is not None:
            out["batches"][w["key"]].append(p)
    return out


def busy_union(spans: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] spans."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def plan_gap(sql_execs: list[dict], jobs: list[dict]) -> float:
    """Summed SQL-execution start -> first job submit, over executions
    that ran at least one job."""
    first: dict[str, float] = {}
    for j in jobs:
        if j["sql"] is not None:
            first[j["sql"]] = min(first.get(j["sql"], j["start"]), j["start"])
    return sum(
        max(0.0, first[ex["id"]] - ex["start"])
        for ex in sql_execs if ex["id"] in first
    )
