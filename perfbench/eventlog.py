"""Spark event log (plain JSON lines) -> per-key runtime counters.

The traced run writes the event log uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
false``) so the standard library can read it. Jobs are attributed to a
key by their job group (each key runs under ``setJobGroup(key)``) or,
for jobs under another group such as a streaming query's own, by the
key window their submission time falls in. Stages and tasks follow
their job.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

#: Task metrics summed per key.
TASK_SUMS = (
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "result_bytes",
)
#: Counters every key reports.
COUNTERS = ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed", "sql_executions") + TASK_SUMS

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def parse(lines: Iterable[str]) -> dict:
    """Read the events the counters need. Returns ``jobs`` (id ->
    group, submit/end ms, stage ids, submitted stage ids, skipped
    count), ``tasks`` (one dict per finished task, with its job) and
    ``sql_starts`` (ms of each SQL execution start)."""
    jobs: dict[int, dict] = {}
    active: list[int] = []
    stage_job: dict[tuple[int, int], int] = {}
    tasks: list[dict] = []
    sql_starts: list[int] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": ev["Submission Time"],
                "end_ms": None,
                "stage_ids": set(ev.get("Stage IDs", [])),
                "submitted": set(),
                "skipped": 0,
            }
            active.append(jid)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            # the newest running job that lists the stage ran it
            for jid in reversed(active):
                if sid in jobs[jid]["stage_ids"]:
                    jobs[jid]["submitted"].add(sid)
                    stage_job[(sid, info.get("Stage Attempt ID", 0))] = jid
                    break
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "job": stage_job.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0))),
                    "failed": bool(info.get("Failed")),
                    "exec_run_s": m.get("Executor Run Time", 0) / 1e3,
                    "exec_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "result_bytes": m.get("Result Size", 0),
                }
            )
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            job = jobs.get(jid)
            if job is not None:
                job["end_ms"] = ev["Completion Time"]
                job["skipped"] = len(job["stage_ids"] - job["submitted"])
                if jid in active:
                    active.remove(jid)
        elif kind == _SQL_START:
            sql_starts.append(ev["time"])
    return {"jobs": jobs, "tasks": tasks, "sql_starts": sql_starts}


def _in_window(t_ms: float, windows: dict[str, tuple[float, float]]) -> str | None:
    for key, (lo, hi) in windows.items():
        if lo <= t_ms <= hi:
            return key
    return None


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(parsed: dict, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per-key counters. ``windows`` maps each key to the epoch-ms
    interval from the start of its build to the end of its run; jobs of
    other groups outside every window (warm-up, output checks) count
    for no key. Adds ``in_job_s``: the union of the key's job spans,
    clipped to its window."""
    out = {k: dict.fromkeys(COUNTERS, 0) for k in windows}
    spans: dict[str, list[tuple[float, float]]] = {k: [] for k in windows}
    job_key: dict[int, str] = {}
    for jid, job in parsed["jobs"].items():
        key = job["group"] if job["group"] in windows else _in_window(job["submit_ms"], windows)
        if key is None:
            continue
        job_key[jid] = key
        c = out[key]
        c["jobs"] += 1
        c["stages"] += len(job["submitted"])
        c["stages_skipped"] += job["skipped"]
        lo, hi = windows[key]
        end = job["end_ms"] if job["end_ms"] is not None else hi
        spans[key].append((max(lo, job["submit_ms"]), min(hi, end)))
    for t in parsed["tasks"]:
        key = job_key.get(t["job"])
        if key is None:
            continue
        c = out[key]
        c["tasks"] += 1
        c["tasks_failed"] += t["failed"]
        for name in TASK_SUMS:
            c[name] += t[name]
    for t_ms in parsed["sql_starts"]:
        key = _in_window(t_ms, windows)
        if key is not None:
            out[key]["sql_executions"] += 1
    for key, c in out.items():
        c["in_job_s"] = union_s([s for s in spans[key] if s[1] > s[0]]) / 1e3
    return out
