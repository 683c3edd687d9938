"""The benchmark's own arithmetic: span self time, the tail percentile,
the metric-name rule, the /proc readers and the Spark event-log parser.
Pure functions over plain data, so the self-tests can check each one
without a Spark session.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
#: Physical operators that run in the pandas/Arrow Python worker.
PYWORKER_SCOPES = re.compile(r"InPandas|ArrowEvalPython|MapInArrow")


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"metric name {name!r} is not [A-Za-z0-9][A-Za-z0-9_.-]{{0,63}}")
    return name


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest order statistic with at least ``beyond`` samples above
    it: returns (value, percentile, n). When that statistic would lie
    below the median (``n < 2 * beyond``, roughly) it is no tail, and the
    maximum is returned with percentile 100, flagged by the caller
    through ``n``."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - 1 - beyond
    if k < (n - 1) // 2:
        return s[-1], 100.0, n
    return s[k], 100.0 * (k + 1) / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover; children
    are clipped to the span and may overlap each other."""
    a, b = span
    clipped = [(max(a, s), min(b, e)) for s, e in children if e > a and s < b]
    return (b - a) - union_length(clipped)


# --- host ------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vmhwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


# --- Spark event log ---------------------------------------------------------


def event_log_lines(log_dir: str):
    """Yield every line of every event-log file under ``log_dir`` (plain
    or rolling ``eventlog_v2_*/events_<n>_*`` layout), in write order."""

    def order(path):
        base = os.path.basename(path)
        m = re.match(r"events_(\d+)_", base)
        return (os.path.dirname(path), int(m.group(1)) if m else 0, base)

    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(("appstatus_", "."))]
    for path in sorted(files, key=order):
        with open(path) as f:
            yield from f


def new_group() -> dict:
    return {
        "jobs": [],  # (start_s, end_s)
        "stages": 0,
        "tasks": 0,
        "run_ms": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_write_b": 0,
        "shuffle_read_b": 0,
        "spill_b": 0,
        "input_b": 0,
        "output_b": 0,
        "py_stages": 0,
        "py_run_ms": 0,
    }


def parse_event_log(lines) -> dict[str | None, dict]:
    """Aggregate an uncompressed Spark event log by job group.

    Jobs come from JobStart/JobEnd (times in seconds since the epoch),
    stages from StageSubmitted (only stages that actually ran, so skipped
    stages whose shuffle output was reused are not counted), and task
    metrics from TaskEnd, attributed to the group of their stage. A stage
    is a Python-worker stage when one of its RDD scopes is a pandas/Arrow
    UDF operator.
    """
    groups: dict[str | None, dict] = defaultdict(new_group)
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}
    py_stage: set[int] = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_start[jid] = ev["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                groups[job_group[jid]]["jobs"].append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_group:  # a retried attempt is the same stage
                continue
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[sid] = g
            groups[g]["stages"] += 1
            scopes = [json.loads(r["Scope"])["name"] for r in info.get("RDD Info", []) if r.get("Scope")]
            if any(PYWORKER_SCOPES.search(s) for s in scopes):
                py_stage.add(sid)
                groups[g]["py_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics")
            if sid not in stage_group or not m:
                continue
            g = groups[stage_group[sid]]
            g["tasks"] += 1
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["spill_b"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            if sid in py_stage:
                g["py_run_ms"] += m.get("Executor Run Time", 0)
    return dict(groups)
