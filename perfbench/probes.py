"""Measurements taken from outside the program: Spark's event log,
/proc memory high-water marks and on-disk catalog deltas.

Nothing here imports pyspark or tempel_spark, so the parsing can be
unit-checked without a session.
"""

from __future__ import annotations

import json
import os
import statistics
from pathlib import Path

MB = 1024.0 * 1024.0

# the five event-log numbers reported per layer window, with their units
EVENTLOG_UNITS = {"jobs": "count", "task_busy_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio"}


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def read_event_log(log_dir: Path) -> tuple[list[dict], dict[int, dict]]:
    """Parse every event file under `log_dir` (one per session).

    Returns (jobs, stages): jobs as {id, submit_ms};
    stages keyed by stage id with submit/complete times and the
    per-task run times, shuffle bytes written and disk bytes spilled.
    The session must be stopped first, so the file is flushed.
    """
    jobs: list[dict] = []
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid, {"submit_ms": None, "complete_ms": None, "task_ms": [], "shuffle_b": 0, "spill_b": 0}
        )

    files = [p for p in sorted(log_dir.rglob("*")) if p.is_file() and not p.name.startswith(".")]
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "submit_ms": ev["Submission Time"]})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stage(info["Stage ID"])
                    st["submit_ms"] = info.get("Submission Time")
                    st["complete_ms"] = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    st = stage(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    st["task_ms"].append(m.get("Executor Run Time", 0))
                    st["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def _owner(t_ms: float | None, windows: list[tuple[str, float, float]]) -> str | None:
    """Layer whose time window [start, end] (epoch seconds) holds t."""
    if t_ms is None:
        return None
    t = t_ms / 1000.0
    for layer, start, end in windows:
        if start <= t <= end:
            return layer
    return None


def window_stats(
    jobs: list[dict], stages: dict[int, dict], windows: list[tuple[str, float, float]]
) -> dict[str, dict[str, float]]:
    """Aggregate the event log per layer over its time windows.

    A job belongs to the window holding its submission time; a stage
    to the window holding its own submission time (skipped stages
    never complete and carry no tasks). Jobs outside every window —
    the benchmark's own checks — are not counted.
    """
    out = {layer: {f: 0.0 for f in EVENTLOG_UNITS} for layer, _, _ in windows}
    for job in jobs:
        layer = _owner(job["submit_ms"], windows)
        if layer is not None:
            out[layer]["jobs"] += 1
    longest: dict[str, tuple[float, list]] = {}
    for st in stages.values():
        layer = _owner(st["submit_ms"], windows)
        if layer is None:
            continue
        agg = out[layer]
        agg["task_busy_s"] += sum(st["task_ms"]) / 1000.0
        agg["shuffle_write_mb"] += st["shuffle_b"] / MB
        agg["spill_mb"] += st["spill_b"] / MB
        span = (st["complete_ms"] or st["submit_ms"]) - st["submit_ms"]
        if st["task_ms"] and span >= longest.get(layer, (-1.0, []))[0]:
            longest[layer] = (span, st["task_ms"])
    for layer, (_, task_ms) in longest.items():
        med = statistics.median(task_ms)
        out[layer]["task_skew"] = max(task_ms) / med if med > 0 else 1.0
    return out


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:  # process ended while scanning
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over every descendant of `root_pid`: the driver JVM
    and the Python workers it forked. A sum of per-process peaks, so
    it bounds the true simultaneous peak from above."""
    kids = children()
    todo, total_kb = list(kids.get(root_pid, [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# --------------------------------------------------------------------------
# disk
# --------------------------------------------------------------------------


def disk_snapshot(root: Path) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every regular file under `root`."""
    snap: dict[str, tuple[int, int]] = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


def disk_delta(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) written between two snapshots: files that are
    new or whose size/mtime changed."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in changed), len(changed)
