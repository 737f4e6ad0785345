"""Reader for Spark's JSON event log, including Spark 4 rolling logs.

A rolling log is a directory `eventlog_v2_<app>/` holding `events_<n>_<app>`
shards (plus `appstatus_*` markers); a plain log is one file.  Shards are
read in index order.  Compressed logs are refused: the benchmark turns
`spark.eventLog.compress` off so no codec is needed to read them.

`summarize(events, t0_ms, t1_ms)` reduces the jobs, stages and tasks that
fall inside one wall-clock window to the counts and times the per-layer
report uses.
"""

from __future__ import annotations

import json
import os
import re

_SHARD = re.compile(r"^events_(\d+)_")


def log_files(path: str) -> list[str]:
    """Every event-log file under `path` (a file, a rolling-log directory
    or a directory of either), in read order."""
    if os.path.isfile(path):
        return [path]
    out = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith("eventlog_v2_"):
            shards = [s for s in os.listdir(full) if _SHARD.match(s)]
            shards.sort(key=lambda s: int(_SHARD.match(s).group(1)))
            out += [os.path.join(full, s) for s in shards]
        elif os.path.isfile(full) and not name.startswith("."):
            out.append(full)
    for f in out:
        if f.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {f}: "
                             "set spark.eventLog.compress=false")
    return out


def read_events(path: str) -> list[dict]:
    events = []
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        # the last line of a live shard can be half-written
                        continue
    return events


class Timeline:
    """Jobs, stages and tasks of one application, with wall times (ms)."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple, dict] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {"start": e["Submission Time"],
                                          "stages": e.get("Stage IDs", [])}
            elif kind == "SparkListenerJobEnd":
                self.jobs.setdefault(e["Job ID"], {"start": None})[
                    "end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                self.stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                    "start": si.get("Submission Time"),
                    "end": si.get("Completion Time"),
                    "tasks": si.get("Number of Tasks", 0)}
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                self.tasks.append({
                    "stage": e["Stage ID"],
                    "start": ti["Launch Time"], "end": ti["Finish Time"],
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "deser_ms": tm.get("Executor Deserialize Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    "spill": (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)),
                })


def _busy_ms(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def summarize(tl: Timeline, t0_ms: float, t1_ms: float) -> dict:
    """Counts and times of the work that started inside [t0_ms, t1_ms].

    idle_s is the part of the window in which no task ran (driver-only
    time: planning, scheduling, Python-side work).  Task CPU, deserialize
    and GC are summed over tasks; shuffle and spill are in MB."""
    jobs = [j for j in tl.jobs.values()
            if j.get("start") is not None and t0_ms <= j["start"] <= t1_ms]
    stages = [s for s in tl.stages.values()
              if s.get("start") is not None and t0_ms <= s["start"] <= t1_ms]
    tasks = [t for t in tl.tasks if t0_ms <= t["start"] <= t1_ms]
    busy = _busy_ms([(t["start"], t["end"]) for t in tasks], t0_ms, t1_ms)
    return {
        "jobs": len(jobs), "stages": len(stages), "tasks": len(tasks),
        "idle_s": max(0.0, (t1_ms - t0_ms) - busy) / 1000,
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "deserialize_s": sum(t["deser_ms"] for t in tasks) / 1000,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
        "shuffle_write_mb": sum(t["shuffle_w"] for t in tasks) / 2**20,
        "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
    }
