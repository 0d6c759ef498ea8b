"""Spans, Spark event-log attribution and host stamps for the benchmark.

A span is one call into a layer: ``(id, name, layer, parent, start,
end, run)``.  Spans live in memory and are written out at exit.  When
tracing is on, every span also becomes the Spark job group of the jobs
submitted inside it, so the event log (``spark.eventLog.enabled``)
attributes jobs, tasks and their metrics to the innermost span.

A layer's self time is its span minus the time its child spans cover.
Spans of the benchmark's own layers (``pass``, ``op``, ``stage``)
carry no module work; their self time is glue, and a pass's coverage
is the share of its wall that the module layers account for.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

GLUE_LAYERS = ("pass", "op", "stage")
GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Tag the jobs of every later span with its job group."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wall(span: dict) -> float:
    return span["end"] - span["start"]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the event log(s) under ``log_dir`` into
    ``jobs[job_id] = {span, start, end, stages}`` (times in seconds,
    ``span`` the id of the span whose job group submitted the job) and
    ``tasks[stage_id] = [task record, ...]``."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    span = (
                        int(group[len(GROUP_PREFIX):])
                        if group.startswith(GROUP_PREFIX) else None
                    )
                    jobs[ev["Job ID"]] = {
                        "span": span, "start": ev["Submission Time"] / 1000.0,
                        "end": None, "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def task_stats(job_list: list[dict], tasks: dict, cores: int) -> dict:
    """Task-level totals over the stages of ``job_list``, and the task
    count of each stage in stage order."""
    seen, recs, skews = set(), [], []
    for j in job_list:
        for sid in j["stages"]:
            if sid in seen or sid not in tasks:
                continue
            seen.add(sid)
            ts = tasks[sid]
            recs += ts
            if len(ts) >= cores:
                med = statistics.median(t["dur"] for t in ts)
                if med > 0:
                    skews.append(max(t["dur"] for t in ts) / med)
    return {
        "tasks": len(recs),
        "run_s": sum(t["run"] for t in recs),
        "gc_s": sum(t["gc"] for t in recs),
        "spill": sum(t["spill"] for t in recs),
        "sr": sum(t["sr"] for t in recs),
        "sw": sum(t["sw"] for t in recs),
        "skew": statistics.median(skews) if skews else 1.0,
        "stage_tasks": [len(tasks[sid]) for sid in sorted(seen)],
    }


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def vm_hwm_kb(pid: int | str = "self") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_stamp() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_1m": os.getloadavg()[0],
    }


def tree_bytes_files(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                pass
    return size, files
