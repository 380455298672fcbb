"""Spans around layer calls, and Spark stage metrics attached to them.

A span is recorded at each call the benchmark makes into a layer: name,
start, end, parent span and the id of the timed iteration it belongs to.
With tracing on, the span id is also set as the Spark job group of the
calling thread, so every job the call triggers carries it into Spark's
event log.  A few jobs are submitted from helper threads inside the
package (the crawl engine writes two tables from a small thread pool);
those threads do not inherit the job group, so a job without a group is
attached to the innermost span whose interval contains its submission.
The benchmark is a closed loop with one client, so nothing else submits
jobs while a span is open.

With tracing off a span only measures its wall time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from typing import Iterator, Optional


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id: Optional[int] = None
        self._stack: list[dict] = []
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {"name": name, **attrs}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - t0
            return
        rec.update(
            id=f"span-{self._next_id}",
            parent=self._stack[-1]["id"] if self._stack else None,
            run=self.run_id,
            start=time.time(),
        )
        self._next_id += 1
        self._stack.append(rec)
        self._set_group(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def _set_group(self, rec: Optional[dict]) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])


# -- Spark event log ---------------------------------------------------------

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "task_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_memory_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.output.recordsWritten": "records_written",
    "internal.metrics.output.bytesWritten": "bytes_written",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) from the uncompressed, unrolled event log in
    ``log_dir``: jobs by id with their group and submission time; completed
    stage attempts with submission/completion times, the task metrics
    summed over their tasks, and whether a Python worker ran in them."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_group: dict[int, Optional[str]] = {}
    stages: dict[tuple, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_ms": ev.get("Submission Time", 0),
                }
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                rec = {
                    "stage": si["Stage ID"],
                    "group": stage_group.get(si["Stage ID"]),
                    "submit_ms": si.get("Submission Time", 0),
                    "complete_ms": si.get("Completion Time", 0),
                    "tasks": si.get("Number of Tasks", 0),
                    "python": False,
                }
                for m in _STAGE_METRICS.values():
                    rec[m] = 0.0
                for acc in si.get("Accumulables", []):
                    name = acc.get("Name") or ""
                    if name in _STAGE_METRICS:
                        rec[_STAGE_METRICS[name]] = _num(acc.get("Value"))
                    elif "python" in name.lower():
                        # SQL metrics of the Arrow/pandas UDF operators
                        # ("data sent to Python workers", ...) only exist
                        # in stages that ran a Python worker
                        rec["python"] = True
                stages[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = rec
    return jobs, stages


def attach(spans: list[dict], jobs: dict, stages: dict) -> dict[str, dict]:
    """Per-span Spark totals: jobs, stages, task time, GC, shuffle, spill,
    records written and the Python-worker stages' wall and task time.
    Attribution is by job group, falling back to the innermost span that
    contains the submission time."""
    by_id = {s["id"]: s for s in spans}
    depth: dict[str, int] = {}
    for s in spans:
        d, p = 0, s.get("parent")
        while p is not None:
            d, p = d + 1, by_id[p].get("parent")
        depth[s["id"]] = d

    def owner(group: Optional[str], t_ms: float) -> Optional[str]:
        if group in by_id:
            return group
        t = t_ms / 1000.0
        inside = [s for s in spans if s["start"] <= t <= s["end"]]
        return max(inside, key=lambda s: depth[s["id"]])["id"] if inside else None

    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0, "stages": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
            "records_written": 0.0, "bytes_written": 0.0,
            "py_stages": 0, "py_wall_s": 0.0, "py_task_s": 0.0,
        }
    )
    for job in jobs.values():
        sid = owner(job["group"], job["submit_ms"])
        if sid is not None:
            out[sid]["jobs"] += 1
    for st in stages.values():
        sid = owner(st["group"], st["submit_ms"])
        if sid is None:
            continue
        o = out[sid]
        o["stages"] += 1
        o["task_s"] += st["task_ms"] / 1000.0
        o["cpu_s"] += st["cpu_ns"] / 1e9
        o["gc_s"] += st["gc_ms"] / 1000.0
        o["shuffle_write_bytes"] += st["shuffle_write_bytes"]
        o["spill_bytes"] += st["spill_memory_bytes"] + st["spill_disk_bytes"]
        o["records_written"] += st["records_written"]
        o["bytes_written"] += st["bytes_written"]
        if st["python"]:
            o["py_stages"] += 1
            o["py_wall_s"] += max(0.0, st["complete_ms"] - st["submit_ms"]) / 1000.0
            o["py_task_s"] += st["task_ms"] / 1000.0
    return dict(out)


def own_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span id: its wall minus the walls of its children."""
    child_wall: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.get("parent") is not None:
            child_wall[s["parent"]] += s["dur"]
    return {s["id"]: s["dur"] - child_wall[s["id"]] for s in spans}


def self_times(spans: list[dict]) -> list[dict]:
    """One row per span name: calls, total and self seconds.  The self
    time of an iteration span is the benchmark's own glue between layer
    calls, reported as the ``bench.glue`` row; over the spans of the timed
    iterations the self times add up to the iterations' wall exactly."""
    own = own_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        glue = s["name"] == "bench.iteration"
        name = "bench.glue" if glue else s["name"]
        r = rows.setdefault(name, {"span": name, "calls": 0, "total_s": 0.0, "self_s": 0.0})
        r["calls"] += 1
        r["total_s"] += own[s["id"]] if glue else s["dur"]
        r["self_s"] += own[s["id"]]
    return sorted(rows.values(), key=lambda r: -r["self_s"])
