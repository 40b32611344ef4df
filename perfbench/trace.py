"""Spans recorded around the benchmark's calls into the package, and an
offline reader of the Spark event log the traced run turns on.

Spans stay in memory and are written out when the run ends. Each span
records its name, start, end, parent span and the pass or request it
belongs to. A span's self time is its duration minus the part its child
spans cover. With tracing off, ``span`` records nothing.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def totals(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds. Spans
        nest on one thread, so children never overlap each other."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            t = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            t["count"] += 1
            t["total_s"] += d
            t["self_s"] += d - child_s[s["id"]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "totals": self.totals()}, f)


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _walk_plan(node: dict, out: list[dict]) -> None:
    out.append(node)
    for c in node.get("children", ()):
        _walk_plan(c, out)


def read_event_log(log_dir: str) -> dict:
    """Task metrics of every finished task, summed per job group the
    benchmark set: ``{group: totals}``. ``totals`` holds the job count,
    task, CPU and
    GC seconds, shuffle/spill bytes, stage and task counts, file-scan
    task figures, bytes through Python-eval plan nodes, and the task
    time and Python bytes of the allocation's grouped-map stages."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    stage_group: dict[int, str] = {}
    stage_has_scan: set[int] = set()
    py_acc: dict[int, bool] = {}  # accumulator id -> is allocation node
    tasks: list[dict] = []
    jobs: dict[str, int] = defaultdict(int)
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs[g] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if any(r["Name"] == "FileScanRDD" for r in info["RDD Info"]):
                    stage_has_scan.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
            elif "sparkPlanInfo" in e:
                nodes: list[dict] = []
                _walk_plan(e["sparkPlanInfo"], nodes)
                for n in nodes:
                    alloc = n["nodeName"] == "FlatMapGroupsInPandas" and "allocated_qty" in n["simpleString"]
                    for m in n["metrics"]:
                        if m["name"] in (_PY_SENT, _PY_RECV):
                            py_acc[m["accumulatorId"]] = alloc
    alloc_stages = {
        e["Stage ID"]
        for e in tasks
        for a in e["Task Info"].get("Accumulables", ())
        if py_acc.get(a["ID"])
    }
    groups: dict[str, dict] = defaultdict(_zero)
    for g, n in jobs.items():
        groups[g]["jobs"] = n
    for e in tasks:
        m = e.get("Task Metrics")
        if not m:
            continue
        sid = e["Stage ID"]
        g = groups[stage_group.get(sid, "")]
        _add(g, m, sid, sid in stage_has_scan)
        for a in e["Task Info"].get("Accumulables", ()):
            if a["ID"] in py_acc:
                v = int(a.get("Update") or 0)
                g["python_b"] += v
                if py_acc[a["ID"]]:
                    g["alloc_python_b"] += v
        if sid in alloc_stages:
            g["alloc_task_s"] += m["Executor Run Time"] / 1e3
    return dict(groups)


def _zero() -> dict:
    return {
        "task_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
        "jobs": 0, "tasks": 0, "stages": set(),
        "scan_task_s": 0.0, "scan_b": 0, "scan_tasks": 0,
        "python_b": 0, "alloc_python_b": 0, "alloc_task_s": 0.0,
    }


def _add(t: dict, m: dict, sid: int, scan: bool) -> None:
    run_s = m["Executor Run Time"] / 1e3
    t["task_s"] += run_s
    t["task_cpu_s"] += m["Executor CPU Time"] / 1e9
    t["gc_s"] += m["JVM GC Time"] / 1e3
    rd = m["Shuffle Read Metrics"]
    t["shuffle_read_b"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
    t["shuffle_write_b"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    t["spill_b"] += m["Disk Bytes Spilled"]
    t["tasks"] += 1
    t["stages"].add(sid)
    if scan:
        t["scan_task_s"] += run_s
        t["scan_b"] += m["Input Metrics"]["Bytes Read"]
        t["scan_tasks"] += 1


def merge(groups: dict[str, dict], keep) -> dict:
    """Sum the totals of every group whose name satisfies ``keep``."""
    out = _zero()
    for g, t in groups.items():
        if keep(g):
            for k, v in t.items():
                out[k] = out[k] | v if k == "stages" else out[k] + v
    return out
