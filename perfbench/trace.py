"""Spans around layer calls, Spark event-log attribution, process-tree memory.

A span records name, start, end, parent and run id, and labels the Spark
jobs its call launches with ``layer:<name>``. Spans stay in memory and are
written out when the benchmark ends. After the traced session stops, its
uncompressed event log is read back and every task's executor run time,
Python-worker time (the ``MapInPandas`` node's "time to run Python
workers"), shuffle bytes written, disk spill and records written is
credited to the span whose job launched it: by job description when the
job carries a layer label, else (streaming micro-batches set their own
description) by the innermost span open at the job's submission time.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LABEL = "layer:"


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(LABEL + name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(LABEL + parent["name"] if parent else None)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


def _task_numbers(e: dict) -> dict[str, float]:
    m = e.get("Task Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in e.get("Task Info", {}).get("Accumulables", [])}
    return {
        "executor_s": m.get("Executor Run Time", 0) / 1000.0,
        "python_s": float(acc.get("time to run Python workers") or 0) / 1000.0,
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "records_written": m.get("Output Metrics", {}).get("Records Written", 0),
    }


def attribute_event_log(path: str, spans: list[dict]) -> dict[int, dict[str, float]]:
    """span id → summed task numbers of the jobs that span launched."""
    jobs: dict[int, tuple[str | None, float]] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                e = json.loads(line)
                desc = (e.get("Properties") or {}).get("spark.job.description")
                jobs[e["Job ID"]] = (desc, e["Submission Time"] / 1000.0)
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                e = json.loads(line)
                tasks.append((e["Stage ID"], _task_numbers(e)))

    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def owner(job: int) -> dict | None:
        desc, t = jobs[job]
        inside = [s for s in spans if s["start"] - 0.005 <= t <= s["end"] + 0.005]
        if desc and desc.startswith(LABEL):
            named = [s for s in by_name.get(desc[len(LABEL):], []) if s in inside]
            if named:
                return named[-1]
        return inside[-1] if inside else None  # innermost: opened last

    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    owners = {j: owner(j) for j in jobs}
    for stage, nums in tasks:
        span = owners.get(stage_job.get(stage))
        if span is None:
            continue
        for k, v in nums.items():
            out[span["id"]][k] += v
    return out


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {sorted(os.listdir(log_dir))}")
    return files[0]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out[1:]


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and its live descendants (JVM, Python
    worker daemon and workers), in MiB."""
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
