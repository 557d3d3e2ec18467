"""Fold an uncompressed Spark event log onto benchmark spans.

Stdlib only. The benchmark tags every Spark job it causes with the local
property ``perfbench.span`` (the id of the innermost open span). This
module reads the log (a single file or the rolling ``eventlog_v2_*``
directory), maps task → stage → job → span, and sums per span:

* ``TaskEnd`` task metrics: executor run/CPU time, JVM GC time, spill,
  shuffle read/write bytes, shuffle fetch wait, input bytes;
* the SQL metrics Spark reports per task for Python operators: "time to
  run Python workers", "data sent to Python workers" and "data returned
  from Python workers" (Spark's executor CPU counter does not include
  Python worker CPU; these do cover the boundary);
* job count and the union of job wall spans, so that a span's driver time
  (its wall minus the union of its jobs) can be derived.

The log must be uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from typing import Iterable, Iterator

SPAN_PROP = "perfbench.span"

PY_METRICS = {
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}

SUM_KEYS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s",
    "input_bytes", "python_worker_s", "bytes_to_python", "bytes_from_python",
    "python_stages",
)


def event_files(path: str) -> list[str]:
    """The log's files in write order (a rolling log has several parts)."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    # events_<index>_<appId>: order by the numeric index
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def find_log(log_dir: str) -> str:
    """The single application log under ``spark.eventLog.dir``."""
    entries = [e for e in os.listdir(log_dir)
               if not e.startswith(".") and not e.endswith(".inprogress")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


def read_events(path: str) -> Iterator[dict]:
    for fn in event_files(path):
        with open(fn, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


class Folded:
    """Per-job facts and per-job metric sums of one application log."""

    def __init__(self, events: Iterable[dict]):
        self.job_span: dict[int, int | None] = {}
        self.job_time: dict[int, tuple[float, float]] = {}
        self.job_metrics: dict[int, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(SUM_KEYS, 0.0))
        # stage id → list of task durations (s), and its owning job
        self.stage_tasks: dict[int, list[float]] = defaultdict(list)
        self.stage_job: dict[int, int] = {}
        submitted: dict[int, float] = {}
        py_stages: set[int] = set()
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                tag = props.get(SPAN_PROP)
                self.job_span[jid] = int(tag) if tag not in (None, "") else None
                submitted[jid] = e["Submission Time"] / 1000.0
                for sid in e.get("Stage IDs", ()):
                    self.stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in submitted:
                    self.job_time[jid] = (submitted[jid], e["Completion Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                jid = self.stage_job.get(sid)
                info = e.get("Task Info") or {}
                tm = e.get("Task Metrics")
                if jid is None or tm is None:
                    continue
                m = self.job_metrics[jid]
                m["tasks"] += 1
                m["executor_run_s"] += tm["Executor Run Time"] / 1e3
                m["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["gc_s"] += tm["JVM GC Time"] / 1e3
                m["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                m["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                for acc in info.get("Accumulables", ()):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key is None:
                        continue
                    v = float(acc.get("Update") or 0)
                    m[key] += v / 1e3 if key == "python_worker_s" else v
                    if key == "bytes_to_python" and v > 0 and sid not in py_stages:
                        py_stages.add(sid)
                        m["python_stages"] += 1
                if "Launch Time" in info and "Finish Time" in info:
                    self.stage_tasks[sid].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1e3)

    def jobs_of(self, span_ids: set[int]) -> list[int]:
        return [j for j, s in self.job_span.items() if s in span_ids]

    def totals(self, jobs: Iterable[int]) -> dict[str, float]:
        out = dict.fromkeys(SUM_KEYS, 0.0)
        jobs = list(jobs)
        for j in jobs:
            for k, v in self.job_metrics.get(j, {}).items():
                out[k] += v
        out["jobs"] = float(len(jobs))
        out["task_skew"] = self.task_skew(jobs)
        return out

    def task_skew(self, jobs: Iterable[int]) -> float:
        """Worst stage's max over median task time, over stages of ``jobs``
        that ran at least two tasks (1.0 when there is no such stage)."""
        jobs = set(jobs)
        worst = 1.0
        for sid, durs in self.stage_tasks.items():
            if self.stage_job.get(sid) in jobs and len(durs) >= 2:
                med = statistics.median(durs)
                worst = max(worst, max(durs) / max(med, 1e-3))
        return worst

    def job_union_s(self, jobs: Iterable[int], lo: float, hi: float) -> float:
        """Length of the union of the jobs' wall spans, clipped to [lo, hi]."""
        ivs = sorted(
            (max(a, lo), min(b, hi))
            for j in jobs if j in self.job_time
            for a, b in [self.job_time[j]] if min(b, hi) > max(a, lo)
        )
        total, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total


def subtree(spans: list[dict], root_id: int) -> set[int]:
    """Ids of span ``root_id`` and all its descendants."""
    kids: dict[int | None, list[int]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out


def fold_spans(folded: Folded, spans: list[dict]) -> dict[int, dict[str, float]]:
    """Inclusive metrics per span: its own jobs and its descendants'.

    Adds ``wall_s``, ``self_s`` (wall minus direct children's wall) and
    ``driver_s`` (wall minus the union of the subtree's jobs)."""
    by_id = {s["id"]: s for s in spans}
    child_wall: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] in by_id:
            child_wall[s["parent"]] += s["end"] - s["start"]
    out = {}
    for s in spans:
        ids = subtree(spans, s["id"])
        jobs = folded.jobs_of(ids)
        m = folded.totals(jobs)
        wall = s["end"] - s["start"]
        m["wall_s"] = wall
        m["self_s"] = wall - child_wall[s["id"]]
        m["driver_s"] = wall - folded.job_union_s(jobs, s["start"], s["end"])
        out[s["id"]] = m
    return out
