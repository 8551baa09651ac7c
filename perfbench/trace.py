"""Spans, counters and the Spark event-log fold for the traced run.

A span is recorded by the benchmark's own code around one call into an
engine layer: name, layer, start, end, parent. While a span is open its id
is the calling thread's Spark job group, so every Spark job the call
launches is tagged with it in the event log; ``fold`` then sums task
metrics per layer. Spans and counters live in memory and are written
out once, when the run ends.

The untraced run uses ``NullTracer``: same interface, no Spark calls, no
allocation per span.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict

# the Spark fold kept per layer (the ones an optimisation is likely to move)
FOLD_KEYS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "driver_gap_s",
)


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield None

    def count(self, key: str, n: float = 1) -> None:
        pass


class Tracer:
    """In-memory span recorder. ``span`` nests per thread; the innermost
    open span owns the thread's Spark job group."""

    enabled = True

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": stack[-1]["id"] if stack else None, "start": time.time()}
        stack.append(rec)
        self._sc.setJobGroup(f"pb:{sid}", f"{layer}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if stack:
                self._sc.setJobGroup(f"pb:{stack[-1]['id']}", f"{stack[-1]['layer']}:{stack[-1]['name']}")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] += n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, uncompressed, non-rolling) event log."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def spark_jobs(events: list[dict]) -> list[dict]:
    """Per Spark job: group, streaming batch id, interval and task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "batch_id": props.get("streaming.sql.batchId"),
                "start": e["Submission Time"] / 1000.0, "end": None,
                "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
            }
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID")))
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            job["tasks"] += 1
            job["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j["end"] is not None]


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def _subtree_ids(spans: list[dict], root: dict) -> set[int]:
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    ids, todo = set(), [root]
    while todo:
        s = todo.pop()
        ids.add(s["id"])
        todo.extend(children[s["id"]])
    return ids


def fold(jobs: list[dict], spans: list[dict], roots: list[dict], per: int = 1) -> dict[str, float]:
    """The Spark fold of ``roots``: task totals of every job tagged with a
    root span or a span nested below it, and ``driver_gap_s`` — root span
    wall minus the union of those jobs' intervals inside it. Values are
    divided by ``per`` (e.g. per-query averages)."""
    out = dict.fromkeys(FOLD_KEYS, 0.0)
    by_group = defaultdict(list)
    for j in jobs:
        if j["group"] and j["group"].startswith("pb:"):
            by_group[int(j["group"][3:])].append(j)
    for r in roots:
        mine = [j for sid in _subtree_ids(spans, r) for j in by_group.get(sid, ())]
        out["jobs"] += len(mine)
        for j in mine:
            for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                out[k] += j[k]
        inside = [(max(j["start"], r["start"]), min(j["end"], r["end"])) for j in mine
                  if j["end"] > r["start"] and j["start"] < r["end"]]
        out["driver_gap_s"] += (r["end"] - r["start"]) - _union_length(inside)
    return {k: v / max(per, 1) for k, v in out.items()}


def layer_fold(jobs: list[dict], spans: list[dict], layer: str, since: float = 0.0) -> dict[str, float]:
    """``<layer>.<fold key>`` over the top-most spans of ``layer`` that
    started at or after ``since`` (epoch seconds)."""
    ids = {s["id"] for s in spans if s["layer"] == layer}
    roots = [s for s in spans if s["layer"] == layer and s["parent"] not in ids and s["start"] >= since]
    return {f"{layer}.{k}": v for k, v in fold(jobs, spans, roots).items()}
