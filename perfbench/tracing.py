"""Benchmark-side tracing and the arithmetic the benchmark reports.

Spans are recorded around calls into the engine from the benchmark's own
code (no program file is instrumented). Spark jobs come from the event log
and are attributed to the innermost span that contains their submit time:
``setJobDescription`` does not reach jobs the engine starts on its own
worker threads, but the time window does. Everything here is stdlib-only so
the tests run without Spark.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager

# a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL = 10


def percentile(values: "list[float]", q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    return v[max(0, math.ceil(q * len(v)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    """Samples ranked strictly above the nearest-rank ``q`` percentile."""
    return n - math.ceil(q * n)


def highest_percentile(
    n: int, candidates: "tuple[float, ...]" = (0.999, 0.99, 0.95, 0.9, 0.5)
) -> "float | None":
    """The highest candidate percentile with at least MIN_TAIL samples
    beyond it, or None when even the lowest has too thin a tail."""
    for q in sorted(candidates, reverse=True):
        if samples_beyond(n, q) >= MIN_TAIL:
            return q
    return None


def rate(count: float, seconds: float) -> float:
    """Work per second; refuses a non-positive interval instead of
    reporting an infinite rate."""
    if seconds <= 0:
        raise ValueError(f"rate over a non-positive interval: {seconds}")
    return count / seconds


def median(values: "list[float]") -> float:
    v = sorted(values)
    n = len(v)
    if not n:
        raise ValueError("median of no samples")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing, so the
    untraced run times the same code with tracing off."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f)


def _union_length(intervals: "list[tuple[float, float]]") -> float:
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans: "list[dict]") -> "list[float]":
    """Per span: its duration minus the part of it its child spans cover
    (overlapping children are counted once)."""
    kids: "dict[int, list[dict]]" = {}
    for c in spans:
        if c["parent"] is not None:
            kids.setdefault(c["parent"], []).append(c)
    out = []
    for s in spans:
        lo, hi = s["start"], s["end"]
        cover = [(max(lo, c["start"]), min(hi, c["end"])) for c in kids.get(s["id"], [])]
        out.append((hi - lo) - _union_length([k for k in cover if k[1] > k[0]]))
    return out


def _depth(spans: "list[dict]", sid: int) -> int:
    d = 0
    while spans[sid]["parent"] is not None:
        sid = spans[sid]["parent"]
        d += 1
    return d


def attribute_jobs(jobs: "list[dict]", spans: "list[dict]") -> "dict[int, int | None]":
    """job id → id of the innermost span whose [start, end] holds the job's
    submit time (spans in epoch seconds, jobs' ``submit_ms`` in epoch ms);
    None when no span holds it."""
    out: "dict[int, int | None]" = {}
    for j in jobs:
        t = j["submit_ms"] / 1000.0
        best, best_key = None, None
        for s in spans:
            if s["start"] <= t <= s["end"]:
                key = (_depth(spans, s["id"]), s["start"])
                if best_key is None or key > best_key:
                    best, best_key = s["id"], key
        out[j["job"]] = best
    return out


def subtree(spans: "list[dict]", root_ids: "set[int]") -> "set[int]":
    """The given span ids plus every descendant."""
    ids = set(root_ids)
    changed = True
    while changed:
        changed = False
        for s in spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                changed = True
    return ids


def read_event_log(path: str) -> "tuple[list[dict], list[dict]]":
    """(jobs, tasks) from an uncompressed, non-rolling Spark event log.

    jobs: {job, submit_ms, end_ms, stages}; tasks: {stage, launch_ms,
    finish_ms, cpu_ns, shuffle_bytes, shuffle_records, input_records}.
    """
    jobs: "dict[int, dict]" = {}
    tasks: "list[dict]" = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "job": ev["Job ID"],
                    "submit_ms": ev["Submission Time"],
                    "end_ms": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics", {})
                inp = m.get("Input Metrics", {})
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "launch_ms": info.get("Launch Time", 0),
                        "finish_ms": info.get("Finish Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_records": sw.get("Shuffle Records Written", 0),
                        "input_records": inp.get("Records Read", 0),
                    }
                )
    return sorted(jobs.values(), key=lambda j: j["job"]), tasks


def job_rollup(job_ids: "set[int]", jobs: "list[dict]", tasks: "list[dict]") -> dict:
    """Counts and task metrics summed over a set of jobs."""
    stages = {s for j in jobs if j["job"] in job_ids for s in j["stages"]}
    ts = [t for t in tasks if t["stage"] in stages]
    walls = sorted(t["finish_ms"] - t["launch_ms"] for t in ts)
    p50 = walls[(len(walls) - 1) // 2] if walls else 0
    return {
        "jobs": len(job_ids),
        "tasks": len(ts),
        "executor_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
        "shuffle_mb": sum(t["shuffle_bytes"] for t in ts) / 2**20,
        "shuffle_records": sum(t["shuffle_records"] for t in ts),
        "input_records": sum(t["input_records"] for t in ts),
        "task_max_over_p50": (walls[-1] / p50) if p50 > 0 else 0.0,
    }
