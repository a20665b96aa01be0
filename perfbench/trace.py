"""Spans, self times, percentiles and Spark event-log attribution.

Spans are recorded by the benchmark around its calls into the program's
public functions (nothing inside the program is instrumented).  They stay in
memory and are written once, when the run ends.  Each span also names a
Spark job group, so the jobs, stages and tasks in Spark's own event log can
be attributed to the call that submitted them.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


# The tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail_percentile(values: list[float]) -> dict | None:
    """The highest percentile of `values` that still leaves at least
    TAIL_BEYOND samples above it, with that percentile and the sample count;
    None when there are too few samples for any such percentile."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    k = n - 1 - TAIL_BEYOND
    return {"value": xs[k], "percentile": round(100.0 * (k + 1) / n, 2),
            "samples": n}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the part of each span's interval
    covered by its direct children (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        dur = s["end"] - s["start"]
        out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
    return out


class Tracer:
    """Records spans (name, start, end, parent, run id).  Each span also
    becomes the Spark job group of the jobs it submits from the calling
    thread."""

    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self_times(self.spans)}, f, indent=1)


def read_event_log(path: str) -> dict:
    """Parse a Spark JSON event-log file into jobs (group, submit time,
    stages) and per-stage task metrics."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_s": ev.get("Submission Time", 0) / 1000.0,
                "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append({
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "dur_s": (info.get("Finish Time", 0)
                          - info.get("Launch Time", 0)) / 1000.0,
                "sr_b": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "sw_b": sw.get("Shuffle Bytes Written", 0),
                "spill_b": m.get("Disk Bytes Spilled", 0)})
    return {"jobs": jobs, "tasks": tasks}


def jobs_of_span(log: dict, spans: list[dict], span: dict) -> list[int]:
    """Jobs submitted under `span` or any of its descendants: by job group
    when the submitting thread carried one, else by submission time within
    the span (jobs from a job's own worker threads carry no group)."""
    ids = {span["id"]}
    for s in spans:  # spans are appended in start order, parents first
        if s["parent"] in ids:
            ids.add(s["id"])
    groups = {f"span-{i}" for i in ids}
    return [j for j, info in log["jobs"].items()
            if info["group"] in groups
            or (info["group"] is None
                and span["start"] <= info["submit_s"] <= span["end"])]


def spark_metrics(log: dict, job_ids: list[int]) -> dict[str, float]:
    """Engine counters for a set of jobs: task time, CPU, GC, shuffle and
    spill volume, task count and the worst stage's max/median task time."""
    stages = {s for j in job_ids for s in log["jobs"][j]["stages"]}
    tot = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "sr_b": 0, "sw_b": 0,
           "spill_b": 0}
    n_tasks, skew = 0, 1.0
    for sid in stages:
        ts = log["tasks"].get(sid, [])
        n_tasks += len(ts)
        for t in ts:
            for k in tot:
                tot[k] += t[k]
        if len(ts) >= 2:
            med = statistics.median(t["dur_s"] for t in ts)
            if med > 0:
                skew = max(skew, max(t["dur_s"] for t in ts) / med)
    mb = 1024 * 1024
    return {"spark.task_s": tot["run_s"], "spark.cpu_s": tot["cpu_s"],
            "spark.gc_s": tot["gc_s"], "spark.shuffle_write_mb": tot["sw_b"] / mb,
            "spark.shuffle_read_mb": tot["sr_b"] / mb,
            "spark.spill_mb": tot["spill_b"] / mb, "spark.tasks": n_tasks,
            "spark.task_skew": skew}
