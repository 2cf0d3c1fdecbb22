"""Span tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``Tracer.patch`` wraps
a layer's public entry point at runtime (the program is not edited), and
the workloads open spans around their own consumer calls. Each span keeps
name, start, end and parent in memory. Spans that may launch Spark jobs
set the job group to the span id, so the Spark event log attributes every
job to the span that caused it and jobs become child spans. A span's self
time is its duration minus the part of it covered by its children.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its direct children."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids[s["id"]], s["start"], s["end"])
        for s in spans
    }


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._groups: list[str | None] = [None]
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if jobs and self.sc is not None:
            self._groups.append(f"span-{sid}")
            self.sc.setLocalProperty(JOB_GROUP, self._groups[-1])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if jobs and self.sc is not None:
                self._groups.pop()
                self.sc.setLocalProperty(JOB_GROUP, self._groups[-1])

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    def patch(self, owner, attr: str, name: str | None, *, jobs: bool = False,
              after=None) -> None:
        """Wrap ``owner.attr`` (a module function or a plain method) in a
        span, or in none when ``name`` is None;
        ``after(tracer, result, args, kwargs)`` records counts."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if name is None:
                out = orig(*args, **kwargs)
            else:
                with tracer.span(name, jobs=jobs):
                    out = orig(*args, **kwargs)
            if after is not None and tracer.enabled:
                after(tracer, out, args, kwargs)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig if own else None))

    def unpatch_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis --------------------------------------------------------

    def add_jobs(self, jobs: list[dict]) -> None:
        """Insert Spark jobs as child spans of the span that launched them."""
        for j in jobs:
            group = j.get("group") or ""
            if not group.startswith("span-"):
                continue
            self.spans.append({
                "id": len(self.spans), "name": "spark.job",
                "parent": int(group[len("span-"):]),
                "start": j["start"], "end": j["end"], "job_id": j["id"],
            })

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total seconds, self seconds."""
        selfs = self_times(self.spans)
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += selfs[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump({
                "spans": [{**s, "self_s": selfs[s["id"]]} for s in self.spans],
                "summary": self.summary(),
                "counts": dict(self.counts),
            }, f)


# -- Spark event log ----------------------------------------------------------

PY_SENT = "data sent to Python workers"


def read_event_log(events_dir: str) -> dict:
    """Jobs (with their stage ids) and per-stage task metrics from an
    uncompressed Spark event log."""
    jobs, tasks = {}, defaultdict(list)
    for path in glob.glob(os.path.join(events_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": (ev.get("Properties") or {}).get(JOB_GROUP),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    py = sum(
                        int(a.get("Update", 0) or 0)
                        for a in ti.get("Accumulables", [])
                        if a.get("Name") == PY_SENT
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks[ev["Stage ID"]].append({
                        "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                        "run": tm.get("Executor Run Time", 0) / 1000.0,
                        "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc": tm.get("JVM GC Time", 0) / 1000.0,
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "py_sent": py,
                    })
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return {"jobs": jobs, "tasks": tasks}


def job_task_totals(log: dict, job_ids) -> dict[str, float]:
    """Sum task metrics over the stages of ``job_ids``."""
    out = defaultdict(float)
    for jid in job_ids:
        for sid in log["jobs"][jid]["stages"]:
            for t in log["tasks"].get(sid, ()):
                for k in ("run", "cpu", "gc", "spill", "shuffle_write", "py_sent"):
                    out[k] += t[k]
    return out


def session_metrics(log: dict, lo: float, hi: float, cores: int) -> dict[str, float]:
    """Scheduler-level numbers for the jobs submitted inside ``[lo, hi]``."""
    jobs = [j for j in log["jobs"].values() if lo <= j["start"] <= hi]
    ran = [
        sid for j in jobs for sid in j["stages"] if log["tasks"].get(sid)
    ]
    tot = job_task_totals(log, [j["id"] for j in jobs])
    window = hi - lo
    busy = union_length([(j["start"], j["end"]) for j in jobs], lo, hi)
    skew = 1.0
    if ran:
        widest = max(ran, key=lambda s: (len(log["tasks"][s]),
                                         sum(t["dur"] for t in log["tasks"][s])))
        durs = [t["dur"] for t in log["tasks"][widest]]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "session.jobs": len(jobs),
        "session.stages": len(ran),
        "session.tasks": sum(len(log["tasks"][s]) for s in ran),
        "session.executor_run_s": tot["run"],
        "session.executor_cpu_s": tot["cpu"],
        "session.core_util": tot["run"] / (window * cores) if window > 0 else 0.0,
        "session.driver_gap_s": window - busy,
        "session.shuffle_write_bytes": tot["shuffle_write"],
        "session.spill_bytes": tot["spill"],
        "session.gc_s": tot["gc"],
        "session.task_skew": skew,
    }
