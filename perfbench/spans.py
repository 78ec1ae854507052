"""Spans, Spark job groups, /proc CPU and the Spark event log.

The benchmark measures every layer from outside the program: it times
the calls it makes into ``semantik_spark``, tags each call with its own
Spark job group, samples the JVM's CPU from ``/proc``, and, in a traced
run, parses the event log Spark writes when ``spark.eventLog.enabled``
is set at launch. Spans are kept in memory and turned into per-layer
numbers once the session has stopped.

A job is charged to the span whose id is its job group. Jobs submitted
from a thread pool inside the program carry no group (Spark job groups
are thread-local), so those are charged to the innermost span open at
their submission time; the benchmark drives one call at a time, so that
span is the call that submitted them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span recorder. ``on`` switches job-group tagging;
    span timestamps are always taken (they are what the end-to-end
    metrics are made of)."""

    def __init__(self, sc, on: bool):
        self.sc = sc
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        s = {"id": f"s{self._next}", "name": name,
             "parent": parent["id"] if parent else None,
             "req": parent["req"] if parent else f"s{self._next}",
             "start": 0.0, "end": 0.0, **attrs}
        self._stack.append(s)
        if self.on:
            self.sc.setJobGroup(s["id"], name)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.on:
                if parent is not None:
                    self.sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def dump(self, path: str) -> None:
        """Write the spans out, each job as its id."""
        with open(path, "w") as fh:
            json.dump([{**s, "jobs": [j["id"] for j in s.get("jobs", [])]}
                       for s in self.spans], fh, default=str)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, s: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"]]


# --- /proc ---------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def cpu_s(pid: int) -> tuple[float, float]:
    """(JVM CPU s, CPU s of the JVM's descendants — the Python workers).
    Descendant CPU includes children they already reaped."""
    f = _stat(pid)
    own = (int(f[11]) + int(f[12])) / CLK_TCK if f else 0.0
    kids, todo = 0.0, _children(pid)
    while todo:
        p = todo.pop()
        g = _stat(p)
        if g:
            kids += sum(int(x) for x in g[11:15]) / CLK_TCK
        todo += _children(p)
    return own, kids


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# --- event log -----------------------------------------------------------

class EventLog:
    """Jobs, stages and tasks from one application's event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if not os.path.isfile(path) or path.endswith(".crc"):
                continue
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            self.jobs[jid] = {
                "id": jid, "group": props.get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1000.0, "end": None,
                "tasks": [],
            }
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = self.stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if jid is None or not m:
                return
            info = e["Task Info"]
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            self.jobs[jid]["tasks"].append({
                "stage": e["Stage ID"],
                "ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                "records_read": m.get("Input Metrics", {}).get("Records Read", 0),
            })

    def charge(self, tracer: Tracer) -> None:
        """Attach each job to a span: by job group, else by time."""
        by_id = {s["id"]: s for s in tracer.spans}
        depth = {}
        for s in tracer.spans:
            d, p = 0, s["parent"]
            while p:
                d, p = d + 1, by_id[p]["parent"]
            depth[s["id"]] = d
        for s in tracer.spans:
            s["jobs"] = []
        for j in self.jobs.values():
            s = by_id.get(j["group"])
            if s is None:
                open_ = [s for s in tracer.spans
                         if s["start"] <= j["submit"] <= s["end"]]
                s = max(open_, key=lambda s: depth[s["id"]], default=None)
            if s is not None:
                s["jobs"].append(j)


def jobs_under(tracer: Tracer, s: dict) -> list[dict]:
    """Jobs charged to ``s`` or any of its descendants."""
    out = list(s.get("jobs", []))
    for c in tracer.children(s):
        out += jobs_under(tracer, c)
    return out


def tasks_of(jobs: list[dict]) -> list[dict]:
    return [t for j in jobs for t in j["tasks"]]


def busy_s(jobs: list[dict], start: float, end: float) -> float:
    """Length of [start, end] covered by at least one running job."""
    iv = sorted((max(j["submit"], start), min(j["end"] or end, end))
                for j in jobs)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def skew(tasks: list[dict]) -> float:
    """max ÷ median task time in the stage with the most task time."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["ms"])
    if not by_stage:
        return 0.0
    heavy = max(by_stage.values(), key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0


def call_layers(tracer: Tracer, s: dict, cores: int) -> dict:
    """The job-level split of one traced call."""
    jobs = jobs_under(tracer, s)
    tasks = tasks_of(jobs)
    wall = s["end"] - s["start"]
    job_s = sum((j["end"] or s["end"]) - j["submit"] for j in jobs)
    cpu = sum(t["cpu_ns"] for t in tasks) / 1e9
    return {
        "ms": wall * 1000.0,
        "jobs": len(jobs),
        "tasks": len(tasks),
        "driver_gap_ms": (wall - busy_s(jobs, s["start"], s["end"])) * 1000.0,
        "job_overlap": job_s / wall if wall > 0 else 0.0,
        "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6,
        "records_read": sum(t["records_read"] for t in tasks),
        "cpu_s": cpu,
        "cpu_util": cpu / (wall * cores) if wall > 0 else 0.0,
        "task_skew": skew(tasks),
    }


def engine_totals(log: EventLog) -> dict:
    tasks = tasks_of(list(log.jobs.values()))
    return {
        "executor.run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "executor.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "executor.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "shuffle.fetch_wait_ms": float(sum(t["fetch_wait_ms"] for t in tasks)),
    }
