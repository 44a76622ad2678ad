"""Spark event log → per-layer ledger.

Jobs are read from the event log (``spark.eventLog.enabled``; it works
with the UI off). Each job carries the id of the span that triggered it
(the ``kgbench.span`` local property). Task time, shuffle bytes, input
records, GC time and spill of every task are summed onto the first job
that lists the task's stage.

Spark plans are lazy, so a job usually executes more than the span that
triggered it: it runs every lazily built layer whose output it is the
first to consume. Such a job is reported as a *fused group*: the layers
that returned a frame since the previous job, plus the innermost layer
span around the job. All jobs of one SQL execution (adaptive execution
runs each query stage as its own job) share the group of its first job. The group's cost is credited to the group's
downstream end (the last layer in it that is not a materialization
boundary) and the group is printed whole, never split by guess.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .trace import BOUNDARY, LAYER, SPAN_PROP

MB = float(1 << 20)


@dataclass
class Job:
    id: int
    span: int | None
    submit: float
    end: float = 0.0
    execution: str | None = None   # SQL execution id
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    records_in: int = 0


def _events(path: str):
    """Events of one application's log: a plain file, or a rolling-log
    directory (``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = [path]
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in
                 sorted(parts, key=lambda f: int(f.split("_")[1]))]
    for name in files:
        with open(name) as fh:
            for line in fh:
                yield json.loads(line)


def find_log(log_dir: str, app_id: str) -> str:
    """The event log of ``app_id`` under ``log_dir``."""
    for name in sorted(os.listdir(log_dir)):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_jobs(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROP)
            job = Job(ev["Job ID"], int(span) if span else None,
                      ev["Submission Time"] / 1000.0,
                      stages=list(ev.get("Stage IDs", [])),
                      execution=props.get("spark.sql.execution.id"))
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            sw = m.get("Shuffle Write Metrics", {})
            job.tasks += 1
            job.task_s += m.get("Executor Run Time", 0) / 1000.0
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            job.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            job.records_in += m.get("Input Metrics", {}).get(
                "Records Read", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


@dataclass
class Attributed:
    job: Job
    group: tuple[str, ...]
    credit: str


def attribute(spans, jobs: list[Job]) -> list[Attributed]:
    """Assign each job that a span triggered to its fused group."""
    by_id = {s.id: s for s in spans}
    kind_of = {s.name: s.kind for s in spans}

    def nearest_layer(s):
        while s is not None and s.kind not in (LAYER, BOUNDARY):
            s = by_id.get(s.parent)
        return s

    # Layer exits sort before jobs submitted in the same millisecond.
    timeline = sorted(
        [(int(s.t1 * 1000), 0, s) for s in spans if s.kind == LAYER]
        + [(int(j.submit * 1000), 1, j) for j in jobs if j.span in by_id],
        key=lambda x: (x[0], x[1]))
    pending: list[str] = []
    last: tuple[str, ...] = ()
    by_execution: dict[str, Attributed] = {}
    out = []
    for _, is_job, x in timeline:
        if not is_job:
            if x.name not in pending:
                pending.append(x.name)
            continue
        first = by_execution.get(x.execution)
        if first is not None:
            out.append(Attributed(x, first.group, first.credit))
            continue
        span = by_id[x.span]
        layer = nearest_layer(span)
        names = list(pending)
        if layer is not None and layer.name not in names:
            names.append(layer.name)
        if pending or layer is not None:
            group = tuple(names)
        else:
            group = last or (span.name,)
        pending = []
        last = group
        layers = [n for n in group if kind_of.get(n) == LAYER]
        out.append(Attributed(x, group, layers[-1] if layers else group[-1]))
        if x.execution is not None:
            by_execution[x.execution] = out[-1]
    return out


def self_times(spans) -> dict[int, float]:
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent in child:
            child[s.parent] += s.dur
    return {s.id: s.dur - child[s.id] for s in spans}


def _inside(span_id, name: str, by_id) -> bool:
    s = by_id.get(span_id)
    while s is not None:
        if s.name == name:
            return True
        s = by_id.get(s.parent)
    return False


def layer_table(spans, attributed: list[Attributed]) -> dict[str, dict]:
    """Per credited layer: wall_s (own span self time plus the wall of
    credited jobs run outside its spans), task_s, shuffle_mb, gc_s,
    spill_mb, jobs."""
    by_id = {s.id: s for s in spans}
    selft = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        if s.kind in (LAYER, BOUNDARY):
            row = table.setdefault(s.name, _empty())
            row["self_s"] += selft[s.id]
    outside: dict[str, list] = {}
    for a in attributed:
        row = table.setdefault(a.credit, _empty())
        j = a.job
        row["jobs"] += 1
        row["task_s"] += j.task_s
        row["shuffle_mb"] += j.shuffle_write_mb
        row["gc_s"] += j.gc_s
        row["spill_mb"] += j.spill_mb
        if not _inside(j.span, a.credit, by_id):
            outside.setdefault(a.credit, []).append((j.submit, j.end))
    for name, row in table.items():
        row["wall_s"] = row["self_s"] + union_s(outside.get(name, []))
    return table


def group_table(attributed: list[Attributed]) -> list[dict]:
    groups: dict[tuple, dict] = {}
    spans_of: dict[tuple, list] = {}
    for a in attributed:
        g = groups.setdefault(
            a.group, dict(_empty(), credit=a.credit, records_in=0))
        j = a.job
        g["jobs"] += 1
        g["task_s"] += j.task_s
        g["shuffle_mb"] += j.shuffle_write_mb
        g["gc_s"] += j.gc_s
        g["spill_mb"] += j.spill_mb
        g["records_in"] += j.records_in
        spans_of.setdefault(a.group, []).append((j.submit, j.end))
    for key, g in groups.items():
        g["group"] = "+".join(key)
        g["wall_s"] = union_s(spans_of[key])
    return list(groups.values())


def driver_s(root, jobs: list[Job]) -> float:
    """Wall time of ``root`` during which none of ``jobs`` ran."""
    iv = [(max(j.submit, root.t0), min(j.end, root.t1)) for j in jobs
          if j.end > root.t0 and j.submit < root.t1]
    return root.dur - union_s(iv)


def _empty() -> dict:
    return {"self_s": 0.0, "wall_s": 0.0, "jobs": 0, "task_s": 0.0,
            "shuffle_mb": 0.0, "gc_s": 0.0, "spill_mb": 0.0}
