"""Spans, Spark event-log attribution and storage counters.

Spans are recorded around the benchmark's calls into the package's
public functions (never inside the package). Timings are always kept in
memory, since the end-to-end metrics are derived from them; with
tracing on, each span also tags its Spark jobs with ``setJobGroup``,
Spark's event log is enabled, and at exit every span is written out
with the task metrics of the jobs it launched.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    return sorted(xs)[max(0, math.ceil(0.9 * len(xs)) - 1)] if xs else 0.0


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``op`` is the id of the timed op under
    way (None during set-up)."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext, set once the session exists
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **counts):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 self.op, 0.0, counts=dict(counts))
        self.spans.append(s)
        self._stack.append(s)
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(f"span-{s.sid}", f"{name} op={self.op}")
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.traced and self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent.sid}",
                                        f"{parent.name} op={self.op}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def of(self, name: str, op_only: bool = True) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and (s.op is not None or not op_only)]

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == s.sid]
        return s.dur - _union_len(kids, s.start, s.end)


def _union_len(intervals: list[tuple[float, float]], lo: float,
               hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ event log --


@dataclass
class Job:
    jid: int
    submit: float          # seconds since the epoch
    end: float = 0.0
    group: str | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0     # executor run time, summed over tasks
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs with their tasks' metrics summed, from one uncompressed
    Spark event log (JSON lines)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                        group=props.get("spark.jobGroup.id"),
                        stages=list(ev.get("Stage IDs", [])))
                jobs[j.jid] = j
                for st in j.stages:
                    stage_job[st] = j.jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j.tasks += 1
                j.run_s += m.get("Executor Run Time", 0) / 1000.0
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                j.shuffle_write += (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                j.spill += m.get("Memory Bytes Spilled", 0) \
                    + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.jid)


def attribute_jobs(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """span id -> jobs whose own span it is. A job belongs to the span
    named by its job group; jobs submitted from threads the group does
    not reach (the registry's worker pool) go to the innermost span
    whose interval holds their submission time."""
    by_sid = {s.sid: s for s in tracer.spans}
    out: dict[int, list[Job]] = {s.sid: [] for s in tracer.spans}
    for j in jobs:
        sid = None
        if j.group and j.group.startswith("span-"):
            sid = int(j.group[5:])
        else:
            best = None
            for s in tracer.spans:
                if s.start <= j.submit <= s.end and \
                        (best is None or s.start >= best.start):
                    best = s
            sid = best.sid if best else None
        if sid is not None and sid in by_sid:
            out[sid].append(j)
    return out


def subtree_jobs(tracer: Tracer, owned: dict[int, list[Job]],
                 sid: int) -> list[Job]:
    kids = {s.sid: [] for s in tracer.spans}
    for s in tracer.spans:
        if s.parent is not None:
            kids[s.parent].append(s.sid)
    out, stack = [], [sid]
    while stack:
        x = stack.pop()
        out.extend(owned.get(x, []))
        stack.extend(kids[x])
    return out


def engine_metrics(s: Span, jobs: list[Job], cores: int) -> dict:
    """Spark engine counters for one span from the jobs under it."""
    wall = max(s.dur, 1e-9)
    busy = _union_len([(j.submit, j.end or s.end) for j in jobs],
                      s.start, s.end)
    run_s = sum(j.run_s for j in jobs)
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "task_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_write_mb": sum(j.shuffle_write for j in jobs) / 1e6,
        "spill_mb": sum(j.spill for j in jobs) / 1e6,
        "driver_gap_ms": (wall - busy) * 1000.0,
        "core_busy_ratio": run_s / (wall * cores),
    }


def find_event_log(log_dir: str) -> str | None:
    names = [n for n in os.listdir(log_dir)
             if not n.endswith(".inprogress")] if os.path.isdir(log_dir) \
        else []
    return os.path.join(log_dir, sorted(names)[-1]) if names else None


def write_trace(path: str, tracer: Tracer,
                owned: dict[int, list[Job]], cores: int) -> None:
    rows = []
    for s in tracer.spans:
        rows.append({
            "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
            "start": s.start, "end": s.end,
            "self_s": tracer.self_time(s), "counts": s.counts,
            "spark": engine_metrics(s, owned.get(s.sid, []), cores),
        })
    with open(path, "w") as fh:
        json.dump({"cores": cores, "spans": rows}, fh, indent=1)


# ------------------------------------------------------------ storage --


def _versions(table: str) -> list[str]:
    txn = os.path.join(table, "_txn")
    return sorted(n for n in os.listdir(txn)
                  if n.startswith("v") and n.endswith(".json")) \
        if os.path.isdir(txn) else []


def _newest_manifest(table: str) -> dict:
    with open(os.path.join(table, "_txn", _versions(table)[-1])) as fh:
        return json.load(fh)


def _seg_base(table: str, seg: dict) -> str:
    """A segment's file names are relative to its data dir."""
    return table if seg["dir"] == "." else os.path.join(table, seg["dir"])


def storage_counters(table: str) -> dict:
    """Filesystem view of one manifest table: parquet bytes and files
    on disk, live segments and their files/bytes in the newest
    manifest, and manifest versions."""
    data_bytes = data_files = 0
    for root, _dirs, files in os.walk(table):
        if os.sep + "_txn" in root + os.sep:
            continue
        for f in files:
            if f.endswith(".parquet"):
                data_files += 1
                data_bytes += os.path.getsize(os.path.join(root, f))
    versions = _versions(table)
    live_segments = live_files = live_bytes = 0
    if versions:
        for seg in _newest_manifest(table)["segments"]:
            live_segments += 1
            base = _seg_base(table, seg)
            for f in seg["files"]:
                live_files += 1
                live_bytes += os.path.getsize(os.path.join(base, f))
    return {"data_bytes": data_bytes, "data_files": data_files,
            "versions": len(versions), "live_segments": live_segments,
            "live_files": live_files, "live_bytes": live_bytes}


def scanned_segments(table: str, df) -> dict:
    """What a read of ``table`` actually scans: the parquet files of
    ``df``'s optimized plan (``inputFiles``; segments a pruned read
    drops fold away there), the newest manifest's segments, and how
    many of them hold at least one of those files."""
    from urllib.parse import unquote, urlparse

    files = {os.path.normpath(unquote(urlparse(f).path))
             for f in df.inputFiles()}
    segments = _newest_manifest(table)["segments"]
    kept = sum(
        any(os.path.normpath(os.path.join(_seg_base(table, seg), f))
            in files for f in seg["files"])
        for seg in segments)
    return {"segments": len(segments), "kept": kept, "files": len(files)}
