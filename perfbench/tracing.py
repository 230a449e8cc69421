"""Measurement plumbing: in-memory spans with one Spark job group each,
Spark event-log parsing, and a process-tree RSS sampler.

Spans live only in the benchmark's own files, around calls into the
engine's public functions; nothing here reaches inside the engine.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    trace_id: str = ""


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields.

    Each span sets the SparkContext job group to its id, so every job
    the engine submits from the benchmark thread carries it in the
    event log. Jobs submitted from other threads (a streaming query's
    micro-batches) carry no group and are attributed by time to the
    innermost span open when they were submitted."""

    def __init__(self, sc, enabled: bool, trace_id: str) -> None:
        self.sc = sc
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        # epoch seconds: the clock the event log's timestamps use
        s = Span(f"s{len(self.spans)}", name, time.time(),
                 parent=parent.span_id if parent else None,
                 trace_id=self.trace_id)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.span_id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span: Span, children: list[Span]) -> float:
    covered = union_length(clipped([(c.start, c.end) for c in children],
                                   span.start, span.end))
    return (span.end - span.start) - covered


@dataclass
class Job:
    job_id: int
    submit: float
    end: float = 0.0
    group: str | None = None
    stages: list[int] = field(default_factory=list)
    span: str | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task metrics summed, from an uncompressed Spark
    event log (one JSON object per line)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a directory of rolled ``events_<n>_<app>`` files
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                            group=props.get("spark.jobGroup.id"),
                            stages=list(ev.get("Stage IDs", [])))
                    jobs[j.job_id] = j
                    for sid in j.stages:
                        stage_job[sid] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    if j is None:
                        continue
                    info = ev.get("Task Info") or {}
                    j.tasks += 1
                    if info.get("Failed") or info.get("Killed"):
                        j.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    j.run_s += m.get("Executor Run Time", 0) / 1000.0
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    j.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> None:
    """Set ``job.span``: the job group when it names a span, else the
    innermost span open at submission time."""
    ids = {s.span_id for s in spans}
    for j in jobs:
        if j.group in ids:
            j.span = j.group
            continue
        best = None
        for s in spans:
            if s.start <= j.submit <= s.end and (best is None or s.start >= best.start):
                best = s
        j.span = best.span_id if best else None


def subtree(span_id: str, spans: list[Span]) -> set[str]:
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent:
            kids.setdefault(s.parent, []).append(s.span_id)
    out, todo = set(), [span_id]
    while todo:
        x = todo.pop()
        out.add(x)
        todo.extend(kids.get(x, []))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    tail = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(tail[1])
            rss[int(d)] = int(tail[21]) * self._page
        me = os.getpid()
        tree, todo = {me}, [me]
        while todo:
            p = todo.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    todo.append(c)
        total = sum(rss.get(p, 0) for p in tree)
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)
