"""In-memory span recorder and Spark event-log attribution.

A span is (id, name, layer, start, end, parent, run id). The benchmark
opens one around each call it makes into a layer of the program, either
directly (``with tracer.span(...)``) or by wrapping a public function at
its module boundary (``tracer.wrap``). Each span also sets a Spark job
group named after its id, so the jobs it triggers can be attributed from
the event log afterwards; jobs submitted from other threads (the
streaming micro-batch callback) fall back to the innermost span open at
their submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    layer: str | None
    start: float
    end: float | None
    parent: int | None
    run: str


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it covered by child spans
    (overlapping children are counted once)."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, run_id: str, enabled: bool, spark_context=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        outer = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        s = Span(next(self._ids), name, layer, time.time(), None, outer.id if outer else None, self.run_id)
        self.spans.append(s)
        stack.append(s)
        # job groups are set from the main thread only: the streaming
        # callback thread's jobs carry Spark's own local properties
        grouped = self.sc is not None and stack is self._main_stack
        if grouped:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if grouped:
                if stack:
                    self.sc.setJobGroup(f"{GROUP_PREFIX}{stack[-1].id}", stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` by a wrapper that opens a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def dump(self, path: str) -> None:
        kids = self.children()
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = self_time(s, kids.get(s.id, []))
                f.write(json.dumps(row) + "\n")


@dataclass
class Job:
    id: int
    submitted: float
    group: str | None
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their summed task counters from the uncompressed Spark
    JSON event log files under ``log_dir`` (rolling or single-file)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000, props.get("spark.jobGroup.id"))
                    jobs[j.id] = j
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = j.id
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.task_s += m.get("Executor Run Time", 0) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Span id → jobs it triggered: by job group when the job carries
    one of ours, else the innermost span open at submission time."""
    by_id = {s.id: s for s in spans}
    out: dict[int, list[Job]] = {}
    for j in jobs:
        sid = None
        if j.group and j.group.startswith(GROUP_PREFIX):
            sid = int(j.group[len(GROUP_PREFIX):])
        if sid not in by_id:
            open_ = [s for s in spans if s.start <= j.submitted <= (s.end or j.submitted)]
            sid = max(open_, key=lambda s: s.start).id if open_ else None
        if sid is not None:
            out.setdefault(sid, []).append(j)
    return out
