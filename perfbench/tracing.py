"""Spans, host stamps and Spark's own statistics for the benchmark.

Three sources feed the per-layer numbers:

- ``Tracer`` spans the benchmark records around its calls into the
  package (name, start, end, parent, operation id), kept in memory and
  written out once at the end of a run;
- ``StreamProgress``, a ``StreamingQueryListener`` that keeps every
  query progress report;
- ``read_event_log``, which folds Spark's uncompressed event log into
  per-job totals (task run/CPU/GC time, bytes read, shuffled, spilled).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

OP_PROPERTY = "perfbench.op"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans nest through ``with`` blocks."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.time(), parent=parent, op=op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = union_length(
                [(c.start, c.end) for c in children.get(i, [])], s.start, s.end
            )
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans],
                 "self_s": self.self_times(), **extra},
                f,
                indent=1,
            )


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- host --------------------------------------------------------------
def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def file_sizes(root: str) -> dict[str, int]:
    """Bytes per data file under ``root``, leaving out hidden and
    marker files (``.crc``, ``_SUCCESS``); empty when it does not exist."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


# -- streaming listener -------------------------------------------------
def make_stream_listener():
    """A ``StreamingQueryListener`` that stores every progress report
    as a dict and counts query terminations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.terminated = 0
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self.terminated += 1

        def wait_terminated(self, n: int, timeout: float = 5.0) -> None:
            """Listener events arrive asynchronously; wait for the n-th
            termination so every progress report of a call is in."""
            deadline = time.time() + timeout
            while self.terminated < n and time.time() < deadline:
                time.sleep(0.01)

    return StreamProgress()


# -- event log ---------------------------------------------------------
@dataclass
class Job:
    job_id: int
    start: float
    end: float = 0.0
    op: str | None = None
    batch_id: str | None = None
    stages: list[int] = field(default_factory=list)
    ran_stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_b: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    peak_exec_mem_b: int = 0


def job_summary(j: Job) -> dict:
    d = asdict(j)
    d["ran_stages"] = sorted(j.ran_stages)
    return d


def read_event_log(log_dir: str, app_id: str) -> list[Job]:
    """Per-job totals from the application's event log, with each job's
    operation id (``OP_PROPERTY``) and streaming batch id."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, app_id)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000.0,
                    op=props.get(OP_PROPERTY),
                    batch_id=props.get("streaming.sql.batchId"),
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[j.job_id] = j
                for sid in j.stages:
                    stage_job[sid] = j.job_id
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j.tasks += 1
                j.ran_stages.add(ev["Stage ID"])
                j.run_s += m.get("Executor Run Time", 0) / 1000.0
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                j.input_b += m.get("Input Metrics", {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics", {})
                j.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                j.shuffle_write_b += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                j.spill_b += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                j.peak_exec_mem_b = max(
                    j.peak_exec_mem_b, m.get("Peak Execution Memory", 0)
                )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def assign_jobs(jobs: list[Job], ops: list[Span]) -> dict[str, list[Job]]:
    """Jobs per operation id: by the job's op property where it carries
    one, else by the op span that contains the job's submission."""
    out: dict[str, list[Job]] = {o.op: [] for o in ops}
    for j in jobs:
        op = j.op if j.op in out else None
        if op is None:
            op = next((o.op for o in ops if o.start <= j.start <= o.end), None)
        if op is not None:
            out[op].append(j)
    return out
