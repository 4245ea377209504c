"""Spans, Spark job attribution and the event-log reader of a traced run.

Spans are kept in memory and written out when the run ends. Each has a
name, a layer, start and end (wall-clock seconds), a parent and an op
id; a query span carries the Spark job group the runner set for it.
Spark jobs and stages are read back from the event log after the
session stops and become child spans of the span that ran them: by job
group for query spans, by time window for everything else. A span's
self time is its duration minus the union of its children's intervals.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, time.time(), parent=parent)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, op: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, layer, start, end, parent, op, attrs=attrs))
        return len(self.spans) - 1

    def self_times(self) -> list[float]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(kids.get(i, [])):
                lo, hi = max(lo, s.start), min(hi, s.end)
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
            out.append(max(0.0, s.dur - covered))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for i, (s, st) in enumerate(zip(self.spans, selfs)):
                fh.write(json.dumps({"id": i, **asdict(s), "self": st}) + "\n")


# --- event log -----------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class StageRec:
    sid: int
    submitted: float = 0.0
    completed: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_bytes: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    fetch_wait_s: float = 0.0
    spill: int = 0
    max_task_s: float = 0.0
    py_sent: int = 0
    py_returned: int = 0


@dataclass
class JobRec:
    jid: int
    group: str | None
    submitted: float
    completed: float = 0.0
    stages: list[int] = field(default_factory=list)


def read_event_log(log_dir: str) -> tuple[dict[int, JobRec], dict[int, StageRec], int]:
    """Jobs and stages (with summed task metrics) of the one application
    logged under ``log_dir``; also returns the log's size in bytes."""
    # rolling event logs are a directory of ``events_*`` files
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus"))
    jobs: dict[int, JobRec] = {}
    stages: dict[int, StageRec] = {}
    size = 0
    for path in files:
        size += os.path.getsize(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = JobRec(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0, stages=list(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], StageRec(info["Stage ID"]))
                    st.submitted = info.get("Submission Time", 0) / 1000.0
                    st.completed = info.get("Completion Time", 0) / 1000.0
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PY_SENT:
                            st.py_sent += int(acc.get("Value", 0))
                        elif acc.get("Name") == PY_RETURNED:
                            st.py_returned += int(acc.get("Value", 0))
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], StageRec(ev["Stage ID"])), ev)
    return jobs, stages, size


def _add_task(st: StageRec, ev: dict) -> None:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    st.tasks += 1
    st.max_task_s = max(st.max_task_s, (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
    st.run_s += m.get("Executor Run Time", 0) / 1000.0
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
    st.scan_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def attach_jobs(tracer: Tracer, jobs: dict[int, JobRec], stages: dict[int, StageRec]) -> None:
    """Add every Spark job as a child span of the benchmark span that ran
    it: the query span whose job group it carries, else the innermost
    span whose interval holds the job's submission time."""
    by_group = {s.group: i for i, s in enumerate(tracer.spans) if s.group}
    base = list(enumerate(tracer.spans))
    for j in sorted(jobs.values(), key=lambda j: j.jid):
        parent = by_group.get(j.group)
        if parent is not None:
            # the plan or exec child of the query span holding the job
            for i, s in base:
                if s.parent == parent and s.start <= j.submitted <= s.end:
                    parent = i
                    break
        else:
            holding = [(s.dur, i) for i, s in base if s.start <= j.submitted <= s.end]
            parent = min(holding)[1] if holding else None
        if parent is None:
            continue
        end = j.completed or j.submitted
        st = [stages[s] for s in j.stages if s in stages and stages[s].tasks]
        tracer.add(f"job{j.jid}", "spark", j.submitted, end, parent, op=j.jid,
                   stages=len(st), tasks=sum(s.tasks for s in st))


def span_spark_metrics(span_ids: list[int], tracer: Tracer, jobs: dict[int, JobRec],
                       stages: dict[int, StageRec]) -> dict[str, float]:
    """Summed stage metrics of the Spark jobs below ``span_ids``; a stage
    listed by several jobs (AQE re-plans, skipped stages) counts once."""
    below = set(span_ids)
    for i, s in enumerate(tracer.spans):  # parents precede children
        if s.parent in below:
            below.add(i)
    out = dict(scan=0.0, sw=0.0, sr=0.0, fw=0.0, ps=0.0, pr=0.0, run=0.0, cpu=0.0,
               gc=0.0, spill=0.0, crit=0.0, final=0.0)
    seen: set[int] = set()
    last_end = -1.0
    for i in sorted(below):
        s = tracer.spans[i]
        if s.layer != "spark":
            continue
        sts = [stages[x] for x in jobs[s.op].stages if x in stages and stages[x].tasks]
        if sts and s.end >= last_end:
            # the last stage of the span's last job: the top-k merge
            last_end = s.end
            last = max(sts, key=lambda x: x.completed)
            out["final"] = last.completed - last.submitted
        for st in sts:
            if st.sid in seen:
                continue
            seen.add(st.sid)
            out["scan"] += st.scan_bytes
            out["sw"] += st.shuffle_write
            out["sr"] += st.shuffle_read
            out["fw"] += st.fetch_wait_s
            out["ps"] += st.py_sent
            out["pr"] += st.py_returned
            out["run"] += st.run_s
            out["cpu"] += st.cpu_s
            out["gc"] += st.gc_s
            out["spill"] += st.spill
            out["crit"] += st.max_task_s
    return out
