"""Tracing from outside the program: spans, job counts, the Spark event
log, and process-tree memory.

Nothing here touches package code.  Spans are kept in memory and written
once, at exit.  Jobs are attributed with Spark job groups and counted with
``statusTracker``; task-level accounting (run/CPU/GC time, shuffle, spill)
is parsed offline from the JSON event log that the benchmark's own
``spark-defaults.conf`` enables.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: job groups the benchmark sets start with this, so the event-log parser
#: can tell the workload's jobs from warm-up and probe jobs
GROUP_PREFIX = "perfbench|"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    jobs: int = 0
    span_id: int = 0


@dataclass
class Tracer:
    """Job-group spans around each operation phase of a traced cycle."""

    sc: object
    spans: list[Span] = field(default_factory=list)

    def span(self, name: str, trace: str, parent: int | None, fn, *args):
        """Run ``fn(*args)`` under a fresh job group; record a span with the
        number of Spark jobs the call launched.  Returns (result, span)."""
        group = f"{GROUP_PREFIX}{trace}|{name}"
        t0 = time.perf_counter()
        with job_group(self.sc, group):
            out = fn(*args)
        t1 = time.perf_counter()
        sp = Span(name, t0, t1, parent, trace, jobs=jobs_in_group(self.sc, group),
                  span_id=len(self.spans) + 1)
        self.spans.append(sp)
        return out, sp

    def open(self, name: str, trace: str, parent: int | None = None) -> Span:
        sp = Span(name, time.perf_counter(), 0.0, parent, trace,
                  span_id=len(self.spans) + 1)
        self.spans.append(sp)
        return sp

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@contextmanager
def job_group(sc, group: str):
    """Tag every Spark job this thread launches inside the block."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_in_group(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


# -- event log -----------------------------------------------------------------


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


def parse_event_log(directory: str) -> dict[str, StageTotals]:
    """Task totals per job group from every event log under ``directory``
    (Spark 4 writes rolling logs: one ``eventlog_v2_*`` directory of
    ``events_*`` files per application).  Tasks of stages submitted
    outside a job group are filed under the empty group."""
    out: dict[str, StageTotals] = {}
    stage_group: dict[tuple[str, int], str] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*", "events_*"))):
        app = os.path.basename(os.path.dirname(path))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[app, sid] = props.get("spark.jobGroup.id") or ""
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((app, ev["Stage ID"]), "")
                    _add_task(out.setdefault(group, StageTotals()), ev)
    return out


def _add_task(t: StageTotals, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    t.tasks += 1
    run_ms = m.get("Executor Run Time", 0)
    t.run_s += run_ms / 1e3
    t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    t.gc_s += m.get("JVM GC Time", 0) / 1e3
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (run_ms + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0))
    t.scheduler_delay_s += max(0, duration - overhead) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    t.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


# -- memory --------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of this process and all its descendants (the
    JVM and the Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me] + descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
