"""Measurement from outside the engine: spans, process memory, Spark's
event log and codegen counters.

Nothing here touches engine code. Spans are recorded around the
benchmark's own calls into public functions; Spark's side is read from
the uncompressed, non-rolling event log it writes when tracing is on.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder; ``dump`` writes them out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def timed(self, name: str, fn, *args) -> float:
        """Run ``fn(*args)`` inside a span; returns its duration."""
        t0 = time.time()
        fn(*args)
        self.spans.append(Span(name, t0, time.time()))
        return self.spans[-1].dur

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def high_percentile(xs: list[float]) -> tuple[str, float] | None:
    """The highest of p90/p99/p99.9 (nearest rank) with at least ten
    samples beyond it."""
    n, s = len(xs), sorted(xs)
    best = None
    for label, per_mille in (("p90", 900), ("p99", 990), ("p99.9", 999)):
        rank = -(-n * per_mille // 1000)
        if n - rank >= 10:
            best = (label, s[rank - 1])
    return best


# ------------------------------------------------------------- process memory


def process_tree(root: int) -> dict[int, int]:
    """RSS in bytes of ``root`` and every process descended from it."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children[ppid].append(int(d))
        rss[int(d)] = pages * page
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        out[p] = rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return out


class PeakRss:
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) every ``period`` seconds. The scan of /proc
    holds the driver's interpreter lock, so it runs seldom; the JVM heap
    is touched at start, so its resident size does not move between
    samples."""

    def __init__(self, period: float = 1.0) -> None:
        self.period = period
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return max(self.samples, default=0)

    def restart(self) -> None:
        """Forget what was sampled so far."""
        self.samples = []

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples.append(sum(process_tree(me).values()))
            self._stop.wait(self.period)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------ codegen counters


class Codegen:
    """Whole-stage codegen compile counters of the driver JVM
    (``CodegenMetrics``; in local mode every task compiles there too)."""

    def __init__(self, spark) -> None:
        self._cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read(self) -> tuple[float, int]:
        h = self._cm.METRIC_COMPILATION_TIME()
        n = int(h.getCount())
        return float(h.getSnapshot().getMean()) * n, n


# ------------------------------------------------------------------ event log

# where a write execution lands decides its crawl phase
PHASES = (
    ("fetch_parse", re.compile(r"/results/")),
    ("dedup_enqueue", re.compile(r"/pending(_add)?/")),
    ("seen_write", re.compile(r"/seen/")),
    ("bloom_write", re.compile(r"/bloom/")),
)
_WRITE_ARGS = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\n]+)"
)


@dataclass
class Task:
    job: int
    launch: float
    finish: float
    gc: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    output: int
    python_bytes: int


def _phase_of(plan: str) -> str | None:
    for path in _WRITE_ARGS.findall(plan):
        for phase, rx in PHASES:
            if rx.search(path + "/"):
                return phase
    return None


class EventLog:
    """Jobs, tasks and SQL executions of one application's event log."""

    def __init__(self, path: str) -> None:
        self.exec_phase: dict[int, str | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.job_submit: dict[int, float] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[Task] = []
        self.stages_run: dict[int, int] = {}  # stage -> job, stages with tasks
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart"):
            self.exec_phase[ev["executionId"]] = _phase_of(ev.get("physicalPlanDescription", ""))
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            self.job_exec[jid] = int(eid) if eid is not None else None
            self.job_submit[jid] = ev["Submission Time"] / 1000.0
            for s in ev["Stage Infos"]:
                self.stage_job[s["Stage ID"]] = jid
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            job = self.stage_job.get(ev["Stage ID"], -1)
            self.stages_run[ev["Stage ID"]] = job
            sr = m.get("Shuffle Read Metrics", {})
            py = sum(
                int(a.get("Update") or 0)
                for a in info.get("Accumulables", ())
                if a.get("Name") == "data sent to Python workers"
            )
            self.tasks.append(
                Task(
                    job=job,
                    launch=info["Launch Time"] / 1000.0,
                    finish=info["Finish Time"] / 1000.0,
                    gc=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                    output=m.get("Output Metrics", {}).get("Bytes Written", 0),
                    python_bytes=py,
                )
            )

    def phase_of_job(self, job: int) -> str | None:
        eid = self.job_exec.get(job)
        return self.exec_phase.get(eid) if eid is not None else None

    def window(self, t0: float, t1: float) -> dict:
        """Work whose job was submitted inside [t0, t1]: job, stage and task
        counts, task-busy time per phase, and the wall with no task running."""
        jobs = {j for j, t in self.job_submit.items() if t0 <= t <= t1}
        tasks = [t for t in self.tasks if t.job in jobs]
        stages = {s for s, j in self.stages_run.items() if j in jobs}
        busy_by_phase: dict[str | None, float] = defaultdict(float)
        py_fetch = 0
        for t in tasks:
            ph = self.phase_of_job(t.job)
            busy_by_phase[ph] += t.finish - t.launch
            if ph == "fetch_parse":
                py_fetch += t.python_bytes
        covered, end = 0.0, t0
        for a, b in sorted((max(t.launch, t0), min(t.finish, t1)) for t in tasks):
            if b <= end:
                continue
            covered += b - max(a, end)
            end = b
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "busy": sum(busy_by_phase.values()),
            "busy_by_phase": dict(busy_by_phase),
            "serial": max(0.0, (t1 - t0) - covered),
            "gc": sum(t.gc for t in tasks),
            "shuffle_write": sum(t.shuffle_write for t in tasks),
            "shuffle_read": sum(t.shuffle_read for t in tasks),
            "spill": sum(t.spill for t in tasks),
            "output": sum(t.output for t in tasks),
            "python_bytes_fetch": py_fetch,
        }


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
