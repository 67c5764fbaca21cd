"""Measurement helpers: statistics, process-tree RSS and CPU time, spans and
the Spark event-log summary. Nothing here imports Spark."""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least 10 samples
    beyond it: the (n-10)-th smallest of n samples, at percentile 100*(n-10)/n.
    None when fewer than 11 samples leave no such percentile."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


# --- process-tree resident memory and CPU time -----------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root_pid: int | None):
    """``root_pid`` (default: this process) and all its descendants."""
    kids = _children()
    stack = [root_pid or os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        yield pid


def tree_rss_mb(root_pid: int | None = None) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB (10^6 B)."""
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb * 1024 / 1e6


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) used by ``root_pid`` and its descendants,
    counting reaped children through their parents, so the total does not
    drop when a worker process exits. Time the host gives other guests
    (steal) is not included."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime, stime, cutime, cstime
    return ticks / _TICK


class RssSampler:
    """Samples the process tree's RSS on a background thread while active;
    ``peak_mb`` is the largest sample taken inside ``with sampler:`` blocks."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._active.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self):
        self._active.set()
        return self

    def __exit__(self, *exc):
        self._active.clear()
        return False

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    pass_id: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans recorded by the benchmark around its own calls into the program;
    kept in memory and written once with ``dump``."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        s = Span(name, time.time(), math.nan, self._stack[-1] if self._stack else None, pass_id)
        self._stack.append(name)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=0)


# --- Spark event log ---------------------------------------------------------


class EventLog:
    """Spark's own event-log writer, attached to a running session's listener
    bus only while traced work runs, so untraced and traced passes can
    alternate in one JVM. Takes the PySpark ``SparkContext``; writes one
    uncompressed log file into ``log_dir``."""

    def __init__(self, sc, log_dir: str):
        os.makedirs(log_dir)
        self.dir = log_dir
        jsc = sc._jsc.sc()
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false").set("spark.eventLog.rolling.enabled", "false")
        self._bus = jsc.listenerBus()
        self._listener = sc._jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(),
            jsc.applicationAttemptId(),
            sc._jvm.java.net.URI("file://" + log_dir),
            conf,
            jsc.hadoopConfiguration(),
        )
        self._listener.start()

    @contextmanager
    def attached(self):
        self._bus.addToEventLogQueue(self._listener)
        try:
            yield self
        finally:
            self._bus.waitUntilEmpty()  # deliver every event posted inside the block
            self._bus.removeListener(self._listener)

    def close(self) -> None:
        self._listener.stop()


@dataclass
class SparkWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def read_event_log(log_dir: str) -> tuple[list[float], list[dict]]:
    """(job submission times, task records) from the one application log in
    ``log_dir``; times are epoch seconds."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    jobs, tasks = [], []
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append(
                    {
                        "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                        "launch": ev["Task Info"]["Launch Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "shuffle_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return jobs, tasks


def spark_work(jobs: list[float], tasks: list[dict], span: Span) -> SparkWork:
    """Spark work attributed to ``span`` by time: jobs submitted and tasks
    launched inside it. The benchmark makes its traced calls one at a time,
    so the windows do not overlap. (Job descriptions cannot be used: the
    pipeline submits its sink writes from its own threads, which do not
    inherit the caller's description.)"""
    inside = [t for t in tasks if span.start <= t["launch"] <= span.end]
    return SparkWork(
        jobs=sum(span.start <= j <= span.end for j in jobs),
        stages=len({t["stage"] for t in inside}),
        tasks=len(inside),
        task_s=sum(t["run_s"] for t in inside),
        shuffle_write_mb=sum(t["shuffle_bytes"] for t in inside) / 1e6,
        spill_mb=sum(t["spill_bytes"] for t in inside) / 1e6,
    )
