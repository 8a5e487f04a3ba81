"""In-memory spans, process-tree RSS sampling and Spark event-log counters.

Spans are recorded by the benchmark around its own calls into the
library's public functions; nothing inside the package is instrumented.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index of the enclosing span
    job: str | None


class Tracer:
    """Records spans in memory; ``write`` dumps them as JSON at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.job))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        """Dump every span with its self time (``self_s``)."""
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=t) for s, t in zip(self.spans, self_times(self.spans))], f)


class NullTracer:
    """The untraced runs' tracer: spans cost one no-op context manager."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (overlapping children are merged, not double-counted)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return [
        (s.end - s.start)
        - union_length((max(c.start, s.start), min(c.end, s.end)) for c in children.get(i, []))
        for i, s in enumerate(spans)
    ]


# ---------------------------------------------------------------------------
# peak RSS of this process and all its descendants
# ---------------------------------------------------------------------------


def _process_table() -> dict[int, tuple[int, int]]:
    """``{pid: (parent pid, rss bytes)}`` for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
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
        table[int(d)] = (int(stat[stat.rindex(")") + 2 :].split()[1]), pages * page)
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _process_table() if table is None else table
    out = []
    for pid in table:
        p = pid
        while p and p != root:
            p = table.get(p, (0, 0))[0]
        if p == root and pid != root:
            out.append(pid)
    return out


def _tree_rss_bytes(root: int) -> int:
    table = _process_table()
    return table.get(root, (0, 0))[1] + sum(table[p][1] for p in descendants(root, table))


class RssSampler:
    """Samples the process tree's summed RSS on a daemon thread and keeps
    one peak per window; ``window()`` starts the next one (one per job)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peaks: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._lock = threading.Lock()

    def _sample(self) -> None:
        rss = _tree_rss_bytes(os.getpid())
        with self._lock:
            if self.peaks:
                self.peaks[-1] = max(self.peaks[-1], rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def window(self) -> None:
        with self._lock:
            self.peaks.append(0)
        self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, uncompressed) application log in ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    events = []
    for name in files:
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def job_group_counters(events: list[dict], group: str, start: float, end: float) -> dict:
    """Engine counters for the Spark jobs of one job group, whose client
    call ran from ``start`` to ``end`` (epoch seconds)."""
    jobs, stage_of_job = [], {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") == group:
                jobs.append(e)
                for sid in e["Stage IDs"]:
                    stage_of_job[sid] = e["Job ID"]
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_of_job and "Submission Time" in info:
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = info
        elif e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_of_job:
            tasks.append(e)

    def tm(t, key, sub=None):
        m = t.get("Task Metrics") or {}
        return (m.get(key) or {}).get(sub, 0) if sub else m.get(key, 0)

    run = sum(tm(t, "Executor Run Time") for t in tasks) / 1e3
    cpu = sum(tm(t, "Executor CPU Time") for t in tasks) / 1e9
    busy = union_length(
        (max(t["Task Info"]["Launch Time"] / 1e3, start), min(t["Task Info"]["Finish Time"] / 1e3, end))
        for t in tasks
    )

    skew = 1.0
    if stages:
        longest = max(stages.values(), key=lambda s: s["Completion Time"] - s["Submission Time"])
        durs = [
            t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
            for t in tasks
            if t["Stage ID"] == longest["Stage ID"]
        ]
        med = statistics.median(durs) if durs else 0
        skew = max(durs) / med if med > 0 else 1.0
    first_submit = min((j["Submission Time"] for j in jobs), default=end * 1e3) / 1e3
    return {
        "driver.plan_s": first_submit - start,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.idle_s": (end - start) - busy,
        "spark.executor_run_s": run,
        "spark.executor_cpu_s": cpu,
        "spark.non_jvm_s": run - cpu,
        "spark.shuffle_write_mb": sum(tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks) / 1e6,
        "spark.shuffle_read_mb": sum(
            tm(t, "Shuffle Read Metrics", "Remote Bytes Read") + tm(t, "Shuffle Read Metrics", "Local Bytes Read")
            for t in tasks
        )
        / 1e6,
        "spark.spill_mb": sum(tm(t, "Disk Bytes Spilled") for t in tasks) / 1e6,
        "spark.gc_s": sum(tm(t, "JVM GC Time") for t in tasks) / 1e3,
        "spark.peak_exec_mem_mb": max((tm(t, "Peak Execution Memory") for t in tasks), default=0) / 1e6,
        "spark.task_skew": skew,
    }
