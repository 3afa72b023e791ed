"""Tracing helpers for the traced run: in-memory spans around public
calls, a process-tree RSS sampler, and Spark event-log folding.

Nothing here patches a module: spans wrap bound methods of objects the
benchmark itself created (``wrap``), so the program under test runs
unchanged.  Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Flat list of spans ``{id, name, start, end, parent}`` (epoch s)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.parent: int | None = None  # id of the open round span
        self._next = 0
        self._lock = threading.Lock()

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def span(self, name: str, fn, *args, **kw):
        """Run ``fn`` inside a span under the open scope."""
        rec = {"id": self._new_id(), "name": name, "parent": self.parent,
               "start": time.time()}
        try:
            return fn(*args, **kw)
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)  # list.append is atomic under the GIL

    @contextmanager
    def scope(self, name: str):
        """A span that is the parent of every span recorded inside it,
        from any thread (one scope is open at a time: a round)."""
        rec = {"id": self._new_id(), "name": name, "parent": self.parent,
               "start": time.time()}
        prev, self.parent = self.parent, rec["id"]
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.parent = prev
            self.spans.append(rec)

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` (an instance attribute shadowing the
        class method) with a span-recording call-through."""
        inner = getattr(obj, method)

        def traced(*args, **kw):
            return self.span(name, inner, *args, **kw)

        setattr(obj, method, traced)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, parent_id: int, prefix: str = "") -> list[dict]:
        return [
            s for s in self.spans
            if s["parent"] == parent_id and s["name"].startswith(prefix)
        ]


def union_s(spans: list[dict]) -> float:
    """Length of the union of the spans' intervals: the wall the spans
    cover, counting concurrent spans once."""
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda x: x["start"]):
        if cur_e is None or s["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s["start"], s["end"]
        else:
            cur_e = max(cur_e, s["end"])
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ memory
def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants (/proc)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                resident = int(f.read().split()[1])
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = resident * page
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Background sampler of the process tree's RSS; ``peak_mb`` after
    ``stop()``.  Used as a context manager around the measured pass."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ------------------------------------------------------------ event log
def read_event_log(event_dir: str) -> list[dict]:
    """Events of every application logged in ``event_dir`` (call after
    the last session stopped, so each log is complete).  Spark 4 writes
    each application as an ``eventlog_v2_<app>`` directory of
    ``events_<n>_<app>`` parts."""
    events = []
    for app in sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*"))):
        parts = sorted(glob.glob(os.path.join(app, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        for p in parts:
            with open(p) as f:
                events += [json.loads(line) for line in f if line.strip()]
    return events


def session_metrics(events: list[dict], t0: float, t1: float) -> dict:
    """Fold task-end events whose task launched in ``[t0, t1]`` (epoch
    s): GC seconds, shuffle read+write bytes, spilled bytes, and the
    skew of the stage with the most task time (max over p50)."""
    gc_ms = shuffle = spill = 0
    by_stage: dict[int, list[int]] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
        launch = info.get("Launch Time", 0) / 1000.0
        if not t0 <= launch <= t1:
            continue
        gc_ms += m.get("JVM GC Time", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        shuffle += (
            rd.get("Remote Bytes Read", 0)
            + rd.get("Local Bytes Read", 0)
            + wr.get("Shuffle Bytes Written", 0)
        )
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        by_stage.setdefault(e.get("Stage ID", -1), []).append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0)
        )
    skew = 1.0
    if by_stage:
        biggest = max(by_stage.values(), key=sum)
        p50 = statistics.median(biggest)
        skew = max(biggest) / p50 if p50 > 0 else 1.0
    return {
        "session.gc_s": gc_ms / 1000.0,
        "session.shuffle_bytes": shuffle,
        "session.spill_bytes": spill,
        "session.task_skew": skew,
    }


def job_starts(events: list[dict]) -> list[float]:
    """Submission times (epoch s) of every job in the log."""
    return [
        e["Submission Time"] / 1000.0
        for e in events
        if e.get("Event") == "SparkListenerJobStart" and "Submission Time" in e
    ]
