"""Spans, Spark status-store counters and process-tree memory for the
benchmark. Everything here observes the program from outside: spans wrap
calls into the layers' public functions, counters come from Spark's own
status store, memory from /proc.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and s.start >= since]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0


def job_group_counters(spark, group: str) -> Counters:
    """Sum the status store's figures over the completed stages of every job
    run under ``group`` (skipped stages did no work)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    c = Counters()
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        c.jobs += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage never submitted has no data
                continue
            if str(st.status()) != "COMPLETE":
                continue
            c.stages += 1
            c.tasks += st.numTasks()
            c.run_s += st.executorRunTime() / 1000.0
            c.gc_s += st.jvmGcTime() / 1000.0
            c.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
    return c


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def peak_rss_by_process(root: int) -> list[tuple[str, float]]:
    """Each live process of the tree with its peak resident set (VmHWM), MB."""
    out = []
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
            out.append((fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024.0))
        except (OSError, KeyError):
            continue
    return out
