"""Spans around the benchmark's calls into melt_spark, plus the counters
read where the work happened.

A span is (id, parent, name, start, end). Each span that calls
into Spark runs under its own job group, so the stages its jobs ran can
be read back from Spark's in-process status store (it works with the UI
off). Spans stay in memory and are summarised when the run ends. With
tracing off every call is a no-op.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = ("tasks", "executor_run_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """Time a block, as a child of the innermost open span. With
        `jobs`, Spark jobs started inside run under the span's own job
        group."""
        if not self.enabled:
            yield None
            return
        stack = self._stack
        up = stack[-1] if stack else None
        sp = Span(next(self._ids), up.id if up else None, name,
                  time.perf_counter())
        sc = self.spark.sparkContext
        if jobs:
            sp.group = f"perfbench-{sp.id}"
            sc.setJobGroup(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if jobs:
                outer = next((s for s in reversed(stack) if s.group), None)
                if outer:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc._jsc.clearJobGroup()
            self.spans.append(sp)

    # -- summaries ------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == sp.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.seconds - covered

    def summary(self) -> dict:
        """Per span name: count, total seconds and self seconds."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            row = out.setdefault(sp.name, {"n": 0, "total_s": 0.0,
                                           "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += sp.seconds
            row["self_s"] += self.self_seconds(sp)
        return out

    def stage_totals(self, spans: list[Span]) -> dict:
        """Jobs and summed stage counters of every job run under the given
        spans' job groups (each stage counted once)."""
        sc = self.spark.sparkContext
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        jobs: set[int] = set()
        for sp in spans:
            if sp.group:
                jobs.update(tracker.getJobIdsForGroup(sp.group))
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = float(len(jobs))
        for sid in stage_ids:
            for k, v in stage_counters(store, sid).items():
                out[k] += v
        return out


def stage_counters(store, stage_id: int) -> dict:
    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # evicted from the status store
        return {}
    return {"tasks": st.numCompleteTasks(),
            "executor_run_s": st.executorRunTime() / 1000.0,
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled()}


def dir_stats(path: str, prefix: str = "") -> tuple[int, int]:
    """(files, bytes) under path whose names start with prefix."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(prefix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident set of this process plus the JVM, in MB."""
    import resource

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
