"""Spans recorded by the benchmark, and Spark's event log read back.

A traced run wraps each call into a library layer in a span (name, start,
end, parent, op id), keeps the spans in memory and writes them out when
the run ends. A layer's self time is its span minus the part of it that
its child spans cover.

Spark's event log (switched on through configuration, never through the
library) gives what happens inside the jobs: Python-worker boundary
metrics, shuffle writes, GC and task times. Every op runs under its own
job group, so each job, and each task of it, maps back to one op.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None          # index of the enclosing span
    op: str | None


class Tracer:
    """In-memory span recorder; disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self.counts: dict[tuple[str | None, str], float] = {}
        self._open: list[int] = []

    def count(self, name: str, value: float) -> None:
        """Record a count for the current op, next to its spans."""
        if self.enabled:
            self.counts[(self.op, name)] = value

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter(), float("nan"), parent, self.op)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    def self_times(self) -> dict[tuple[str | None, str], float]:
        """{(op, span name): summed self time in seconds}."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[tuple[str | None, str], float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[(s.op, s.name)] += self_time(s.start, s.end, children[i])
        return dict(out)


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """``end - start`` minus the union of the child intervals, each
    clipped to [start, end]; overlapping children count once."""
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, start), min(b, end)) for a, b in children):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return (end - start) - covered


# -- Spark event log ----------------------------------------------------------
# SQL metric names of Spark 4's PythonSQLMetrics, as they appear in a
# task's accumulables. The timing metrics are in milliseconds.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
_PY_METRICS = (PY_SENT, PY_RETURNED, PY_BOOT, PY_INIT, PY_RUN)


def read_event_log(root: str):
    """Every event of every application logged under ``root``. Needs
    ``spark.eventLog.compress=false`` and ``rolling.enabled=false``, so
    each application writes one plain JSON-lines file."""
    for app in sorted(os.listdir(root)):
        with open(os.path.join(root, app)) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


@dataclass
class GroupStats:
    """What one job group's tasks did, summed over its tasks."""
    jobs: int = 0
    tasks: int = 0
    py_sent_bytes: float = 0.0
    py_returned_bytes: float = 0.0
    py_boot_init_s: float = 0.0
    py_run_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_write_s: float = 0.0
    gc_s: float = 0.0
    task_skew: float = 1.0      # max / median task time, widest stage


def job_group_stats(events) -> dict[str, GroupStats]:
    """Fold an event stream into per-job-group task sums."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    task_times: dict[tuple[str, int], list[float]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = out[group]
            g.tasks += 1
            info = ev.get("Task Info") or {}
            task_times[(group, ev["Stage ID"])].append(
                (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                / 1000.0)
            py = {m: 0.0 for m in _PY_METRICS}
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in py:
                    py[acc["Name"]] += float(acc.get("Update", 0) or 0)
            g.py_sent_bytes += py[PY_SENT]
            g.py_returned_bytes += py[PY_RETURNED]
            g.py_boot_init_s += (py[PY_BOOT] + py[PY_INIT]) / 1000.0
            g.py_run_s += py[PY_RUN] / 1000.0
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            g.shuffle_write_s += sw.get("Shuffle Write Time", 0) / 1e9  # ns
            g.gc_s += tm.get("JVM GC Time", 0) / 1000.0
    widest: dict[str, list[float]] = {}
    for (group, _sid), times in task_times.items():
        if len(times) > len(widest.get(group, [])):
            widest[group] = times
    for group, times in widest.items():
        times = sorted(times)
        med = times[len(times) // 2]
        out[group].task_skew = times[-1] / med if med > 0 else 1.0
    return dict(out)
