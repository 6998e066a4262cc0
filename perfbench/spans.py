"""Spans and counters recorded around the program's public calls.

A span covers one call into one layer: name, layer, start, end, parent
span and trace id. With tracing on, each span also sets a Spark job group
and records, when it ends, the jobs it ran (``statusTracker``), their
shuffle-write and spill bytes (the application status store) and the
CPU the process tree spent in it, split between the JVM, the Python
workers and the driver's Python (``/proc``). Spans stay in memory and
are written out once, at the end of the run. With tracing off a span
does nothing, so untraced timings carry no tracing cost.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

CLK = os.sysconf("SC_CLK_TCK")


def med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def process_tree() -> dict[str, list[int]]:
    """Live pids of this run by role: the driver's Python, the JVM and
    the Python workers (everything below the JVM)."""
    me = os.getpid()
    roles = {"driver": [me], "jvm": [], "pyworkers": []}
    stack = [(c, "jvm") for c in _children(me)]
    while stack:
        pid, role = stack.pop()
        roles[role].append(pid)
        stack += [(c, "pyworkers") for c in _children(pid)]
    return roles


def _cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in parts[11:15]) / CLK


def cpu_by_role() -> dict[str, float]:
    return {role: sum(_cpu_s(p) for p in pids) for role, pids in process_tree().items()}


def peak_rss_mb(pids: list[int]) -> float:
    """Largest VmHWM (peak resident set) among ``pids``, in MiB."""
    best = 0.0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
        except OSError:
            pass
    return best


@dataclass
class Span:
    layer: str
    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext, once the program has one

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, name, len(self.spans), parent.span_id if parent else None,
                  self.trace_id, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.sc
        if sc is not None:
            sc.setJobGroup(f"span-{sp.span_id}", f"{layer}:{name}")
        cpu0 = cpu_by_role()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            cpu1 = cpu_by_role()
            self._stack.pop()
            for role in cpu0:
                sp.counters[f"cpu_{role}_s"] = cpu1[role] - cpu0[role]
            if sc is not None:
                self._job_counters(sc, sp)
                if parent is not None:
                    sc.setJobGroup(f"span-{parent.span_id}", f"{parent.layer}:{parent.name}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def _job_counters(self, sc, sp: Span) -> None:
        """Jobs run under the span's own job group and their stages'
        shuffle-write and spill bytes."""
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(f"span-{sp.span_id}")
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_tasks = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        shuffle = spill = 0
        for sid in stages:
            try:
                attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
            except Exception:  # a stage skipped before it was registered
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                shuffle += st.shuffleWriteBytes()
                spill += st.diskBytesSpilled()
        sp.counters.update(jobs=len(jobs), stages=len(stages),
                           shuffle_write_b=shuffle, spill_b=spill)

    def find(self, layer: str, name: str, passes=None) -> list[Span]:
        """Spans of ``layer``/``name``, within ``passes`` when given (each
        pass holds the ``span_range`` of the spans it recorded)."""
        pools = [self.spans] if passes is None else [
            self.spans[p.span_range[0]:p.span_range[1]] for p in passes]
        return [s for pool in pools for s in pool if s.layer == layer and s.name == name]

    def total(self, span: Span, key: str) -> float:
        """Counter ``key`` of ``span`` plus that of all its descendants
        (job-based counters are recorded under the innermost span's
        job group only)."""
        out, stack = 0, [span]
        while stack:
            s = stack.pop()
            out += s.counters.get(key, 0)
            stack += [c for c in self.spans[s.span_id + 1:] if c.parent == s.span_id]
        return out

    def self_times(self, roots: list[Span]) -> dict[str, float]:
        """Self time per layer over the subtrees under ``roots``: each
        span's duration minus the part of it its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        stack = list(roots)
        while stack:
            s = stack.pop()
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.layer] = out.get(s.layer, 0.0) + max(s.dur - covered, 0.0)
            stack += kids.get(s.span_id, [])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
