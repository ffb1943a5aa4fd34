"""Measurement plumbing shared by the workloads: timed ops, layer spans
with Spark job/task counts, percentiles, and process-tree peak RSS.

Spans are recorded from the benchmark's side of each call into a layer's
public function. Job and task counts come from ``setJobGroup`` +
``statusTracker``: every span runs its calls under its own job group, and
the groups are resolved only after the timed region, once the listener
bus has caught up, so the counts are exact and the timed region pays only
the ``setJobGroup`` calls.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ``beyond``
    samples above it: returns (value, percentile, n). With ``beyond`` or
    fewer samples there is no such percentile; the maximum is returned
    with percentile 100."""
    n = len(xs)
    if n <= beyond:
        return (max(xs) if xs else 0.0), 100.0, n
    s = sorted(xs)
    k = n - beyond                     # k samples at or below, 10 above
    return s[k - 1], 100.0 * k / n, n


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    op: int | None
    group: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0


class Tracer:
    """Layer spans around calls into the program. Disabled, ``span`` is a
    bare ``yield``: the untraced run pays nothing but a generator."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = False     # switched on per traced op (Ops.op)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._lock = threading.Lock()
        self._tls = threading.local()    # per thread: its current group
        self.bookkeeping_s = 0.0   # time spent inside the tracer itself

    def set_op(self, op_id: int | None) -> None:
        self._op = op_id

    @contextmanager
    def span(self, layer: str, name: str):
        """Record a span and run its body under the span's own job group.
        The parent is the innermost open span of any thread (a
        ``foreachBatch`` body nests under the op that is waiting for it);
        on exit the thread gets back the job group it had before."""
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        with self._lock:
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            sp = Span(name, layer, time.perf_counter(), parent, self._op,
                      f"perfbench-{os.getpid()}-{idx}")
            self.spans.append(sp)
            self._stack.append(idx)
        outer = getattr(self._tls, "group", None)
        self._tls.group = (sp.group, name)
        self.sc.setJobGroup(sp.group, name)
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = t2 = time.perf_counter()
            with self._lock:
                self._stack.remove(idx)
            self._tls.group = outer
            self.sc.setJobGroup(*(outer or ("perfbench-untracked", "")))
            with self._lock:
                self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def resolve_counts(self) -> None:
        """Attach job ids and completed-task counts to every span. Called
        after the timed region; waits for the listener bus to drain."""
        time.sleep(1.0)
        st = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(st.getJobIdsForGroup(sp.group))
            for j in sp.jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    si = st.getStageInfo(s)
                    if si is not None:
                        sp.tasks += si.numCompletedTasks

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        child = sum(c.end - c.start for c in self.spans if c.parent == idx)
        return (sp.end - sp.start) - child

    def inclusive(self, idx: int) -> tuple[int, int]:
        """(jobs, tasks) of a span and all its descendants."""
        jobs, tasks = len(self.spans[idx].jobs), self.spans[idx].tasks
        for i, c in enumerate(self.spans):
            if c.parent == idx:
                j, t = self.inclusive(i)
                jobs += j
                tasks += t
        return jobs, tasks

    def by_name(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def dump(self, path: str) -> None:
        import json
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "layer": s.layer,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "op": s.op, "jobs": len(s.jobs), "tasks": s.tasks,
                    "attrs": s.attrs}) + "\n")


class OpFailed(Exception):
    """An op raised; it has been counted as failed and the workload's
    schedule stops."""


class Ops:
    """Timed closed-loop operations: one client, each op starts when the
    previous one returns. Wall time per op kind; failures counted.

    In a traced run the even-numbered ops of each kind are traced and
    the odd-numbered ones are not, so one run yields both the spans and
    the untraced times the tracing overhead is measured against."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.traced_samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timed_wall = 0.0
        self.last_traced = False

    @contextmanager
    def op(self, kind: str):
        """Time one op. An exception is counted, then re-raised as
        ``OpFailed``: a workload whose state depends on the op stops."""
        seen = len(self.samples.get(kind, ())) + len(
            self.traced_samples.get(kind, ()))
        traced = self.tracer.enabled and seen % 2 == 0
        self.attempted += 1
        self.tracer.set_op(self.attempted)
        self.tracer.active = traced
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("op", f"op.{kind}"):
                    yield
            else:
                yield
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            raise OpFailed(kind) from e
        finally:
            dt = time.perf_counter() - t0
            self.timed_wall += dt
            self.tracer.set_op(None)
            self.tracer.active = False
            self.last_traced = traced
        dest = self.traced_samples if traced else self.samples
        dest.setdefault(kind, []).append(dt)

    def fail_check(self, msg: str) -> None:
        """A failed output check counts as a failed op."""
        self.failed += 1
        self.errors.append(msg[:500])


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> tuple[float, dict[str, float]]:
    """Sum of peak RSS (VmHWM) over this process and every live
    descendant: the driver JVM and the Python workers it forked. Also
    returns the per-command split, in MB."""
    parts: dict[str, float] = {}
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                kb = next((int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        parts[comm] = parts.get(comm, 0.0) + kb / 1024.0
    return sum(parts.values()), parts


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden/metadata."""
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return files, size
