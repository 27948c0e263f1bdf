"""Measurement helpers: spans, layer wrappers, Spark status-store
counts, process-tree RSS and host CPU context.

Spans are recorded only in a traced run.  They are kept in memory
(name, start, end, parent, op id) and written once when the run ends.
A layer span is opened by wrapping the public name a caller module
uses (for example ``pipeline.write_parquet``); the package source is
never edited, and every wrapper is removed again by ``unwrap_all``.
Each open span also tags the Spark jobs submitted inside it
(``SparkContext.addJobTag``), so jobs are attributed to layers by tag.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute check per wrapped call."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.op = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name) if self.enabled else contextlib.nullcontext()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span
        ``name`` around each call.  ``after(span, args, result)`` may
        add attributes once the call returns."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with _SpanCtx(tracer, name) as sp:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(sp, args, out)
                return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def wrap_everywhere(self, fn, name: str, modules) -> None:
        """Wrap every module-level reference to ``fn`` in ``modules``
        (callers that imported the name directly)."""
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, name)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name
        self.sp: Span | None = None

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1].sid if t._stack else None
        self.sp = Span(len(t.spans), self.name, t.op, parent, time.perf_counter())
        t.spans.append(self.sp)
        t._stack.append(self.sp)
        t.sc.addJobTag(f"span{self.sp.sid}")
        return self.sp

    def __exit__(self, *exc) -> None:
        self.sp.end = time.perf_counter()
        self.t.sc.removeJobTag(f"span{self.sp.sid}")
        self.t._stack.pop()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (the
    children of one span never overlap: one client thread)."""
    child = {s.sid: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.sid: (s.end - s.start) - child[s.sid] for s in spans}


# ---------------------------------------------------------------------------
# Spark status store (in-process, over py4j)
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    "spark.run_s": ("executorRunTime", 1e-3),
    "spark.cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
}


class StatusStore:
    """Reads one job group's jobs, stages and task metrics from the
    driver's status store.  The benchmark session raises
    ``spark.ui.retainedJobs``/``retainedStages`` so no group is evicted
    before it is read."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def group_metrics(self, group: str) -> tuple[dict, dict[int, set[str]]]:
        """Counts and stage-metric sums of ``group``, plus each job's
        span tags."""
        out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        tags: dict[int, set[str]] = {}
        stages: set[int] = set()
        for jid in self.job_ids(group):
            job = self.store.job(jid)
            out["spark.jobs"] += 1
            out["spark.tasks"] += job.numCompletedTasks() + job.numFailedTasks()
            tags[jid] = set(filter(None, job.jobTags().mkString("\t").split("\t")))
            stages.update(int(s) for s in job.stageIds().mkString(",").split(",") if s)
        for sid in sorted(stages):
            attempts = self.store.stageData(sid, False, self._empty, False, self._quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                for key, (getter, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(st, getter)() * scale
        return out, tags


# ---------------------------------------------------------------------------
# Process tree RSS and host CPU
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _mem(pid: int) -> tuple[int, bytes]:
    """(VmRSS kB, cmdline) of ``pid``; zeros once it is gone."""
    rss = 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
                    break
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return 0, b""
    return rss, cmd


def tree_rss_mb(root: int) -> float:
    """RSS of ``root`` and its descendants.  The JVM starts helper
    processes by a spawn that shares the JVM's address space until the
    helper execs; such a child shows the JVM's command line, or none
    while it execs, and is not counted a second time."""
    total, todo = 0, [(root, b"")]
    while todo:
        pid, parent_cmd = todo.pop()
        rss, cmd = _mem(pid)
        if cmd and not (cmd == parent_cmd and b"/bin/java" in cmd):
            total += rss
        todo += [(c, cmd) for c in _children(pid)]
    return total / 1024.0


class RssSampler:
    """Samples the RSS of this process and all its descendants (the
    driver JVM and any Python workers) every ``period`` seconds and
    keeps the peak."""

    def __init__(self, period: float = 0.1) -> None:
        self.peak_mb = 0.0
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            if self._stop.wait(self._period):
                return


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_context(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    return {
        "host.steal_pct": 100.0 * steal / total,
        "host.cpu_util_pct": 100.0 * (total - idle - steal) / total,
    }

