"""Span tracer for traced benchmark runs.

Spans are recorded from outside the engine: the tracer replaces a
function or method *where callers look it up* (every module attribute
bound to the function, or the class attribute for a method) with a
wrapper that records a span and calls the original. Each span holds its
name, start, end, parent span and thread, plus the Spark job and stage
id counters read at its two boundaries. The counters are read from the
driver's scheduler and status store through py4j, so tracing launches
no Spark job of its own.

Spans stay in memory; ``uninstall`` restores every patched name.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PACKAGE = "pantasia_db_sync_spark"


@dataclass
class Span:
    name: str
    start: float
    thread: int
    parent: int | None
    job0: int
    stage0: int
    end: float = 0.0
    job1: int = 0
    stage1: int = 0
    extra: dict = field(default_factory=dict)


class SparkCounters:
    """Job and stage counters of the driver's scheduler and status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def ids(self) -> tuple[int, int]:
        """(jobs submitted so far, stages created so far)."""
        return self._dag.numTotalJobs(), self._dag.nextStageId()

    def stage_totals(self, stage0: int, stage1: int) -> dict[str, float]:
        """Sum the status-store metrics of stages ``[stage0, stage1)`` that ran."""
        self._bus.waitUntilEmpty()
        out = {"stages": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0}
        for sid in range(stage0, stage1):
            try:
                attempts = self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                ).iterator()
            except Py4JJavaError:  # stage never registered with the store
                continue
            while attempts.hasNext():
                s = attempts.next()
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["executor_run_s"] += s.executorRunTime() / 1000.0
                out["gc_s"] += s.jvmGcTime() / 1000.0
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        return out


class Tracer:
    def __init__(self, counters: SparkCounters) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._home = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    # --- recording -----------------------------------------------------------

    def open(self, name: str) -> int:
        tid = threading.get_ident()
        job, stage = self.counters.ids()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            else:
                # a pool thread's first span hangs under the span that
                # submitted the work: the innermost open span of the
                # thread that installed the tracer
                home = self._stacks.get(self._home)
                parent = home[-1] if home else None
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), tid, parent, job, stage))
            stack.append(idx)
        return idx

    def close(self, idx: int) -> Span:
        end = time.perf_counter()
        job, stage = self.counters.ids()
        with self._lock:
            span = self.spans[idx]
            span.end, span.job1, span.stage1 = end, job, stage
            self._stacks[span.thread].remove(idx)
        return span

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield idx
        finally:
            self.close(idx)

    def wrap(self, name: str, fn, after=None):
        """``fn`` recording a span per call; ``after(span, args, kwargs)``
        may add facts to ``span.extra`` once the call returned."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                span = self.close(idx)
            if after is not None:
                after(span, args, kwargs)
            return result

        return traced

    # --- patching ------------------------------------------------------------

    def patch_function(self, fn, name: str, after=None) -> None:
        """Replace every binding of ``fn`` in the package's loaded modules."""
        wrapped = self.wrap(name, fn, after)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._patches.append((mod, attr, value))
                    setattr(mod, attr, wrapped)

    def patch_method(self, cls, method: str, name: str, after=None) -> None:
        original = cls.__dict__[method]
        self._patches.append((cls, method, original))
        setattr(cls, method, self.wrap(name, original, after))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


# --- span arithmetic ---------------------------------------------------------


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals: busy time of overlapping spans."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def exclusive(spans: list[Span]) -> list[bool]:
    """Whether each span ran alone: no span of another thread overlapped it,
    other than its ancestors and descendants. Only such spans can be
    charged the global Spark counters read at their boundaries."""

    def ancestors(i: int) -> set[int]:
        out = set()
        p = spans[i].parent
        while p is not None:
            out.add(p)
            p = spans[p].parent
        return out

    anc = [ancestors(i) for i in range(len(spans))]
    flags = []
    for i, s in enumerate(spans):
        alone = True
        for j, o in enumerate(spans):
            if (
                o.thread != s.thread
                and o.start < s.end
                and s.start < o.end
                and j not in anc[i]
                and i not in anc[j]
            ):
                alone = False
                break
        flags.append(alone)
    return flags
