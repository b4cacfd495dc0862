"""Per-layer tracing, installed from the benchmark's own files.

A span is recorded around every call into a public function of a layer
module (module attribute and every `from ... import` binding of it in the
engine and in `__spark_entry__`), around `DataFrame.localCheckpoint` (the
fixpoint rounds) and, by the harness, around each query's construction and
its action.  Spans stay in memory until the run ends.

A layer's self time is its span time minus the part of that interval its
child spans cover.  Spark jobs are counted per span by the range of job ids
the scheduler hands out while the span is open -- not by job group, because
stream micro-batches run on the stream's own thread under its own group.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
import types
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

#: operator modules with a layer of their own; the rest run as part of
#: whichever layer calls them
OPERATOR_LAYERS = ("dedup", "graph", "corpus", "er")
PACKAGE_LAYERS = ("reports", "pipelines", "sinks", "streaming")


def layer_of(modname: str) -> str | None:
    """The layer a package module belongs to, or None if it has none."""
    parts = modname.split(".")
    if parts[0] != "etl_scripts_spark" or len(parts) < 2:
        return None
    if len(parts) == 2 and parts[1] in ("catalog", "ckpt"):
        return parts[1]
    if parts[1] in PACKAGE_LAYERS:
        return parts[1]
    if len(parts) == 3 and parts[1] == "operators" and parts[2] in OPERATOR_LAYERS:
        return f"operators.{parts[2]}"
    return None


@dataclass
class Span:
    layer: str
    name: str
    start: float
    parent: int | None
    job0: int
    end: float = 0.0
    job1: int = 0


def union_length(intervals) -> float:
    """Total length covered by half-open intervals (overlaps count once)."""
    total, reach = 0.0, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if reach is None or lo >= reach:
            total += hi - lo
            reach = hi
        elif hi > reach:
            total += hi - reach
            reach = hi
    return total


def self_costs(spans: list[Span]) -> list[tuple[float, int]]:
    """(self seconds, self jobs) of each span: its own interval minus what
    its children cover, for time and for the job id range."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        kids = children.get(i, [])

        def covered(lo_of, hi_of):
            return union_length(
                (max(lo_of(c), lo_of(s)), min(hi_of(c), hi_of(s))) for c in kids)

        out.append((
            (s.end - s.start) - covered(lambda x: x.start, lambda x: x.end),
            (s.job1 - s.job0) - int(covered(lambda x: x.job0, lambda x: x.job1)),
        ))
    return out


def layer_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """layer -> {self_s, jobs, calls}, jobs as self counts."""
    table: dict[str, dict[str, float]] = defaultdict(
        lambda: {"self_s": 0.0, "jobs": 0, "calls": 0})
    for s, (sec, jobs) in zip(spans, self_costs(spans)):
        row = table[s.layer]
        row["self_s"] += sec
        row["jobs"] += jobs
        row["calls"] += 1
    return dict(table)


class Tracer:
    """Records spans.  `counters()` returns the scheduler's next (job id,
    stage id); a span on a callback thread with nothing open on its own
    thread is a child of the span open on the main thread, which is
    blocked waiting for it."""

    def __init__(self, counters):
        self.spans: list[Span] = []
        self._counters = counters
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str = ""):
        stack = self._stack()
        outer = stack or self._main_stack
        sp = Span(layer, name or layer, time.perf_counter(),
                  outer[-1] if outer else None, self._counters()[0])
        with self._lock:
            stack.append(len(self.spans))
            self.spans.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.job1 = self._counters()[0]
            sp.end = time.perf_counter()


class _Traced:
    """A layer function that runs inside a span.  It pickles as the module
    attribute it replaced, so a function shipped to Python workers arrives
    there as the plain original."""

    def __init__(self, tracer: Tracer, layer: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn = tracer, layer, fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


def _engine_modules():
    for modname, mod in list(sys.modules.items()):
        if mod is not None and (modname == "__spark_entry__"
                                or modname.startswith("etl_scripts_spark.")):
            yield modname, mod


class Instrumentation:
    """Installs and removes the spans around every loaded layer module."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def install(self, spark) -> int:
        wrapped: dict[int, tuple[object, _Traced]] = {}
        for modname, mod in _engine_modules():
            layer = layer_of(modname)
            if layer is None:
                continue
            for name, obj in vars(mod).items():
                if (not name.startswith("_") and isinstance(obj, types.FunctionType)
                        and obj.__module__ == modname
                        and not inspect.isgeneratorfunction(obj)):
                    wrapped[id(obj)] = (obj, _Traced(self.tracer, layer, obj))
        for _, mod in _engine_modules():
            for name, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._undo.append((mod, name, obj))
                    setattr(mod, name, hit[1])

        frame_cls = type(spark.range(0))  # the session's concrete DataFrame class
        checkpoint = frame_cls.localCheckpoint
        tracer = self.tracer

        @functools.wraps(checkpoint)
        def local_checkpoint(df, *args, **kwargs):
            with tracer.span("fixpoint", "localCheckpoint"):
                return checkpoint(df, *args, **kwargs)

        self._undo.append((frame_cls, "localCheckpoint", checkpoint))
        frame_cls.localCheckpoint = local_checkpoint
        return len(wrapped)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._undo):
            setattr(owner, name, original)
        self._undo.clear()


def scheduler_counters(spark):
    """A `counters()` for Tracer: the DAG scheduler's next job and stage id."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001

    def counters() -> tuple[int, int]:
        return dag.nextJobId(), dag.nextStageId()

    return counters


def wait_listeners(spark, timeout_ms: int = 10_000) -> None:
    """Block until every event posted so far reached its listeners."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)  # noqa: SLF001


def stream_listener():
    """A StreamingQueryListener that sums micro-batch progress while
    `recording` is set."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self):
            self.recording = False
            self.batches = self.input_rows = 0
            self.batch_ms = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if self.recording:
                self.batches += 1
                self.input_rows += event.progress.numInputRows
                self.batch_ms += event.progress.batchDuration

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamStats()


TASK_FIELDS = ("tasks", "failed_tasks", "executor_run_ms", "shuffle_write_bytes")


def task_stats(lines) -> dict[int, dict[str, int]]:
    """Per stage id: tasks ended, tasks failed, executor run time and shuffle
    bytes written, from the task-end records of a Spark event log."""
    stats: dict[int, dict[str, int]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    for line in lines:
        if '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        row = stats[ev["Stage ID"]]
        row["tasks"] += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            row["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        row["executor_run_ms"] += m.get("Executor Run Time", 0)
        row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
    return dict(stats)


def sum_stages(stats: dict[int, dict[str, int]], lo: int, hi: int) -> dict[str, int]:
    """task_stats summed over the stage ids in [lo, hi)."""
    out = dict.fromkeys(TASK_FIELDS, 0)
    for sid in range(lo, hi):
        for k, v in stats.get(sid, {}).items():
            out[k] += v
    return out
