"""Layer trace recorded from outside the program.

Spark is lazy, so timing a call alone measures plan building.  Each
wrapper therefore forces its DataFrame inputs first (upstream work lands
in the caller's span), opens a span, forces its result with
``localCheckpoint``, counts the result's rows, closes the span and
returns the checkpointed frame.  Jobs carry the span path as their
description, and Spark's event log (enabled only in traced runs) is read
after the session stops for shuffle bytes, spill, task counts and skew.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

MB = 1_000_000


@dataclass
class Span:
    layer: str
    op: int
    fn: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    rows_in: int | None = None
    rows_out: int | None = None
    extra: dict[str, float] = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    """Span stack for one single-threaded client; labels Spark jobs with
    ``<op>|<span path>`` so the event log can be attributed."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: Span | None = None
        self.op = -1

    def _label(self) -> str:
        return f"{self.op}|" + "/".join(s.layer for s in self._stack)

    def begin_op(self, op: int) -> None:
        self.op = op
        self.sc.setJobDescription(self._label())

    def end_op(self) -> None:
        self.sc.setJobDescription(None)

    def open(self, layer: str, fn: str = "") -> Span:
        span = Span(layer, self.op, fn or layer, time.perf_counter())
        self._stack.append(span)
        self.sc.setJobDescription(self._label())
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        top = self._stack.pop()
        if top is not span:
            raise RuntimeError(f"span {span.layer} closed out of order")
        if self._stack:
            self._stack[-1].child_s += span.end - span.start
        self.spans.append(span)
        self.sc.setJobDescription(self._label())

    def open_pending(self, layer: str, fn: str) -> None:
        """A span that the next wrapped call closes: it times the code a
        caller runs between its own start and its first wrapped call."""
        self._pending = self.open(layer, fn)

    def close_pending(self) -> None:
        if self._pending is not None:
            pending, self._pending = self._pending, None
            self.close(pending)

    @contextmanager
    def span(self, layer: str, fn: str = "") -> Iterator[Span]:
        s = self.open(layer, fn)
        try:
            yield s
        finally:
            self.close(s)

    def count(self, df: DataFrame) -> int:
        """Row count in a ``trace`` span, so it is billed to no layer."""
        with self.span("trace", "count"):
            return df.count()


def _force(value: Any) -> Any:
    return value.localCheckpoint(eager=True) if isinstance(value, DataFrame) else value


def wrap_stage(
    tracer: Tracer, layer: str, fn_name: str, fn: Callable, counted: tuple[int, ...] | None
) -> Callable:
    """Wrap a DataFrame -> DataFrame stage.  ``counted`` names the
    positional inputs whose rows make ``rows_in`` (None: every DataFrame
    input; empty: none)."""

    def wrapper(*args: Any, **kwargs: Any) -> Any:
        tracer.close_pending()
        args = tuple(_force(a) for a in args)
        kwargs = {k: _force(v) for k, v in kwargs.items()}
        positions = range(len(args)) if counted is None else counted
        rows_in = sum(
            tracer.count(args[i]) for i in positions
            if i < len(args) and isinstance(args[i], DataFrame)
        )
        span = tracer.open(layer, fn_name)
        try:
            out = fn(*args, **kwargs).localCheckpoint(eager=True)
            span.rows_out = out.count()
        finally:
            tracer.close(span)
        span.rows_in = rows_in
        return out

    return wrapper


def _written_files(path: str, since_ns: int) -> tuple[int, int]:
    """(parquet files, bytes) under ``path`` modified at or after ``since_ns``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            st = os.stat(os.path.join(root, name))
            if st.st_mtime_ns >= since_ns and not name.startswith("."):
                size += st.st_size
                files += name.endswith(".parquet")
    return files, size


def wrap_catalog_write(tracer: Tracer, fn_name: str, fn: Callable) -> Callable:
    """Wrap a ``Catalog`` write method ``(self, df_or_name, name, ...)``."""

    def wrapper(catalog: Any, first: Any, *args: Any, **kwargs: Any) -> Any:
        tracer.close_pending()
        first = _force(first)
        table = first if isinstance(first, str) else args[0]
        since = time.time_ns()
        span = tracer.open("catalog", fn_name)
        try:
            out = fn(catalog, first, *args, **kwargs)
        finally:
            tracer.close(span)
        files, size = _written_files(catalog.table_path(table), since)
        span.extra.update(files=files, bytes=size)
        return out

    return wrapper


def wrap_query(tracer: Tracer, name: str, fn: Callable) -> Callable:
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        span = tracer.open(f"q.{name}", name)
        try:
            out = fn(spark, sf_dir).localCheckpoint(eager=True)
            span.rows_out = out.count()
        finally:
            tracer.close(span)
        return out

    return wrapper


@contextmanager
def patched(replacements: list[tuple[Any, str, Any]]) -> Iterator[None]:
    """Set ``obj.attr = value`` for each triple; restore on exit."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in replacements]
    try:
        for obj, attr, value in replacements:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, value in saved:
            setattr(obj, attr, value)


# -- JVM and process facts --------------------------------------------------

def jvm_gc_seconds(spark: SparkSession) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# -- event log --------------------------------------------------------------

@dataclass
class LayerJobs:
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # stage id -> task run times (ms)
    stage_tasks: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max/median task run time of the stage with the most task time."""
        if not self.stage_tasks:
            return 0.0
        times = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def read_event_log(log_dir: str) -> dict[tuple[int, str], LayerJobs]:
    """(op, span path) -> job facts, from the finished event log of the
    (single) application logged to ``log_dir``.  Jobs run directly in an
    op with no span open get the path ``""``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    out: dict[tuple[int, str], LayerJobs] = defaultdict(LayerJobs)
    stage_key: dict[int, tuple[int, str]] = {}
    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if "|" not in desc:
                    continue
                op, path = desc.split("|", 1)
                key = (int(op), path)
                out[key].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_key[sid] = key
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev.get("Stage ID"))
                metrics = ev.get("Task Metrics")
                if key is None or not metrics:
                    continue
                acc = out[key]
                acc.tasks += 1
                acc.shuffle_bytes += metrics.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
                acc.stage_tasks[ev["Stage ID"]].append(metrics.get("Executor Run Time", 0))
    return out
