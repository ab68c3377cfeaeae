"""Tracing from outside the engine.

Spans are recorded around calls into the engine's layers by wrapping the
layers' public functions (``install``); Spark's own view is read from the
job status store (jobs, stages, tasks) and from each collected plan's
``queryExecution().tracker()`` (Catalyst phases). Nothing inside the
engine package changes. Spans stay in memory and are written out when the
run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter
from contextlib import contextmanager


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


class Tracer:
    """In-memory spans and counters. ``enabled`` is flipped by the harness
    to alternate traced and untraced passes inside one traced run; while it
    is off, every wrapper is a plain pass-through."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[tuple] = []    # (name, start, end, parent, op)
        self.counts: Counter = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:                 # overlap's pool threads add spans
            idx = len(self.spans)
            self.spans.append(None)      # reserve the index, fill on exit
        stack.append(idx)
        start = time.time()
        try:
            yield idx
        finally:
            end = time.time()
            stack.pop()
            self.spans[idx] = (name, start, end, parent, self.op)

    def count(self, key: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] += n

    def self_time(self, name: str) -> float:
        """Summed self time of every ``name`` span: its duration minus
        the part covered by its direct child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s is not None and s[3] is not None:
                child[s[3]] = child.get(s[3], 0.0) + (s[2] - s[1])
        return sum(s[2] - s[1] - child.get(i, 0.0)
                   for i, s in enumerate(self.spans)
                   if s is not None and s[0] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                if s is not None:
                    fh.write(json.dumps(dict(zip(
                        ("name", "start", "end", "parent", "op"), s))) + "\n")


def _wrap(tracer: Tracer, fn, name: str, after=None):
    """Wrap ``fn`` in a ``name`` span; ``after(args, result)`` records the
    layer's counters once the call returned."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        tracer.count(f"{name}.calls")
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if after is not None:
            after(args, out)
        return out
    return wrapper


def _memo_wrap(tracer: Tracer, fn, name: str, store: dict):
    """A memo call missed iff it inserted an entry: the newest key of the
    memo's dict changed across the call."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        before = next(reversed(store), None), len(store)
        with tracer.span(name):
            out = fn(*args, **kwargs)
        tracer.count(f"{name}.calls")
        if (next(reversed(store), None), len(store)) == before:
            tracer.count(f"{name}.hits")
        return out
    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points. Must run before
    ``__spark_entry__`` is imported: it binds ``load_table`` at import."""
    from flink_descriptive_stats_spark import report
    from flink_descriptive_stats_spark.functions import memo, overlap, spread
    from flink_descriptive_stats_spark.sources import tables

    tables.load_table = _wrap(tracer, tables.load_table, "sources.load")
    memo.agg_row_memoized = _memo_wrap(
        tracer, memo.agg_row_memoized, "memo.agg_row", memo._MEMO)
    memo.exprs_memoized = _memo_wrap(
        tracer, memo.exprs_memoized, "memo.exprs", memo._EXPR_MEMO)

    def _spread_applied(args, out):
        if out is not args[0]:
            tracer.count("spread.applied")
    spread.spread = _wrap(tracer, spread.spread, "spread", _spread_applied)
    overlap.run_concurrently = _wrap(
        tracer, overlap.run_concurrently, "overlap",
        lambda args, out: tracer.count("overlap.thunks", len(args[0])))
    report.jb_report = _wrap(tracer, report.jb_report, "report.jb_report")


# --------------------------------------------------------------------------
# Spark's side: job status store and Catalyst phase tracker
# --------------------------------------------------------------------------

class SparkView:
    """Spark's own records, each read in one py4j round trip that
    serialises the JVM objects to JSON."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._store = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self._all_tasks = jvm.java.util.ArrayList()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> tuple[list[dict], dict[int, dict]]:
        """Every job and stage attempt the status store holds."""
        jobs = self._json(self._store.jobsList(None))
        stages = self._json(
            self._store.stageList(None, False, False, self._no_quantiles,
                                  self._all_tasks))
        return jobs, {s["stageId"]: s for s in stages}

    def phases(self, df) -> dict[str, tuple[float, float]]:
        """(start, end) in epoch seconds of each Catalyst phase the frame's
        plan went through: analysis, optimization, planning."""
        ph = self._json(df._jdf.queryExecution().tracker().phases())
        return {k: (v["startTimeMs"] / 1000.0, v["endTimeMs"] / 1000.0)
                for k, v in ph.items()}


def union_length(intervals, lo: float, hi: float,
                 minus=()) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi], less the
    part also covered by the union of ``minus``."""
    def merged(ivs):
        out: list[list[float]] = []
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in ivs):
            if b <= a:
                continue
            if out and a <= out[-1][1]:
                out[-1][1] = max(out[-1][1], b)
            else:
                out.append([a, b])
        return out
    mine, theirs = merged(intervals), merged(minus)
    total = 0.0
    for a, b in mine:
        total += b - a
        for c, d in theirs:
            total -= max(0.0, min(b, d) - max(a, c))
    return total
