"""Overlap independent Spark actions from driver threads (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially. Operators that sweep a parameter grid (one bounded search
per grid point), audit a table list (one stats aggregate per table), or
emit independent report sections (one bounded aggregate each) used to
chain those actions serially — on a cluster that leaves the tail of every
job idle, and on the bench it serializes pure scheduling latency.
``run_concurrently`` submits the independent thunks from a small thread
pool so later jobs back-fill executors freed by earlier ones; results
come back in input order, so callers' output is byte-identical to the
serial loop.

Only use for actions that are INDEPENDENT (no thunk reads state another
writes) and deterministic — the combination step must not depend on
completion order.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

T = TypeVar("T")

#: enough in-flight jobs to fill stragglers' tails without flooding the
#: scheduler; grid sweeps here have 4-8 points, table audits 6-8 tables
MAX_IN_FLIGHT = 8


def _inheritable(thunk: Callable[[], T]) -> Callable[[], T]:
    """Wrap the thunk so the worker thread inherits the caller's JVM
    thread-local properties (job group, job description) and session
    tags. Under PySpark's pinned-thread mode a plain pool thread carries
    NO job group, so jobs submitted here were attributed to no query in
    the event log — exactly the concurrent queries the profiler was built
    to measure (r13 ADVICE). The wrap captures them at submit time from
    the caller's active (else default) session — a nested call from a
    pool thread has no thread-active session. With no session at all it
    falls back to the bare-callable form (properties only), and with no
    SparkContext to the raw thunk."""
    try:
        from pyspark import SparkContext, inheritable_thread_target
        from pyspark.sql import SparkSession
        if SparkContext._active_spark_context is None:
            return thunk
        try:
            sess = SparkSession.active()
        except Exception:               # no active or default session
            return inheritable_thread_target(thunk)
        return inheritable_thread_target(sess)(thunk)
    except Exception:
        return thunk


def run_concurrently(thunks: Sequence[Callable[[], T]]) -> list[T]:
    """Run the thunks on a small driver thread pool; return their results
    in input order. A single thunk (or none) runs inline — no pool, no
    thread overhead. Exceptions propagate to the caller exactly as the
    serial loop would raise them (first by input order); on failure the
    not-yet-started thunks are cancelled rather than run to completion
    for a result that will be discarded (r13 ADVICE)."""
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(
            max_workers=min(len(thunks), MAX_IN_FLIGHT)) as pool:
        futures = [pool.submit(_inheritable(t)) for t in thunks]
        try:
            return [f.result() for f in futures]
        except BaseException:
            pool.shutdown(wait=False, cancel_futures=True)
            raise
