"""Driver-side action overlap (r14 optimization, guide §2.6).

Protocol keys run many independent blocking actions — twin rebuilds,
equality counts, checkpoint materializations — that are sequential only
because driver code calls them one after another. Submitting them from a
small thread pool lets each job's task tail back-fill the executor
slots its siblings free, cutting wall time without changing any result
(each action computes exactly what it computed before).

Scheduling note: local-mode FIFO interleaves tasks of concurrently
submitted jobs at stage granularity; no FAIR pool config is needed for
the overlap to pay, and none is set here so the bench's low-core runs
stay comparable.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import SparkContext


def _with_caller_properties(thunk: Callable[[], Any]) -> Callable[[], Any]:
    """``thunk`` set to run under a copy of the calling thread's Spark
    local properties (job group, job description, scheduler pool). A
    pool thread starts with none, so its jobs would lose the caller's
    group and description."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return thunk
    props = sc._jsc.sc().getLocalProperties().clone()

    def run():
        sc._jsc.sc().setLocalProperties(props)
        return thunk()

    return run


def concurrent_values(*thunks: Callable[[], Any], max_workers: int | None = None):
    """Run independent blocking driver actions concurrently; returns
    their results in argument order. Each action's jobs carry the
    caller's job group and description. Exceptions propagate (first
    failing thunk's exception, as with sequential code)."""
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(
        max_workers=max_workers or min(4, len(thunks))
    ) as pool:
        futures = [pool.submit(_with_caller_properties(t)) for t in thunks]
        return [f.result() for f in futures]
