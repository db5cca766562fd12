"""Driver-side job overlap for independent legs (guide §2.6).

Spark's scheduler happily runs several jobs at once; actions are only
sequential because driver code calls them sequentially. The composed
rows whose setup consists of independent driver-blocking chains
(curate capstone, streaming ANN serving, sync mirror materialization)
submit those legs through :func:`run_legs`.

Two r14-ADVICE hardenings over the plain per-call ThreadPoolExecutor
the r14 code used:

- every submitted callable is wrapped in ``pyspark.util
  .inheritable_thread_target`` with the caller's session, so, under
  the default pinned-thread mode, the caller's JVM thread-local
  properties (job group, scheduler pool, job description) and session
  tags are inherited by the worker thread — a leg's jobs are labeled
  like its caller's. The executing thread's tags are put back after
  each leg, so a reused pool thread carries no stale tag into a later
  call.
- ONE module-level pool is reused across invocations instead of a
  fresh pool (and fresh paired JVM threads) per query call, so a long
  bench session cannot accumulate JVM-side threads; the pool is
  deliberately small (2-3 legs in flight is what fills a tail — guide
  §2.6) and its threads live for the process.

While :func:`serial_legs` is active, :func:`run_legs` calls the same
wrapped legs inline on the calling thread instead; the
overlap-neutrality tests and the ``serial`` arm of ``scripts/ab.py``
use it to pin that threaded and sequential execution produce
bit-identical rows.
"""

from __future__ import annotations

import concurrent.futures as cf
import contextlib
from typing import Callable

_POOL_WORKERS = 4

_pool = None

# set by serial_legs: run_legs runs its legs inline
_serial = False


def run_legs(*fns: Callable):
    """Run the given zero-arg legs concurrently on the shared pool and
    return their results in argument order; the first leg exception
    propagates. Each leg runs with the caller's Spark job properties
    and session tags, and leaves its thread's tags as it found them
    (under :func:`serial_legs` that thread is the caller's). Legs
    called from a thread with no active Spark session run unwrapped."""
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession()
    if session is None:
        legs = fns
    else:
        inherit = inheritable_thread_target(session)

        def restoring(fn):
            inner = inherit(fn)

            def leg():
                before = session.getTags()
                try:
                    return inner()
                finally:
                    session.clearTags()
                    for tag in before:
                        session.addTag(tag)

            return leg

        legs = [restoring(fn) for fn in fns]
    if _serial:
        return [leg() for leg in legs]
    global _pool
    if _pool is None:
        _pool = cf.ThreadPoolExecutor(max_workers=_POOL_WORKERS)
    futs = [_pool.submit(leg) for leg in legs]
    return [f.result() for f in futs]


@contextlib.contextmanager
def serial_legs():
    """Run every :func:`run_legs` leg inline, in argument order, on the
    calling thread until the block exits; a failing leg raises at once,
    so later legs of that call do not run."""
    global _serial
    before, _serial = _serial, True
    try:
        yield
    finally:
        _serial = before
