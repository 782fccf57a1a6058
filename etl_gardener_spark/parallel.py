"""Driver-side job overlap (optimization guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially. The multi-arm instrument queries (recall reports,
probe sweeps, contract checks) fan out INDEPENDENT arms, each ending
in its own count/collect action — submitting those actions from a
small thread pool lets the next arm's tasks back-fill executors freed
by the current arm's stage tails instead of leaving the whole box idle
between sequential tiny jobs. Default FIFO scheduling keeps exactly
the back-fill behaviour the guide describes.

Results are unchanged by construction: every thunk computes the same
deterministic value it computed sequentially, and results are returned
in SUBMISSION order, so downstream row assembly sees the same list it
saw before. Python threads share the SparkSession; DataFrame actions
are thread-safe, and job descriptions/groups/tags are thread-local
(guide §1.5), so per-arm labelling still works inside a thunk. Each
thunk runs with a copy of the CALLING thread's local properties, so its
jobs carry the caller's job tags and count toward the caller's
``metrics.spark_cost``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

# "2-3 jobs in flight is plenty" (guide §2.6) for big-data stages; the
# arms here are chains of tiny local-mode jobs whose cost is dominated
# by scheduler latency, not executor occupancy, so a slightly deeper
# pool lets short arms drain while one long arm (a fit chain) runs.
_MAX_WORKERS = 8


def run_jobs(thunks: Sequence[Callable[[], Any]]) -> list[Any]:
    """Run independent driver-side thunks concurrently.

    Returns their results in submission order. Exceptions propagate to
    the caller (the pool is drained first — context-manager shutdown
    waits for every submitted future, so no thunk is left running).

    Only hand this thunks that are INDEPENDENT (no thunk reads state
    another thunk writes) and DETERMINISTIC — both hold for the
    instrument arms: they share only already-materialized inputs
    (checkpointed ground truth / codes) and produce exact counts.
    """
    thunks = list(thunks)
    if len(thunks) <= 1:
        return [t() for t in thunks]
    # one properties copy per thunk, taken here in the calling thread: a
    # thunk that adds or removes a tag then touches only its own copy
    session = SparkSession.active()
    thunks = [inheritable_thread_target(session)(t) for t in thunks]
    with ThreadPoolExecutor(
        max_workers=min(len(thunks), _MAX_WORKERS)
    ) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
