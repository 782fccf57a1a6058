"""Exact per-block Spark cost under concurrency (``metrics.spark_cost``).

The reference records each BigQuery job's own SlotMillis
(ops/actions.go:150-170). The oracle here is the session-global stage
walk the tag-scoped reader replaced: summed over a window in which only
the test's threads ran, it must equal the per-thread costs added up.
"""

from __future__ import annotations

import sys
import threading

from pyspark.sql import functions as F

from etl_gardener_spark.orchestrator.metrics import spark_cost
from etl_gardener_spark.parallel import run_jobs


def _stage_walk(spark) -> list[tuple[int, int]]:
    """(stage id, executorRunTime ms) of every stage attempt the status
    store holds, once the listener bus has drained."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    empty = sc._jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = jsc.statusStore().stageList(empty, False, False, quantiles, empty)
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        out.append((s.stageId(), s.executorRunTime()))
    return out


def _one_job(spark, seed: int) -> list:
    """An action that runs exactly one Spark job (narrow plan, no shuffle)."""
    return (
        spark.range(0, 300_000, 1, 4)
        .filter((F.col("id") * 7 + seed) % 9973 == 0)
        .collect()
    )


def test_concurrent_costs_are_exact(spark):
    # six threads (more than a 4-core machine has cores), each with its own
    # action count
    actions = {f"t{i}": i + 1 for i in range(6)}
    mark = max((sid for sid, _ in _stage_walk(spark)), default=-1)
    start = threading.Barrier(len(actions), timeout=60)
    costs = {}

    def work(name: str, n: int) -> None:
        start.wait()
        with spark_cost(spark) as cost:
            for i in range(n):
                _one_job(spark, i)
        costs[name] = cost

    threads = [threading.Thread(target=work, args=kv) for kv in actions.items()]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)

    assert {name: c.jobs for name, c in costs.items()} == actions
    assert {name: c.stages for name, c in costs.items()} == actions
    window_ms = sum(ms for sid, ms in _stage_walk(spark) if sid > mark)
    assert window_ms > 0
    assert round(sum(c.task_s for c in costs.values()) * 1000) == window_ms


def test_run_jobs_thunks_count_toward_caller(spark):
    dfs = [spark.range(0, 30_000, 1, 2).filter(F.col("id") % 101 == i) for i in range(3)]
    with spark_cost(spark) as cost:
        run_jobs([df.collect for df in dfs])
    assert cost.jobs == 3
    assert cost.stages == 3
