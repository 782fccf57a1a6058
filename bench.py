"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line:

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": 0.1}

Each query executes end-to-end into the ``noop`` sink (full plan runs on
executors; no driver-side collect skewing the measurement). Best of two runs
per query — the first run at process start pays JVM/codegen warmup that a
long-lived service never sees.

Besides wall-clock, each query also records executor TASK-TIME and
CPU-TIME (executorRunTime / executorCpuTime summed over the stages of the
Spark jobs the run launched, read by ``orchestrator.metrics.spark_cost``
— the local-mode analogue of BigQuery slot-seconds, the reference's only
published cost unit). Task-time includes per-task wait (I/O, scheduling —
dominant for tiny partitions at small SF); cpu-time is the pure compute
that scales with data volume. ``queries_jobs`` / ``queries_stages``
give the Spark jobs and stages of each query's LAST run: steady-state
counts, since a query's first call in a session can run a different
number of jobs than its later calls. Task-time is scheduler-noise-robust:
wall-clock on a shared box swings ±15% with CPU contention while
task-time tracks the actual work, so cross-round comparisons
(tools/bench_trend.py) should prefer ``queries_task_sec`` and treat
wall-clock as the headline only.

The same payload is also written to ``BENCH_FULL_latest.json`` next to
this script (override with $SPARK_GRAFT_BENCH_OUT; empty disables): the
driver's per-round ``BENCH_r*.json`` artifact truncates to a tail of the
stdout line, so only that file carries the complete per-query timings —
each round a copy is committed as ``BENCH_FULL_r{N}.json`` so every
query stays cross-round comparable (see SCALE.md trend table).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_gardener_spark.orchestrator.metrics import spark_cost
from etl_gardener_spark.plans import queries as Q
from etl_gardener_spark.session import get_spark

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

# Canary query for box-state normalization (SCALE.md quiet-box
# protocol, r8 verdict item 2): a mid-weight certified query untouched
# since the early rounds, timed best-of-3 BEFORE the sweep. Its
# task-seconds ratio vs the committed reference value estimates the
# box-state drift baked into the whole recording — a recording whose
# canary is >1.15x its reference should be retaken, and cross-round
# medians should be read next to the two canary factors.
CANARY = "q1_pricing_summary"
CANARY_RUNS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load0 = os.getloadavg()[0]
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="bench")

    # Warm the session (JVM JIT, codegen cache, FS metadata) on a trivial job.
    spark.range(1000).count()

    # Canary measurement (box-state normalization; see CANARY above).
    canary_task = None
    if CANARY in Q.REGISTRY:
        best = None
        for _ in range(CANARY_RUNS):
            with spark_cost(spark) as cost:
                Q.REGISTRY[CANARY].fn(spark, sf_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
            best = cost.task_s if best is None else min(best, cost.task_s)
        canary_task = round(best, 3)

    timings: dict[str, float] = {}
    task_secs: dict[str, float] = {}
    cpu_secs: dict[str, float] = {}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    for name, qd in Q.REGISTRY.items():
        best = None
        best_task = None
        best_cpu = None
        for _ in range(RUNS):
            with spark_cost(spark) as cost:
                t0 = time.monotonic()
                df = qd.fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
            best_task = cost.task_s if best_task is None else min(best_task, cost.task_s)
            best_cpu = cost.cpu_s if best_cpu is None else min(best_cpu, cost.cpu_s)
        jobs[name], stages[name] = cost.jobs, cost.stages
        timings[name] = round(best, 3)
        task_secs[name] = round(best_task, 3)
        cpu_secs[name] = round(best_cpu, 3)

    payload = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_task_sec": task_secs,
        "queries_cpu_sec": cpu_secs,
        "queries_jobs": jobs,
        "queries_stages": stages,
        "task_sec_total": round(sum(task_secs.values()), 3),
        "cpu_sec_total": round(sum(cpu_secs.values()), 3),
        "canary_query": CANARY,
        "canary_task_sec": canary_task,
        "load_avg_start": round(load0, 2),
        "runs": RUNS,
        "sf": sf,
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_FULL_latest.json",
        ),
    )
    if out_path:
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
