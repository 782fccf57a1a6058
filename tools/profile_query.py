"""Per-query cost breakdown: driver-side plan construction vs executor
work, plus the Spark job count a single run schedules.

For each named query (or --top N from a bench JSON) this reports:

    build_s   wall spent inside ``fn(spark, sf_dir)`` — pure driver-side
              Python + plan construction; any eager action inside the
              query body (count/collect/localCheckpoint(eager)) lands
              here too.
    exec_s    wall of the final noop write.
    task_s    executorRunTime summed over the stages of the run's jobs
              (``orchestrator.metrics.spark_cost``).
    cpu_s     executorCpuTime ditto.
    stages    distinct stages of the run's jobs.
    jobs      Spark jobs scheduled by the run (actions; each pays
              scheduler+planning latency serially unless overlapped).

Usage: python tools/profile_query.py name [name ...] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from etl_gardener_spark.orchestrator.metrics import spark_cost
from etl_gardener_spark.plans import queries as Q
from etl_gardener_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--bench", default=str(ROOT / "BENCH_FULL_r10.json"))
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        b = json.load(open(args.bench))
        ranked = sorted(b["queries"].items(), key=lambda kv: -kv[1])
        names += [n for n, _ in ranked[: args.top] if n not in names]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile")
    spark.range(1000).count()

    print(
        f"{'query':45s} {'build_s':>8s} {'exec_s':>8s} {'task_s':>8s}"
        f" {'cpu_s':>8s} {'stages':>7s} {'jobs':>5s}"
    )
    for name in names:
        if name not in Q.REGISTRY:
            print(f"{name:45s}  -- not in registry --")
            continue
        best = None
        for _ in range(args.runs):
            with spark_cost(spark) as cost:
                t0 = time.monotonic()
                df = Q.REGISTRY[name].fn(spark, sf_dir)
                t1 = time.monotonic()
                df.write.mode("overwrite").format("noop").save()
                t2 = time.monotonic()
            row = (t1 - t0, t2 - t1, cost.task_s, cost.cpu_s, cost.stages, cost.jobs)
            if best is None or (row[0] + row[1]) < (best[0] + best[1]):
                best = row
        b, e, task, cpu, nstages, njobs = best
        print(
            f"{name:45s} {b:8.2f} {e:8.2f} {task:8.2f} {cpu:8.2f}"
            f" {nstages:7d} {njobs:5d}"
        )


if __name__ == "__main__":
    main()
