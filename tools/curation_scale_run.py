"""Run the ORCHESTRATED curation chain at ladder scale and record
per-stage cost (r9 verdict item 5).

The composed registry twin (corpus_curation_pipeline) measures the four
curation stages as ONE Catalyst plan; the orchestrator runs them as
monitored per-day stages, each with a read -> transform -> staged
partition rewrite. This runner drives the REAL stage bodies
(orchestrator/curation.CurationActions._stage_action — the same code
the Monitor dispatches, including the curate_* cost histograms and the
staged overwrite) over a join-tier partition built from a scale-ladder
documents fixture, and prints per-stage wall + Spark task-seconds, so
SCALE.md can quantify the staged-rewrite overhead vs the composed twin.

Usage:
    python tools/curation_scale_run.py <sf_dir> [--stages s1,s2,...]

The chain defaults to the full STAGE_ORDER. The join partition is
(id=doc_id, text, date=2024-03-01) — the twin's corpus with the
orchestrator's column conventions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from datetime import date as Date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_gardener_spark.orchestrator import job as J
from etl_gardener_spark.orchestrator import metrics
from etl_gardener_spark.orchestrator.curation import (
    STAGE_ORDER,
    CurationActions,
    CurationSpec,
)
from etl_gardener_spark.orchestrator.job import Datasets
from etl_gardener_spark.session import get_spark
from etl_gardener_spark.sources.tables import load_table
from etl_gardener_spark.warehouse import Warehouse

DAY = Date(2024, 3, 1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--stages", default=",".join(STAGE_ORDER))
    ns = ap.parse_args()
    stages = tuple(ns.stages.split(","))

    spark = get_spark(app_name="curation-scale")
    spark.range(1000).count()  # warmup

    root = tempfile.mkdtemp(prefix="etl_gardener_spark_curscale_")
    try:
        wh = Warehouse(root)
        raw = load_table(spark, ns.sf_dir, "documents")
        # embeddings ride along on the join partition (doc_id = vec_id)
        # for the semantic_dedup stage; docs without a vector exercise
        # the unscorable-keep path
        emb = load_table(spark, ns.sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        docs = (
            raw.filter(F.col("source") != "src0")
            .join(emb, "doc_id", "left")
            .select(
                F.col("doc_id").alias("id"),
                "text",
                "embedding",
                F.lit(DAY.isoformat()).cast("date").alias("date"),
            )
        )
        wh.overwrite_partitions(docs, "join", "corpus", "webdocs")
        # source 'src0' plays the benchmark table for the decontam stage
        # (the corpus_curation_with_decontam convention)
        bench = raw.filter(F.col("source") == "src0").select(
            F.col("doc_id").alias("id"),
            "text",
            F.lit("2024-01-01").cast("date").alias("date"),
        )
        wh.overwrite_partitions(bench, "bench", "eval", "suite")
        n0 = wh.read_partition(spark, "join", "corpus", "webdocs", DAY).count()
        print(f"join partition rows: {n0}", flush=True)

        spec = CurationSpec(
            stages=stages,
            text_col="text",
            id_col="id",
            min_quality=0.25,
            jaccard_threshold=0.5,
            num_hashes=12,
            bands=4,  # pin the twin's banding for the comparison
            pack_capacity=2048,
            decontam_bench=("bench", "eval", "suite"),
        )
        job = J.Job(
            bucket="b",
            experiment="corpus",
            datatype="webdocs",
            date=DAY,
            datasets=Datasets(tmp="tmp_c", raw="raw_c", join="c"),
        )
        ca = CurationActions(spark, wh, lambda _j: spec)

        out = {}
        for stage in stages:
            with metrics.spark_cost(spark) as cost:
                t0 = time.monotonic()
                detail = ca._stage_action(stage)(job)
                wall = time.monotonic() - t0
            out[stage] = {
                "wall_sec": round(wall, 2),
                "task_sec": round(cost.task_s, 2),
                "detail": detail,
            }
            print(f"{stage}: wall={wall:.2f}s task={cost.task_s:.2f}s  {detail}",
                  flush=True)
        total_wall = sum(v["wall_sec"] for v in out.values())
        total_task = sum(v["task_sec"] for v in out.values())
        print(json.dumps({
            "sf_dir": ns.sf_dir,
            "rows_in": n0,
            "stages": out,
            "total_wall_sec": round(total_wall, 2),
            "total_task_sec": round(total_task, 2),
        }))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
