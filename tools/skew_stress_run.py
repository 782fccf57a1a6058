"""Skew-stress ladder for the dedup/ANN families (r10 verdict item 7).

Every prior ladder ran the near-uniform synthetic corpus; the 100 TB
claim ("banded buckets, never all-pairs") is only as good as its
behavior when one LSH band bucket / one IVF cell goes HOT — the
boilerplate-page / dense-cluster shape real crawls produce. This runner
plants the skew deterministically and measures wall + task-seconds +
effective parallelism (task_s / wall / cores — a straggler shows up as
parallelism collapsing toward 1/cores) for:

* ``minhash_lsh_pairs`` (the doc_minhash_lsh_pairs kernel, pinned 12/4
  banding) over a corpus where ``hot_frac`` of docs are near-dups of one
  template — they largely share one (band, band_key) bucket, so the
  candidate self-join output is quadratic in the hot-group size BY
  CONSTRUCTION (bucket heat in minhash IS similarity: you cannot plant
  a hot bucket without planting near-dups). The question measured is
  whether Spark turns the hot bucket into a straggler (AQE skew-join
  split vs one giant task), separately from the inherent pair count.
* ``minhash_lsh_candidates`` alone at a larger ``cand_hot_frac`` — the
  shuffle/join half without the verify join, so the heat can go higher
  than the verify stage could afford.
* ``cosine_topk_ivf`` over embeddings where ``hot_frac`` of vectors
  collapse into centroid HOT_CID's cell — probed searches touching the
  hot cell scan its whole occupancy.

Usage: python tools/skew_stress_run.py <sf_dir> [--hot-frac 0.05]
           [--cand-hot-frac 0.2] [--cores 32]
Prints one JSON line per phase plus a summary line for SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_gardener_spark.operators import neardup as ND
from etl_gardener_spark.operators import similarity as SIM
from etl_gardener_spark.orchestrator import metrics
from etl_gardener_spark.session import get_spark
from etl_gardener_spark.sources.tables import load_table

HOT_CID = 7
TEMPLATE = " ".join(
    f"boiler{i} plate{i} footer{i}" for i in range(14)
)  # 42 shared words -> ~40 shared 3-shingles per hot doc


def _measure(spark, fn, reps: int = 1):
    best = None
    for _ in range(reps):
        with metrics.spark_cost(spark) as cost:
            t0 = time.monotonic()
            n = fn()
            wall = time.monotonic() - t0
        if best is None or wall < best[0]:
            best = (wall, cost.task_s, n)
    return {
        "wall_sec": round(best[0], 2),
        "task_sec": round(best[1], 2),
        "rows_out": best[2],
    }


def _skew_docs(docs, hot_frac: float, tail_words: int = 4):
    """Replace a deterministic hot_frac of texts with TEMPLATE + a tiny
    unique tail: pairwise jaccard ~0.83 (true near-dups) and most hot
    docs share one (band, band_key) per band."""
    mod = max(2, int(round(1.0 / hot_frac)))
    tail = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"u{t}x"), F.col("doc_id").cast("string"))
            for t in range(tail_words)
        ],
    )
    hot = F.concat(F.lit(TEMPLATE + " "), tail)
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % mod == 0, hot).otherwise(F.col("text")),
    )


def _skew_embeddings(emb, hot_frac: float, dim: int = 64):
    """Pull a deterministic hot_frac of vectors into a tight ball around
    the HOT_CID centroid (first-C-ids seeding -> vec HOT_CID is the
    centroid), leaving the centroid ids themselves untouched."""
    mod = max(2, int(round(1.0 / hot_frac)))
    rng = random.Random(11)
    jitter = [
        [rng.uniform(-1e-3, 1e-3) for _ in range(dim)] for _ in range(16)
    ]
    center = emb.filter(F.col("vec_id") == HOT_CID).select(
        F.col("embedding").alias("__c")
    )
    jit = F.element_at(
        F.lit(jitter), (F.col("vec_id") % 16 + 1).cast("int")
    )
    return (
        emb.crossJoin(F.broadcast(center))
        .withColumn(
            "embedding",
            F.when(
                (F.col("vec_id") % mod == 0) & (F.col("vec_id") >= 16),
                F.zip_with("__c", jit, lambda a, b: a.cast("double") + b),
            ).otherwise(F.col("embedding").cast("array<double>")),
        )
        .drop("__c")
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--hot-frac", type=float, default=0.05)
    ap.add_argument("--cand-hot-frac", type=float, default=0.2)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--phases", default="pairs,cand,ivf")
    ap.add_argument("--cap", type=int, default=None,
                    help="max_bucket star-cap for the cand phase")
    ns = ap.parse_args()
    phases = set(ns.phases.split(","))

    spark = get_spark(app_name="skew-stress")
    spark.range(1000).count()  # warmup
    out = {"sf_dir": ns.sf_dir, "hot_frac": ns.hot_frac,
           "cand_hot_frac": ns.cand_hot_frac}

    docs = load_table(spark, ns.sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    variants = {
        "uniform": docs.localCheckpoint(eager=True),
        "skew": _skew_docs(docs, ns.hot_frac).localCheckpoint(eager=True),
    }
    for name, df in variants.items() if "pairs" in phases else ():
        m = _measure(
            spark,
            lambda df=df: ND.minhash_lsh_pairs(
                df, "text", "doc_id", num_hashes=12, bands=4, threshold=0.5
            ).count(),
        )
        m["parallelism"] = round(
            m["task_sec"] / max(m["wall_sec"], 1e-9) / ns.cores, 3
        )
        out[f"pairs_{name}"] = m
        print(json.dumps({f"pairs_{name}": m, "n_docs": n_docs}), flush=True)

    cand_iter = (
        (("uniform", variants["uniform"]),
         ("skew", _skew_docs(docs, ns.cand_hot_frac).localCheckpoint(
             eager=True)))
        if "cand" in phases else ()
    )
    for name, df in cand_iter:
        def run(df=df):
            sig = ND.minhash_signature(df, "text", "doc_id", num_hashes=12)
            return ND.minhash_lsh_candidates(
                sig, "doc_id", num_hashes=12, bands=4, max_bucket=ns.cap
            ).count()
        m = _measure(spark, run)
        m["parallelism"] = round(
            m["task_sec"] / max(m["wall_sec"], 1e-9) / ns.cores, 3
        )
        m["cap"] = ns.cap
        out[f"cand_{name}"] = m
        print(json.dumps({f"cand_{name}": m}), flush=True)

    emb = load_table(spark, ns.sf_dir, "embeddings")
    n_emb = emb.count()
    evar = {
        "uniform": emb.localCheckpoint(eager=True),
        "skew": _skew_embeddings(emb, 0.2).localCheckpoint(eager=True),
    }
    for name, e in evar.items() if "ivf" in phases else ():
        cells = SIM.ivf_build_cells(e, n_centroids=16)
        occ = {
            int(r["cell"]): int(r["n"])
            for r in cells.groupBy("cell").agg(
                F.count("*").alias("n")
            ).collect()
        }
        m = _measure(
            spark,
            lambda e=e, cells=cells: SIM.cosine_topk_ivf(
                e, e.filter(F.col("vec_id") < 10), k=5,
                n_centroids=16, nprobe=4, cells=cells,
            ).count(),
        )
        m["parallelism"] = round(
            m["task_sec"] / max(m["wall_sec"], 1e-9) / ns.cores, 3
        )
        m["hot_cell_occupancy"] = max(occ.values()) if occ else 0
        m["hot_cell_frac"] = round(
            (max(occ.values()) / n_emb) if occ and n_emb else 0.0, 3
        )
        out[f"ivf_{name}"] = m
        print(json.dumps({f"ivf_{name}": m, "n_emb": n_emb}), flush=True)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
