"""Round-7 additions: zero-job local relations (functions/localrel),
SemDeDup auto-k (the executable k∝n contract), and LSH auto-tuning
keyed on corpus size + threshold."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.functions.localrel import local_df
from etl_gardener_spark.operators.neardup import (
    lsh_auto_params,
    minhash_lsh_pairs,
)
from etl_gardener_spark.orchestrator.metrics import spark_cost
from etl_gardener_spark.operators.similarity import (
    semantic_dedup,
    semdedup_auto_k,
)
from etl_gardener_spark.sources.tables import load_table

from tests.conftest import SF_DIR


def test_local_df_zero_job_scans_and_null_nan_semantics(spark):
    nan = float("nan")
    rows = [
        ("a", 1, None, [1.0, None], (None, 2.0)),
        ("b", 2, nan, [nan, 3.0], (nan, None)),
        ("c", 3, 4.0, None, None),
    ]
    df = local_df(
        spark, rows,
        "k string, n long, x double, v array<double>, "
        "st struct<p: double, q: double>",
    )
    # a local relation: every scan plans a LocalTableScan and runs no job
    for scan in (
        df.collect,
        lambda: df.select("n").collect(),
        lambda: df.filter(F.col("n") > 1).limit(1).collect(),
    ):
        with spark_cost(spark) as cost:
            scan()
        assert cost.jobs == 0, scan
    got = {r["k"]: r for r in df.collect()}
    # None stays NULL and NaN stays NaN: a double, array elements and
    # struct fields
    assert got["a"]["x"] is None
    assert math.isnan(got["b"]["x"])
    assert got["a"]["v"][1] is None and math.isnan(got["b"]["v"][0])
    assert got["c"]["v"] is None and got["c"]["st"] is None
    assert got["a"]["st"]["p"] is None and got["a"]["st"]["q"] == 2.0
    assert math.isnan(got["b"]["st"]["p"]) and got["b"]["st"]["q"] is None
    # the same rows through Spark's own SQL see the same NULL/NaN split
    flags = df.select(
        "k",
        F.isnull("x").alias("xn"),
        F.isnan("x").alias("xnan"),
        F.isnull(F.col("v")[0]).alias("v0n"),
        F.isnan(F.col("v")[0]).alias("v0nan"),
    ).collect()
    assert {tuple(r) for r in flags} == {
        ("a", True, False, False, False),
        ("b", False, True, False, True),
        ("c", False, False, True, False),
    }
    empty = local_df(spark, [], "k string, v array<double>")
    with spark_cost(spark) as cost:
        assert empty.collect() == []
    assert cost.jobs == 0 and empty.columns == ["k", "v"]


def test_local_df_empty_rows_with_explicit_schema(spark):
    df = local_df(spark, [], "k string, n long")
    assert df.count() == 0
    assert df.columns == ["k", "n"]


def test_semdedup_auto_k_contract():
    assert semdedup_auto_k(0) == 8  # floor
    assert semdedup_auto_k(5_000) == 8  # small corpus -> k_min
    assert semdedup_auto_k(1_024_000) == 1000  # k grows linearly with n
    # doubling n doubles k above the floor: cluster size stays bounded
    assert semdedup_auto_k(2_048_000) == 2 * semdedup_auto_k(1_024_000)


def test_semantic_dedup_auto_k_matches_explicit_at_floor(spark):
    e = load_table(spark, SF_DIR, "embeddings")
    # test corpus is far below target_cluster_size * k_min, so auto-k
    # resolves to the same k=8 the registry oracle pins — results must
    # be identical row-for-row
    auto = semantic_dedup(e, "vec_id", "embedding", n_iter=2, threshold=0.4)
    pinned = semantic_dedup(
        e, "vec_id", "embedding", k=8, n_iter=2, threshold=0.4
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, pinned.collect())
    )


def test_lsh_auto_params_properties():
    # deterministic
    assert lsh_auto_params(50_000, 0.5) == lsh_auto_params(50_000, 0.5)
    # rows grow with corpus size (one per decade), bounding spurious
    # band collisions; num_hashes = bands * rows by construction
    for n in (100, 10_000, 1_000_000):
        num, bands = lsh_auto_params(n, 0.5)
        assert num % bands == 0
        assert num <= 144
    r_small = lsh_auto_params(1_000, 0.5)[0] // lsh_auto_params(1_000, 0.5)[1]
    r_big = (
        lsh_auto_params(1_000_000, 0.5)[0]
        // lsh_auto_params(1_000_000, 0.5)[1]
    )
    assert r_big > r_small
    # banding re-centers on the threshold: (1/bands)^(1/rows) ~ t
    num, bands = lsh_auto_params(100_000, 0.5)
    rows = num // bands
    t_eff = (1.0 / bands) ** (1.0 / rows)
    assert 0.3 < t_eff < 0.7
    with pytest.raises(ValueError):
        lsh_auto_params(100, 0.0)
    with pytest.raises(ValueError):
        lsh_auto_params(-1, 0.5)


def test_minhash_lsh_pairs_auto_equals_pinned_tuning(spark):
    d = load_table(spark, SF_DIR, "documents").limit(60)
    n_docs = d.count()
    num, bands = lsh_auto_params(n_docs, 0.5)
    auto = minhash_lsh_pairs(d, "text", "doc_id", threshold=0.5)
    pinned = minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=num, bands=bands, threshold=0.5
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, pinned.collect())
    )
    with pytest.raises(ValueError):
        minhash_lsh_pairs(d, "text", "doc_id", num_hashes=12)
    with pytest.raises(ValueError):
        minhash_lsh_pairs(d, "text", "doc_id", bands=4)


def test_auto_mode_keys_banding_on_hashes_coverage(spark, monkeypatch):
    """r7 advice item 3: when a pre-materialized `hashes` relation is
    passed in auto mode, the banding must be derived from ITS coverage
    (hashes.count()), not the full df — the caller may have filtered the
    hash relation (the incremental-containment pass-through pattern).
    Without `hashes`, df.count() stays the key (what the registered
    dynamic oracle recomputes via COUNT(*))."""
    from etl_gardener_spark.operators import neardup as ND

    captured = []
    real = ND.lsh_auto_params

    def spy(n, threshold, max_hashes=144):
        captured.append(n)
        return real(n, threshold, max_hashes)

    monkeypatch.setattr(ND, "lsh_auto_params", spy)
    rows = [(i, f"alpha beta gamma w{i} delta epsilon") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = ND.shingle_hash_sets(df, "text", "doc_id", 3).localCheckpoint(
        eager=True
    )
    half = sh.filter("doc_id % 2 = 0")
    ND.minhash_lsh_pairs(df, "text", "doc_id", hashes=half).collect()
    assert captured == [10], captured  # the filtered coverage, not 20
    captured.clear()
    ND.minhash_lsh_pairs(df, "text", "doc_id").collect()
    assert captured == [20], captured  # full corpus without hashes=
