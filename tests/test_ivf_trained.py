"""Unit tests for the r9 trained-quantizer / shared-index additions:
kmeans_fit's first_k seeding, cosine_topk_ivf's centroids= and cells=
parameters, and pq_topk_ivf's centroids= parameter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 10.0 for j in range(8)])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_first_k_seeding_yields_k_centroids(vecs):
    """Under a filtered train corpus (even ids), id_lt_k seeding yields
    only the even seeds below k, while first_k always yields k."""
    even = vecs.filter(F.col("vec_id") % 2 == 0)
    _f1, c_lt = SIM.kmeans_fit(even, "vec_id", "embedding", k=8, n_iter=1)
    _f2, c_fk = SIM.kmeans_fit(
        even, "vec_id", "embedding", k=8, n_iter=1, seed="first_k"
    )
    # seeds with vec_id < 8 over even ids: 0,2,4,6 -> at most 4 clusters
    assert c_lt.count() <= 4
    assert c_fk.count() == 8
    # first_k cids are the dense rank range 0..k-1
    assert {r.cid for r in c_fk.collect()} <= set(range(8))
    with pytest.raises(ValueError):
        SIM.kmeans_fit(even, "vec_id", "embedding", k=8, seed="bogus")


def test_prebuilt_cells_equal_inline_build(vecs):
    """cosine_topk_ivf(cells=ivf_build_cells(...)) must return exactly
    the inline-build result, for both quantizers."""
    queries = vecs.filter(F.col("vec_id") < 5)
    _f, trained = SIM.kmeans_fit(vecs, "vec_id", "embedding", k=8, n_iter=1)
    for cents in (None, trained):
        inline = SIM.cosine_topk_ivf(
            vecs, queries, k=3, n_centroids=8, nprobe=2, centroids=cents
        )
        cells = SIM.ivf_build_cells(vecs, n_centroids=8, centroids=cents)
        shared = SIM.cosine_topk_ivf(
            vecs, queries, k=3, n_centroids=8, nprobe=2,
            centroids=cents, cells=cells,
        )
        a = {tuple(r) for r in inline.collect()}
        b = {tuple(r) for r in shared.collect()}
        assert a == b and a, "shared-index search must equal inline build"


def test_pq_topk_ivf_trained_centroids_run(vecs):
    """pq_topk_ivf accepts a fitted centroid relation and returns the
    contract shape; cells from a trained quantizer change WHICH
    candidates are read but keep the ADC ranking contract."""
    from etl_gardener_spark.operators import pq as PQ

    queries = vecs.filter(F.col("vec_id") < 3)
    _f, trained = SIM.kmeans_fit(vecs, "vec_id", "embedding", k=8, n_iter=1)
    out = PQ.pq_topk_ivf(
        vecs, queries, k=3, nprobe=2, m=2, sub_dim=4, k_sub=8,
        centroids=trained,
    ).collect()
    assert out
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_index_save_load_roundtrip(vecs, tmp_path):
    """Index-as-artifact: build trained cells + centroids, persist,
    load back, search — identical results to the in-memory build, and
    the cells table is laid out partitioned on cell (the pruning key).
    PQ codes round-trip alongside."""
    import os

    from etl_gardener_spark.operators import pq as PQ
    from etl_gardener_spark.operators.index_store import (
        load_ann_index,
        save_ann_index,
    )

    spark = vecs.sparkSession
    queries = vecs.filter(F.col("vec_id") < 5)
    _f, trained = SIM.kmeans_fit(vecs, "vec_id", "embedding", k=8, n_iter=1)
    cells = SIM.ivf_build_cells(vecs, n_centroids=8, centroids=trained)
    codes = PQ.pq_encode(vecs, "vec_id", "embedding", 2, 4, 8)
    d = str(tmp_path / "annidx")
    save_ann_index(d, cells, centroids=trained, codes=codes)

    idx = load_ann_index(spark, d)
    assert idx["codes"] is not None
    assert any(
        p.startswith("cell=") for p in os.listdir(os.path.join(d, "cells"))
    ), "cells must be partitioned on the pruning key"

    fresh = SIM.cosine_topk_ivf(
        vecs, queries, k=3, nprobe=2, centroids=trained, cells=cells
    )
    loaded = SIM.cosine_topk_ivf(
        vecs, queries, k=3, nprobe=2,
        centroids=idx["centroids"], cells=idx["cells"],
    )
    assert {tuple(r) for r in fresh.collect()} == {
        tuple(r) for r in loaded.collect()
    }

    # absent parts -> None (an IVF-Flat index has no codes)
    d2 = str(tmp_path / "annidx2")
    save_ann_index(d2, cells, centroids=trained)
    idx2 = load_ann_index(spark, d2)
    assert idx2["codes"] is None and idx2["cells"] is not None


def test_index_store_absence_vs_failure(vecs, tmp_path):
    """ADVICE r9 item 2: a part the _PARTS marker promises but that is
    missing/unreadable RAISES instead of silently mapping to None (which
    would send the caller to a differently-seeded quantizer fallback and
    collapse recall); genuinely unwritten parts still load as None."""
    import os
    import shutil

    from etl_gardener_spark.operators import similarity as SIM
    from etl_gardener_spark.operators.index_store import (
        load_ann_index,
        save_ann_index,
    )

    spark = vecs.sparkSession
    _f, trained = SIM.kmeans_fit(vecs, "vec_id", "embedding", k=4, n_iter=1)
    cells = SIM.ivf_build_cells(vecs, n_centroids=4, centroids=trained)
    d = str(tmp_path / "idx_damage")
    save_ann_index(d, cells, centroids=trained)

    # damage: remove a promised part entirely -> load must refuse
    shutil.rmtree(os.path.join(d, "centroids"))
    with pytest.raises(FileNotFoundError, match="centroids"):
        load_ann_index(spark, d)

    # an index never saved at all -> all-None, no error (no marker)
    empty = load_ann_index(spark, str(tmp_path / "never_saved"))
    assert empty == {
        "cells": None, "centroids": None, "codes": None, "codebooks": None
    }


def test_persisted_cells_prune_to_probed_partitions(vecs, tmp_path):
    """The 100 TB economics of the persisted index: cells are written
    partitioned ON the cell key, so restricting a search to its probed
    cells reads only those partitions' files. Asserted two ways: the
    optimized plan carries the cell partition filter, and inputFiles()
    of the probed scan lists files from probed-cell directories only."""
    import os

    from etl_gardener_spark.operators import similarity as SIM
    from etl_gardener_spark.operators.index_store import (
        load_ann_index,
        save_ann_index,
    )

    spark = vecs.sparkSession
    _f, trained = SIM.kmeans_fit(vecs, "vec_id", "embedding", k=8, n_iter=1)
    cells = SIM.ivf_build_cells(vecs, n_centroids=8, centroids=trained)
    d = str(tmp_path / "pruneidx")
    save_ann_index(d, cells, centroids=trained)
    idx = load_ann_index(spark, d)

    all_cells = sorted(
        r["cell"] for r in idx["cells"].select("cell").distinct().collect()
    )
    assert len(all_cells) > 2
    probed = all_cells[:2]
    pruned = idx["cells"].filter(F.col("cell").isin([int(c) for c in probed]))

    # the partition filter must reach the scan (static pruning on the
    # partition column), not run as a post-scan row filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], plan

    # correctness of the pruned read — collect() executes THIS df's own
    # QueryExecution, so the scan metrics below reflect this exact read
    # (count() would plan a separate aggregate query)
    expect = (
        cells.filter(F.col("cell").isin([int(c) for c in probed])).count()
    )
    assert len(pruned.collect()) == expect

    # post-execution scan metrics: files read < the index's total files
    leaves = pruned._jdf.queryExecution().executedPlan().collectLeaves()
    scan = leaves.apply(0)
    n_read = int(scan.metrics().apply("numFiles").value())
    total_files = len(idx["cells"].inputFiles())
    assert 0 < n_read < total_files, (n_read, total_files)


def test_ensure_ann_index_rebuild_on_corpus_change(vecs, tmp_path):
    """Rebuild-on-corpus-change policy: first ensure builds and records
    the corpus fingerprint; a second ensure on the UNCHANGED corpus
    loads without rebuilding (and searches equal the fresh build); any
    corpus change — append, delete, or vector edit — flips the
    fingerprint and triggers a rebuild."""
    from etl_gardener_spark.operators.index_store import (
        corpus_fingerprint,
        ensure_ann_index,
    )

    spark = vecs.sparkSession
    d = str(tmp_path / "ensureidx")
    _f, trained = SIM.kmeans_fit(vecs, "vec_id", "embedding", k=8, n_iter=1)

    first = ensure_ann_index(spark, d, vecs, centroids=trained)
    assert first["rebuilt"] is True
    second = ensure_ann_index(spark, d, vecs, centroids=trained)
    assert second["rebuilt"] is False
    assert second["fingerprint"] == first["fingerprint"]

    queries = vecs.filter(F.col("vec_id") < 3)
    fresh = SIM.cosine_topk_ivf(
        vecs, queries, k=3, nprobe=2, centroids=trained,
        cells=first["cells"],
    )
    loaded = SIM.cosine_topk_ivf(
        vecs, queries, k=3, nprobe=2,
        centroids=second["centroids"], cells=second["cells"],
    )
    assert {tuple(r) for r in fresh.collect()} == {
        tuple(r) for r in loaded.collect()
    }

    # corpus change: one appended vector -> fingerprint flips -> rebuild
    grown = vecs.unionByName(
        spark.createDataFrame([(999, [0.5] * 8)], ["vec_id", "embedding"])
    )
    assert corpus_fingerprint(grown) != first["fingerprint"]
    third = ensure_ann_index(spark, d, grown, centroids=trained)
    assert third["rebuilt"] is True
    assert third["cells"].count() == 41

    # fingerprint is order-independent: a shuffled corpus does NOT
    # trigger a rebuild
    shuffled = vecs.orderBy(F.rand(7))
    assert corpus_fingerprint(shuffled) == corpus_fingerprint(vecs)


def test_empty_index_roundtrip(spark, tmp_path):
    """An EMPTY corpus's index must round-trip (fuzz seed 0 class): the
    parquet write of an empty relation leaves only _SUCCESS, which
    parquet cannot infer a schema from — load reconstructs the empty
    parts from the v2 marker's saved schemas, and a search over the
    loaded empty index returns 0 rows instead of raising. Data present
    but unreadable still raises (absence-vs-failure unchanged)."""
    from etl_gardener_spark.operators import pq as PQ
    from etl_gardener_spark.operators.index_store import (
        load_ann_index,
        save_ann_index,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents = SIM.ivf_centroids(empty, "vec_id", "embedding", 4)
    from etl_gardener_spark.functions.localrel import local_df

    cents_df = local_df(
        spark, [(c, v) for c, v in cents], "cid long, cvec array<double>"
    )
    cells = SIM.ivf_build_cells(empty, n_centroids=4, centroids=cents_df)
    codes = PQ.pq_encode(empty, "vec_id", "embedding", 2, 4, 4)
    d = str(tmp_path / "emptyidx")
    save_ann_index(d, cells, centroids=cents_df, codes=codes)
    idx = load_ann_index(spark, d)
    assert idx["cells"].count() == 0
    assert idx["codes"].count() == 0
    assert set(idx["cells"].columns) == {"neighbor_id", "c_vec", "cell"}
    out = SIM.cosine_topk_ivf(
        empty, empty, k=3, nprobe=2,
        centroids=idx["centroids"], cells=idx["cells"],
    )
    assert out.count() == 0


def test_ensure_rebuilds_when_parts_deleted_out_of_band(vecs, tmp_path):
    """r10 advisor fix: a matching _CORPUS_FPRINT with the index parts
    deleted out-of-band must NOT return a silently unusable all-None
    index — ensure falls through to the rebuild branch."""
    import shutil

    from etl_gardener_spark.operators.index_store import ensure_ann_index

    spark = vecs.sparkSession
    d = str(tmp_path / "goneidx")
    _f, trained = SIM.kmeans_fit(vecs, "vec_id", "embedding", k=8, n_iter=1)
    first = ensure_ann_index(spark, d, vecs, centroids=trained)
    assert first["rebuilt"] is True
    # simulate out-of-band deletion of everything but the fingerprint
    for part in ("cells", "centroids", "codes", "_PARTS"):
        shutil.rmtree(f"{d}/{part}", ignore_errors=True)
        import os as _os

        if _os.path.isfile(f"{d}/{part}"):
            _os.remove(f"{d}/{part}")
    again = ensure_ann_index(spark, d, vecs, centroids=trained)
    assert again["rebuilt"] is True
    assert again["cells"] is not None and again["centroids"] is not None
    assert again["cells"].count() == 40


def test_marker_utf8_roundtrip(spark, tmp_path):
    """r10 advisor fix: the _PARTS marker must survive non-ASCII schema
    payloads (writeBytes kept only the low byte of each char)."""
    from etl_gardener_spark.operators.index_store import (
        _read_marker,
        _write_marker,
    )

    d = str(tmp_path / "utf8idx")
    payload = '{"name":"名前μ","type":"string"}'
    _write_marker(spark, d, {"cells": payload})
    got = _read_marker(spark, d)
    assert got == {"cells": payload}


def test_fingerprint_sees_null_elements(spark):
    """r10 advisor fix: vectors differing only by NULL components (or a
    NULL array vs an empty array) must produce different corpus
    fingerprints, so the rebuild policy notices the change."""
    from etl_gardener_spark.operators.index_store import corpus_fingerprint

    schema = "vec_id long, embedding array<double>"
    a = spark.createDataFrame([(1, [1.0, None])], schema)
    b = spark.createDataFrame([(1, [1.0])], schema)
    c = spark.createDataFrame([(1, None)], schema)
    d = spark.createDataFrame([(1, [])], schema)
    fps = {corpus_fingerprint(x) for x in (a, b, c, d)}
    assert len(fps) == 4, fps


def test_opq_rotation_and_codebooks_roundtrip(spark, tmp_path):
    """Persisted OPQ pretransform (r11): the rotation marker round-trips
    EXACTLY (int64 micros end to end), absence returns None, a garbled
    marker raises (absence-vs-failure — searching under a different
    rotation than the codes were built with silently destroys recall),
    and the new ``codebooks`` index part round-trips a pq_fit relation
    including the empty case."""
    from etl_gardener_spark.operators import pq as PQ
    from etl_gardener_spark.operators.index_store import (
        _fs_and_path,
        load_ann_index,
        load_opq_rotation,
        save_ann_index,
        save_opq_rotation,
    )

    d = str(tmp_path / "opqidx")
    assert load_opq_rotation(spark, d) is None  # genuinely absent

    r = PQ._identity_e6(8)
    r[0][3] = -123456
    save_opq_rotation(spark, d, r)
    assert load_opq_rotation(spark, d) == r

    # garbled marker: raises, never returns a wrong rotation
    fs, p = _fs_and_path(spark, d + "/_OPQ_R")
    out = fs.create(p, True)
    out.write(bytearray(b"v1\n8\n1,2,garbage\n"))
    out.close()
    with pytest.raises(ValueError, match="corrupt OPQ rotation"):
        load_opq_rotation(spark, d)

    # codebooks part round-trip (populated + empty)
    corpus = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    cb = PQ.pq_fit(corpus, "vec_id", "embedding", m=2, sub_dim=4, k_sub=2)
    anchor = spark.createDataFrame(
        [], "neighbor_id long, c_vec array<double>, cell long"
    )
    d2 = str(tmp_path / "cbidx")
    save_ann_index(d2, anchor, codebooks=cb)
    got = load_ann_index(spark, d2)["codebooks"]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, cb.collect())
    )
    d3 = str(tmp_path / "cbempty")
    save_ann_index(d3, anchor, codebooks=cb.filter(F.lit(False)))
    got_empty = load_ann_index(spark, d3)["codebooks"]
    assert got_empty is not None and got_empty.count() == 0
    # an index saved WITHOUT codebooks keeps reporting absence
    d4 = str(tmp_path / "nocb")
    save_ann_index(d4, anchor)
    assert load_ann_index(spark, d4)["codebooks"] is None


def test_ivfpq_trained_job_count(spark):
    """One ``emb_ann_topk_ivfpq_trained`` call at sf0.01, built and run:
    the fit's size probe and collect, the seeded codebook collect, the
    bounded query read, and the 2 jobs of the search (the numpy scoring
    pass and the ranking window). The centroids and codebook reach the
    kernels without a job, and the probes and query tables are built on
    the driver (15 jobs when the kernels were Catalyst lambda folds, 11
    while the query probes were a Catalyst window over a broadcast cross
    join, 9 while the search joined exploded codes to broadcast probes
    and tables)."""
    import os

    from etl_gardener_spark.orchestrator.metrics import spark_cost
    from etl_gardener_spark.plans import queries as Q
    from etl_gardener_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    fn = Q.REGISTRY["emb_ann_topk_ivfpq_trained"].fn
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    load_table(spark, sf, "embeddings")  # caches the schema: not counted
    with spark_cost(spark) as cost:
        fn(spark, sf).write.format("noop").mode(
            "overwrite"
        ).save()
    assert cost.jobs == 6, cost
