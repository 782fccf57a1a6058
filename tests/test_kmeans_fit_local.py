"""``kmeans_fit`` trains a corpus within its bounds on the driver
(``similarity._lloyd_local``) and a larger one with the distributed
Lloyd loop (``similarity._lloyd_distributed``).

The distributed loop is the bit-equality reference: with ``_FIT_ROWS``
patched to 0 every corpus takes it. Centroids compare as ``float.hex``
(NULL as None), final assignments as row sets.
"""

from __future__ import annotations

import uuid
from unittest import mock

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.operators import similarity as SIM
from etl_gardener_spark.orchestrator.metrics import spark_cost
from etl_gardener_spark.sources.tables import load_table

SCHEMA = "vec_id long, embedding array<double>"


def _reference_fit(df, id_col, vec_col, **kw):
    """kmeans_fit forced onto the distributed loop."""
    with mock.patch.object(SIM, "_FIT_ROWS", 0):
        return SIM.kmeans_fit(df, id_col, vec_col, **kw)


def _hex(cents):
    return [
        (int(r[0]), None if r[1] is None
         else [None if x is None else float(x).hex() for x in r[1]])
        for r in sorted(cents.collect(), key=lambda r: r[0])
    ]


def _outcome(fit, df, **kw):
    """(centroids as hex, final assignment) or the exception type."""
    try:
        final, cents = fit(df, "vec_id", "embedding", **kw)
        return _hex(cents), sorted(tuple(r) for r in final.collect())
    except Exception as exc:  # noqa: BLE001 - the type is the outcome
        return type(exc).__name__


@pytest.fixture(scope="module")
def emb(spark):
    return {
        sf: load_table(spark, f"/root/testdata/{sf}", "embeddings")
        for sf in ("sf0.01", "sf0.1")
    }


@pytest.mark.parametrize(
    "sf,k,n_iter,seed,even",
    [
        ("sf0.01", 8, 1, "id_lt_k", False),
        ("sf0.01", 16, 3, "first_k", False),
        ("sf0.01", 8, 2, "id_lt_k", True),
        ("sf0.01", 8, 2, "first_k", True),
        ("sf0.1", 16, 2, "id_lt_k", False),
        ("sf0.1", 8, 3, "first_k", False),
        ("sf0.1", 16, 1, "first_k", True),
    ],
)
def test_fit_matches_distributed_reference(emb, sf, k, n_iter, seed, even):
    df = emb[sf]
    if even:
        df = df.filter(F.col("vec_id") % 2 == 0)
    kw = dict(k=k, n_iter=n_iter, seed=seed)
    ref = _outcome(_reference_fit, df, **kw)
    assert not isinstance(ref, str), ref
    assert _outcome(SIM.kmeans_fit, df, **kw) == ref


def _edge_rows():
    """Seeds 0..3 on the axes; id 4 ties cids 0 and 1 exactly; id 10
    joins cid 2 with a pos-0 value whose mean with the seed's 0 is
    0.1234565 (the 7th decimal exactly 5); the NaN row poisons cid 0,
    which then scores FLOOR(NaN) = 0 and so wins id 27, whose true
    cosines are all negative; the rest are the NULL, zero and empty
    cases."""
    return [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (4, [0.5, 0.5, 0.0, 0.0]),
        (10, [0.246913, 0.0, 1.0, 0.0]),
        (20, None),
        (21, [0.25, None, 0.5, 0.0]),
        (22, [0.0, 0.0, 0.0, 0.0]),
        (23, []),
        (24, [float("nan"), 0.0, 0.0, 1.0]),
        (25, [0.0, 0.3, 0.0, 0.9]),
        (26, [0.7, 0.0, 0.0, 0.2]),
        (27, [-0.5, -0.5, -0.5, -0.5]),
    ]


EDGE_CASES = {
    # k above the row count: id_lt_k and first_k both seed fewer than k
    "fewer_seeds": ([r for r in _edge_rows() if r[0] in (0, 1, 25)], 8,
                    False),
    "specials": (_edge_rows(), 4, False),
    # the empty-array seed scores -2 against everything, so it wins only
    # the all-sentinel rows, which carry no elements: cid 0 drops out
    "empty_cluster": (
        [(0, []), (1, [0.0, 1.0]), (2, [1.0, 0.0]), (5, None),
         (6, [0.5, 0.2])],
        3,
        False,
    ),
    # the NULL-component row is a seed: both paths must raise
    "null_seed": ([(0, [1.0, None]), (1, [0.0, 1.0]), (5, [1.0, 1.0])], 2,
                  True),
    "null_vec_seed": ([(0, None), (1, [0.0, 1.0]), (5, [1.0, 1.0])], 2,
                      True),
    # ids 2 and 3 tie cids 0 and 1 at score 0 (1e308 / inf = 0), so cid
    # 0's pos-0 mean sums 1 + 1e308 + 1e308: fsum overflows and the
    # sorted fallback, like every Spark summation order, gives inf
    "overflow": ([(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1e308, 0.0]),
                  (3, [1e308, 0.0])], 2, False),
    # ids 2 and 3 score NaN -> 0 against both seeds, so they join cid 0
    # and its pos-0 mean sums inf and -inf: fsum raises and the sorted
    # fallback, like Spark, gives NaN
    "opposite_infinities": ([(0, [1.0, 0.0]), (1, [0.0, 1.0]),
                             (2, [float("inf"), 1.0]),
                             (3, [float("-inf"), 1.0])], 2, False),
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
@pytest.mark.parametrize("seed", ["id_lt_k", "first_k"])
def test_edge_fixture_matches_reference(spark, case, seed):
    rows, k, raises = EDGE_CASES[case]
    # cached: every scan of a Python-list relation runs Python workers
    df = spark.createDataFrame(rows, SCHEMA).repartition(3).cache()
    try:
        for n_iter in (1, 2, 3):
            kw = dict(k=k, n_iter=n_iter, seed=seed)
            ref = _outcome(_reference_fit, df, **kw)
            assert isinstance(ref, str) == raises, ref
            got = _outcome(SIM.kmeans_fit, df, **kw)
            assert got == ref, (case, seed, n_iter)
    finally:
        df.unpersist()


def test_midpoint_mean_rounds_half_up(spark):
    df = spark.createDataFrame(_edge_rows(), SCHEMA)
    _final, cents = SIM.kmeans_fit(df, "vec_id", "embedding", k=4, n_iter=1)
    cvec = dict(_hex(cents))[2]
    assert cvec[0] == (0.123457).hex()


def test_string_ids_first_k(spark):
    rows = [(f"d{i:02d}", v) for i, (_i, v) in enumerate(_edge_rows())
            if v and None not in v]
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    ).cache()
    try:
        for n_iter in (1, 2):
            kw = dict(k=4, n_iter=n_iter, seed="first_k")
            got = _outcome(SIM.kmeans_fit, df, **kw)
            assert not isinstance(got, str), got
            assert got == _outcome(_reference_fit, df, **kw)
    finally:
        df.unpersist()


def test_row_permutation_gives_identical_centroids(emb):
    df = emb["sf0.1"]
    perm = df.orderBy(F.hash("vec_id", F.lit(41))).repartition(5)
    a = SIM.kmeans_fit(df, "vec_id", "embedding", k=16, n_iter=2)[1]
    b = SIM.kmeans_fit(perm, "vec_id", "embedding", k=16, n_iter=2)[1]
    assert _hex(a) == _hex(b)


def test_fit_job_count(spark, emb):
    """Within the bounds the fit is two jobs, the size probe and the
    collect; the returned centroid relation is a local relation, so
    reading it runs no job (the distributed loop runs 9 jobs before
    it)."""
    df = emb["sf0.1"]
    with spark_cost(spark) as fit:
        _final, cents = SIM.kmeans_fit(df, "vec_id", "embedding", k=16)
    with spark_cost(spark) as read:
        cents.collect()
    assert (fit.jobs, read.jobs) == (2, 0)


def _driver_bytes(spark, fn):
    """(fn(), the largest result a job launched by fn sent to the
    driver from its final stage, in bytes)."""
    sc = spark.sparkContext
    tag = f"fit-rows-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, jvm = jsc.statusStore(), sc._jvm
    largest = 0
    for job_id in jsc.statusTracker().getJobIdsForTag(tag):
        ids = store.job(job_id).stageIds()
        last = max(ids.apply(i) for i in range(ids.size()))
        attempts = store.stageData(
            last, False, jvm.java.util.ArrayList(), False,
            sc._gateway.new_array(jvm.double, 0),
        )
        size = sum(attempts.apply(i).resultSize() for i in range(attempts.size()))
        largest = max(largest, size)
    return out, largest


def test_fit_rows_bounds_what_the_driver_receives(spark, emb):
    """Above either bound ``_fit_rows`` declines after a size probe, so
    no vector reaches the driver. Above the row bound the probe ships one
    small result however the corpus is partitioned: an ordered limit
    collected with ``collect`` ships each of the 16 partitions' top 51
    rows, about 16 x 51 x 64 doubles. Above the value bound it ships the 2,000
    sizes, not the 2,000 x 64 doubles (about 1 MB)."""
    vecs = emb["sf0.1"].select("vec_id", "embedding").repartition(16).cache()

    def probe():
        return _driver_bytes(spark, lambda: SIM._fit_rows(vecs, "embedding"))

    try:
        assert vecs.count() == 2000
        with mock.patch.object(SIM, "_FIT_ROWS", 50):
            rows, largest = probe()
        assert rows is None
        assert largest < 16 * 1024, largest
        with mock.patch.object(SIM, "_FIT_VALUES", 1000):
            rows, largest = probe()
        assert rows is None
        assert largest < 128 * 1024, largest
        rows, _largest = probe()
        assert len(rows) == 2000
    finally:
        vecs.unpersist()
