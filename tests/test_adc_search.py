"""The numpy ADC search pass against the Catalyst search trees it replaced.

Every PQ search scores its candidates in ``pq._adc_pass``: the query
tables are built on the driver and each Arrow batch of the corpus is
encoded and scored in numpy, keeping per query every row no worse than
the batch's k-th best. The references (``tests/test_pq_fit_kernels``)
are the former production trees: melted codes joined to the cells, the
probes and a broadcast query table, then a ``groupBy`` sum. The
fixtures tie at the k-th score, and every comparison runs on 3
partitions with 2-row Arrow batches, so the per-batch pruning decides
ties. Where a corpus id, query id or centroid cid is duplicated the two
differ on purpose (each row stands alone); those tests pin that.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.functions.localrel import TooManyRows, local_df
from etl_gardener_spark.operators import pq as PQ
from etl_gardener_spark.operators import similarity as SIM
from tests.test_assign_encode_kernels import ref_melt_codes
from tests.test_pq_fit_kernels import (
    _canon,
    ref_adc_topk,
    ref_exploded_codes_sub,
    ref_ivf_adc,
    ref_query_dist_table_sub,
    ref_residual_adc,
    ref_residual_parts,
)

NAN, INF = float("nan"), float("inf")
M, SUB, KSUB = 2, 2, 4
SCHEMA = "vec_id long, embedding array<double>"
STR_SCHEMA = "doc string, embedding array<float>"
CB_SCHEMA = "s int, cid long, cvec array<double>"
CENT_SCHEMA = "cid long, cvec array<double>"


@pytest.fixture(autouse=True)
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


def _rel(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema).repartition(3)


# 6 distinct vectors, 4 copies each: scores tie at every k
GRID = [
    (i, [float(i % 3), float(i % 2), float(i // 2 % 3), float(i // 3 % 2)])
    for i in range(24)
]
CORPUS = GRID + [
    (30, None),  # NULL vector
    (31, [1.0, None, 0.0, 1.0]),  # NULL component
    (32, [NAN, 0.0, 0.0, 1.0]),
    (None, [1.0, 0.0, 0.0, 1.0]),  # NULL id
    (33, [1.0, 0.0, 1.0, 0.0, 7.0]),  # longer than m*sub_dim
]
# corpus rows, a NULL vector, a NULL component, a NULL id and an id
# that is not in the corpus
QUERIES = [GRID[0], GRID[1], GRID[5], GRID[13], CORPUS[24], CORPUS[25],
           (None, [0.0, 1.0, 1.0, 0.0]), (90, [2.0, 1.0, 0.0, 1.0])]
# a NULL cid (sorted first), a NULL vector, unique cids otherwise
CENTS = [
    (None, [0.0, 1.0, 1.0, 0.0]),
    (0, [1.0, 0.0, 0.0, 1.0]),
    (1, [0.0, 1.0, 1.0, 1.0]),
    (2, [2.0, 1.0, 0.0, 0.0]),
    (3, None),
    (4, [1.0, 1.0, 2.0, 1.0]),
]
# per-sub-space codebooks with a NULL cid and a cid on two entries
CBS = [
    (0, 0, [0.0, 0.0]), (0, 1, [1.0, 0.0]), (0, 1, [0.0, 1.0]),
    (0, None, [1.0, 1.0]), (0, 2, [2.0, 1.0]),
    (1, 0, [0.0, 0.0]), (1, 1, [1.0, 1.0]), (1, 3, [0.0, 1.0]),
    (1, 4, [1.0, 0.0]), (1, 4, [2.0, 2.0]),
]
# a NULL and a short entry: their NULL distance sorts first, so every
# row takes cid 2 in sub-space 1 and scores NULL there
CBS_NULL = CBS + [(1, 2, None), (1, 5, [0.0])]


def _cbs(spark, rows=CBS):
    return local_df(spark, rows, CB_SCHEMA)


def _cb_rel(spark, cbs):
    """A per-sub-space codebook list as an (s, cid, cvec) relation."""
    return local_df(
        spark, [(s, c, v) for s, cb in enumerate(cbs) for c, v in cb],
        CB_SCHEMA,
    )


def _seeded(spark, df, id_col="vec_id", vec_col="embedding"):
    """The seeded codebook of ``df`` as an (s, cid, cvec) relation."""
    cb = SIM.ivf_centroids(df, id_col, vec_col, KSUB)
    return _cb_rel(spark, PQ._sub_codebooks(cb, M, SUB))


def ref_flat(corpus, queries, cb, k, id_col="vec_id"):
    codes = ref_exploded_codes_sub(corpus, id_col, "embedding", M, SUB, cb)
    table = ref_query_dist_table_sub(queries, cb, id_col, "embedding", M, SUB)
    return ref_adc_topk(codes.select("neighbor_id", "s", "code"), table, k)


def ref_ivf(corpus, queries, cb, cents_df, nprobe, k, cells=None):
    cents = SIM._model_rows(cents_df, "cents")
    codes = ref_exploded_codes_sub(corpus, "vec_id", "embedding", M, SUB, cb)
    if cells is None:
        cells = SIM._assign_pass(corpus, cents, "vec_id", "embedding", 6)
        cells = cells.select(
            F.col("vec_id").alias("neighbor_id"), F.col("cid").alias("cell")
        )
    probes = SIM._assign_pass(
        queries, cents, "vec_id", "embedding", 6, keep=nprobe
    ).select(F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"))
    table = ref_query_dist_table_sub(queries, cb, "vec_id", "embedding", M, SUB)
    return ref_ivf_adc(
        codes.select("neighbor_id", "s", "code"), cells, probes, table, k
    )


def ref_residual(spark, corpus, queries, cents_df, nprobe, k, cb=None,
                 id_col="vec_id"):
    res, cells, probes = ref_residual_parts(
        corpus, queries, id_col, "embedding", M, SUB, cents_df, nprobe
    )
    if cb is None:
        cb = _seeded(spark, res, "neighbor_id", "rvec")
    return ref_residual_adc(res, cells, probes, cb, k, M, SUB)


def _same(got, ref):
    g, r = _canon(got.collect()), _canon(ref.collect())
    assert g == r
    return g


@pytest.mark.parametrize("k", [1, 2, 7, 40])
def test_flat_searches_match_catalyst(spark, k):
    df, q = _rel(spark, CORPUS), _rel(spark, QUERIES)
    kw = dict(k=k, m=M, sub_dim=SUB, k_sub=KSUB)
    g = _same(PQ.pq_topk(df, q, **kw), ref_flat(df, q, _seeded(spark, df), k))
    # every query with an id ranks; k = 40 exceeds every candidate set
    assert {r[0] for r in g} == {0, 1, 5, 13, 30, 31, 90}
    for rows in (CBS, CBS_NULL):
        cb = _cbs(spark, rows)
        _same(
            PQ.pq_topk_trained(df, q, codebooks=cb, **kw),
            ref_flat(df, q, cb, k),
        )


@pytest.mark.parametrize("nprobe", [1, 2, 10])
@pytest.mark.parametrize("k", [1, 3])
def test_ivf_searches_match_catalyst(spark, nprobe, k):
    """The inline IVF-PQ search, and the same search over persisted codes
    and cells (a NULL cell and a cell no centroid has) — nprobe 10 is
    more than the 6 centroids."""
    df, q = _rel(spark, CORPUS), _rel(spark, QUERIES)
    cents = local_df(spark, CENTS, CENT_SCHEMA)
    kw = dict(k=k, nprobe=nprobe, m=M, sub_dim=SUB, k_sub=KSUB,
              centroids=cents)
    cb = _seeded(spark, df)
    _same(PQ.pq_topk_ivf(df, q, **kw), ref_ivf(df, q, cb, cents, nprobe, k))
    rows = SIM._assign_pass(
        df, SIM._model_rows(cents, "c"), "vec_id", "embedding", 6
    ).collect()
    cells = local_df(
        spark,
        [(i, None if i == 2 else 7 if i == 3 else c) for i, c in rows],
        "neighbor_id long, cell long",
    )
    codes = PQ.pq_encode(df, "vec_id", "embedding", M, SUB, KSUB)
    ref = ref_ivf(df, q, cb, cents, nprobe, k, cells)
    _same(PQ.pq_topk_ivf(df, q, codes=codes, cells=cells, **kw), ref)
    _same(PQ.pq_topk_ivf(df, q, cells=cells, **kw), ref)
    _same(PQ.pq_topk_ivf(df, q, codes=codes, **kw),
          ref_ivf(df, q, cb, cents, nprobe, k))


@pytest.mark.parametrize("nprobe", [1, 3, 10])
@pytest.mark.parametrize("k", [1, 4])
def test_residual_searches_match_catalyst(spark, nprobe, k):
    df, q = _rel(spark, CORPUS), _rel(spark, QUERIES)
    cents = local_df(spark, CENTS, CENT_SCHEMA)
    kw = dict(k=k, nprobe=nprobe, m=M, sub_dim=SUB, k_sub=KSUB,
              centroids=cents)
    _same(
        PQ.pq_topk_ivf_residual(df, q, **kw),
        ref_residual(spark, df, q, cents, nprobe, k),
    )
    cb = _cbs(spark)
    _same(
        PQ.pq_topk_ivf_residual_trained(df, q, codebooks=cb, **kw),
        ref_residual(spark, df, q, cents, nprobe, k, cb),
    )
    # the residual codebook trained in the call, on the same residuals
    res, _cells, _probes = ref_residual_parts(
        df, q, "vec_id", "embedding", M, SUB, cents, nprobe
    )
    fit = PQ.pq_fit(res, "neighbor_id", "rvec", M, SUB, KSUB, 1)
    _same(
        PQ.pq_topk_ivf_residual_trained(df, q, n_iter=1, **kw),
        ref_residual(spark, df, q, cents, nprobe, k, fit),
    )


def test_string_ids_float_vectors_match_catalyst(spark):
    def s(rows):
        return [(None if i is None else f"v{i:02d}", v) for i, v in rows]

    df, q = _rel(spark, s(CORPUS), STR_SCHEMA), _rel(spark, s(QUERIES),
                                                      STR_SCHEMA)
    cb = _cbs(spark)
    kw = dict(id_col="doc", m=M, sub_dim=SUB, k_sub=KSUB, codebooks=cb)
    for k in (1, 3):
        g = _same(
            PQ.pq_topk_trained(df, q, k=k, **kw), ref_flat(df, q, cb, k, "doc")
        )
        assert g and all(isinstance(r[0], str) for r in g)
        cents = local_df(spark, CENTS, CENT_SCHEMA)
        _same(
            PQ.pq_topk_ivf_residual_trained(
                df, q, k=k, nprobe=2, centroids=cents, **kw
            ),
            ref_residual(spark, df, q, cents, 2, k, cb, "doc"),
        )


@pytest.mark.parametrize("batch", ["2", "1000"])
@pytest.mark.parametrize("k", [1, 2, 3])
def test_ties_at_the_kth_score_keep_the_smallest_ids(spark, batch, k):
    """Identical vectors tie on every score; the kept rows are the k
    smallest ids however the batches split them."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch)
    rows = [(i, [1.0, 0.0, 0.0, 1.0]) for i in range(40, 0, -1)]
    df, q = _rel(spark, rows), _rel(spark, [(0, [0.0, 0.0, 1.0, 1.0])])
    cb = _cbs(spark)
    got = PQ.pq_topk_trained(
        df, q, k=k, m=M, sub_dim=SUB, k_sub=KSUB, codebooks=cb
    )
    g = _same(got, ref_flat(df, q, cb, k))
    assert [r[1] for r in sorted(g, key=lambda r: r[3])] == list(
        range(1, k + 1)
    )


def test_empty_inputs(spark):
    df, q = _rel(spark, CORPUS), _rel(spark, QUERIES)
    empty = _rel(spark, [])
    cents = local_df(spark, CENTS, CENT_SCHEMA)
    kw = dict(k=3, m=M, sub_dim=SUB, k_sub=KSUB)
    ivf = dict(kw, nprobe=2, centroids=cents)
    for corpus, queries in ((empty, q), (df, empty)):
        for got in (
            PQ.pq_topk(corpus, queries, **kw),
            PQ.pq_topk_ivf(corpus, queries, **ivf),
            PQ.pq_topk_ivf_residual(corpus, queries, **ivf),
        ):
            assert got.collect() == []
    # a sub-space without entries encodes no row, so nothing ranks
    half = local_df(spark, [r for r in CBS if r[0] == 0], CB_SCHEMA)
    none = local_df(spark, [], CB_SCHEMA)
    for cb in (half, none):
        assert PQ.pq_topk_trained(df, q, codebooks=cb, **kw).collect() == []
        assert PQ.pq_topk_ivf_residual_trained(
            df, q, codebooks=cb, **ivf
        ).collect() == []
    no_cents = local_df(spark, [], CENT_SCHEMA)
    assert PQ.pq_topk_ivf(df, q, **dict(ivf, centroids=no_cents)).collect() == []


def test_score_overflow_raises_under_ansi_and_wraps_otherwise(spark):
    """+inf query components put the long maximum in every table entry;
    m of them overflow a candidate's sum."""
    df = _rel(spark, GRID[:8])
    q = _rel(spark, [(50, [INF, 0.0, INF, 0.0]), (51, [0.0, 1.0, 0.0, 1.0])])
    cb = _cbs(spark)
    kw = dict(k=3, m=M, sub_dim=SUB, k_sub=KSUB, codebooks=cb)
    ref = ref_flat(df, q, cb, 3)
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    for got in (PQ.pq_topk_trained(df, q, **kw), ref):
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            got.collect()
    # both plans take the mode when they are built
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        g = _same(PQ.pq_topk_trained(df, q, **kw), ref_flat(df, q, cb, 3))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    # two saturated sub-spaces wrap to 2 * (2^63 - 1) - 2^64 = -2 micros
    assert (-2e-6).hex() in {r[2] for r in g if r[0] == 50}


def test_query_side_is_bounded_before_any_corpus_job(spark):
    """More than ``_MODEL_ROWS`` queries are refused by the one bounded
    query read, while the plan is built: the corpus, whose vectors any
    search pass would refuse, is never scanned."""
    from etl_gardener_spark.orchestrator.metrics import spark_cost

    short = _rel(spark, [(i, [1.0]) for i in range(6)])
    big = spark.range(0, PQ._MODEL_ROWS + 1, numPartitions=1).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 4).alias("embedding"),
    )
    cb = _cbs(spark)
    with spark_cost(spark) as cost:
        with pytest.raises(TooManyRows, match="pq queries"):
            PQ.pq_topk_trained(
                short, big, k=3, m=M, sub_dim=SUB, k_sub=KSUB, codebooks=cb
            )
    assert cost.jobs == 1, cost


def test_codes_must_be_pq_encode_layout(spark):
    df, q = _rel(spark, GRID), _rel(spark, GRID[:2])
    melted = ref_exploded_codes_sub(df, "vec_id", "embedding", M, SUB,
                                    _seeded(spark, df))
    with pytest.raises(ValueError, match="pq_encode's relation"):
        PQ.pq_topk(df, q, k=3, m=M, sub_dim=SUB, k_sub=KSUB, codes=melted)


# -- the deliberate differences: ids and cids are keys ---------------------


def _search(spark, corpus, queries, **kw):
    return PQ.pq_topk_trained(
        _rel(spark, corpus), _rel(spark, queries), m=M, sub_dim=SUB,
        k_sub=KSUB, codebooks=_cbs(spark), **kw,
    )


def _scores(rows):
    return sorted((r[0], r[1], r[2]) for r in rows)


def test_duplicated_corpus_id_scores_each_copy(spark):
    """Two corpus rows with id 7 rank as two candidates, each with its
    own score; the join summed the copies into one."""
    a, b = (7, [2.0, 1.0, 1.0, 1.0]), (7, [0.0, 0.0, 0.0, 0.0])
    q = [(0, [1.0, 0.0, 1.0, 1.0])]
    both = _search(spark, GRID[:4] + [a, b], q, k=10).collect()
    one_a = _search(spark, GRID[:4] + [a], q, k=10).collect()
    one_b = _search(spark, GRID[:4] + [b], q, k=10).collect()
    sevens = sorted(r.score for r in both if r.neighbor_id == 7)
    assert sevens == sorted(
        r.score for r in one_a + one_b if r.neighbor_id == 7
    )
    assert len(sevens) == 2 and sevens[0] != sevens[1]
    # the former search: one code row per copy and sub-space, summed
    cb = _cbs(spark)
    corpus = _rel(spark, GRID[:4] + [a, b])
    codes = ref_melt_codes(
        PQ._encode(corpus, "vec_id", "embedding", M, SUB,
                   PQ._trained_codebooks(cb, M)),
        "vec_id", M,
    )
    table = ref_query_dist_table_sub(
        _rel(spark, q), cb, "vec_id", "embedding", M, SUB
    )
    ref = ref_adc_topk(codes, table, 10)
    assert [r.score for r in ref.collect() if r.neighbor_id == 7] == [
        pytest.approx(sum(sevens))
    ]


def test_duplicated_query_id_scores_each_copy(spark):
    """Two query rows with id 3 each score every candidate on their own
    table; the window ranks both lists under id 3. The join summed the
    two tables into one score per neighbor."""
    qa, qb = (3, [1.0, 0.0, 1.0, 1.0]), (3, [0.0, 2.0, 0.0, 0.0])
    both = _search(spark, GRID, [qa, qb], k=100).collect()
    sep = (_search(spark, GRID, [qa], k=100).collect()
           + _search(spark, GRID, [qb], k=100).collect())
    assert _scores(both) == _scores(sep) and len(both) == 2 * 23
    assert sorted(r.rank for r in both) == list(range(1, 47))
    ref = ref_flat(_rel(spark, GRID), _rel(spark, [qa, qb]), _cbs(spark), 100)
    summed = {}
    for r in sep:
        summed[r.neighbor_id] = summed.get(r.neighbor_id, 0) + r.score
    assert {r.neighbor_id: r.score for r in ref.collect()} == pytest.approx(
        summed
    )


def test_duplicated_centroid_cid(spark):
    """Two centroids with cid 0: an IVF query probing both scores a row
    of cell 0 once (the probe join counted it twice); a residual row is
    scored only with the table of the centroid it was assigned to, just
    as when the copy has a cid of its own."""
    df, q = _rel(spark, GRID), _rel(spark, [(90, [1.0, 0.0, 0.5, 1.0])])
    dup = [(0, [1.0, 0.0, 0.0, 1.0]), (0, [1.0, 0.0, 1.0, 1.0]),
           (1, [0.0, 1.0, 1.0, 0.0])]
    cents = local_df(spark, dup, CENT_SCHEMA)
    kw = dict(k=100, m=M, sub_dim=SUB, k_sub=KSUB)
    ivf = PQ.pq_topk_ivf(df, q, nprobe=2, centroids=cents, **kw).collect()
    flat = {r.neighbor_id: r.score
            for r in PQ.pq_topk(df, q, **kw).collect()}
    cell0 = {i for i, c in SIM._assign_pass(
        df, SIM._model_rows(cents, "c"), "vec_id", "embedding", 6
    ).collect() if c == 0}
    assert {r.neighbor_id for r in ivf} == cell0
    assert {r.neighbor_id: r.score for r in ivf} == {i: flat[i] for i in cell0}
    ref = ref_ivf(df, q, _seeded(spark, df), cents, 2, 100).collect()
    assert {r.neighbor_id: r.score for r in ref} == pytest.approx(
        {i: 2 * flat[i] for i in cell0}
    )
    renamed = local_df(spark, [dup[0], (9, dup[1][1]), dup[2]], CENT_SCHEMA)
    # 9 sorts after 1, so the same centroids are probed in another order
    for nprobe in (1, 2, 3):
        a = PQ.pq_topk_ivf_residual(df, q, nprobe=nprobe, centroids=cents,
                                    **kw)
        b = PQ.pq_topk_ivf_residual(df, q, nprobe=nprobe, centroids=renamed,
                                    **kw)
        assert _canon(a.collect()) == _canon(b.collect())


@pytest.mark.parametrize(
    "name, jobs",
    [("emb_ann_topk_pq", 4), ("emb_ann_topk_ivfpq_residual", 5)],
)
def test_search_job_counts(spark, name, jobs):
    """One call at sf0.01, built and run: the codebook seed read (and,
    residual, the centroid seed read), the bounded query read and the 2
    jobs of the search — the numpy encode-and-score pass and the ranking
    window (5 and 15 jobs while the search joined exploded codes to
    broadcast probes and tables)."""
    import os

    from etl_gardener_spark.orchestrator.metrics import spark_cost
    from etl_gardener_spark.plans import queries as Q
    from etl_gardener_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    fn = Q.REGISTRY[name].fn
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    load_table(spark, sf, "embeddings")  # caches the schema: not counted
    with spark_cost(spark) as cost:
        fn(spark, sf).write.format("noop").mode("overwrite").save()
    assert cost.jobs == jobs, cost
