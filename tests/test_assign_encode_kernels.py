"""The numpy assignment and encode kernels against the Catalyst trees they
replaced.

``kmeans_assign``, ``pq_encode`` and the ADC distance table run one numpy
fold per Arrow batch. The expression trees below are the former
production kernels (a broadcast nested loop of interpreted
``aggregate``/``zip_with`` folds and a ``min_by`` aggregate); they are
the bit-equality references. Every comparison runs on 3 partitions with
2-row Arrow batches, so batch edges fall inside every fixture.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.functions.localrel import (
    TooManyRows,
    collect_bounded,
    local_df,
)
from etl_gardener_spark.operators import pq as PQ
from etl_gardener_spark.operators import similarity as SIM

INF, NAN = float("inf"), float("nan")
M, SUB, KSUB = 2, 2, 4


@pytest.fixture(autouse=True)
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


def _rel(spark, rows, schema):
    return spark.createDataFrame(rows, schema).repartition(3)


def _canon(rows):
    """Rows as a sorted list of tuples with floats as hex (NaN-safe)."""

    def v(x):
        if isinstance(x, float):
            return "nan" if math.isnan(x) else x.hex()
        return x

    return sorted((tuple(v(x) for x in r) for r in rows), key=repr)


# -- references: the former Catalyst kernels --------------------------------


def ref_kmeans_assign(df, cents_df, id_col, vec_col, round_digits=6):
    kscale = F.lit(float(10**round_digits))
    scored = (
        df.select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            SIM._norm(F.col(vec_col)).alias("__nv"),
        )
        .join(
            F.broadcast(
                cents_df.select(
                    "cid", "cvec", SIM._norm(F.col("cvec")).alias("__nc")
                )
            )
        )
        .select(
            id_col,
            "cid",
            F.floor(
                F.coalesce(
                    F.try_divide(
                        SIM._dot(F.col("__v"), F.col("cvec")),
                        F.col("__nv") * F.col("__nc"),
                    ),
                    F.lit(-2.0),
                )
                * kscale
                + F.lit(0.5)
            ).alias("__s"),
        )
    )
    ordk = F.struct((-F.col("__s")).alias("s"), F.col("cid").alias("c"))
    return scored.groupBy(id_col).agg(F.min_by(F.col("cid"), ordk).alias("cid"))


def ref_pq_encode(corpus, cb, id_col, vec_col, m, sub_dim):
    scored = corpus.select(
        id_col, PQ._check_dim(vec_col, m, sub_dim).alias(vec_col)
    ).join(F.broadcast(cb))
    for s in range(m):
        scored = scored.withColumn(
            f"__d{s}",
            PQ._sub_dist_e6(
                F.col(vec_col), F.col("cvec"), s * sub_dim + 1, sub_dim
            ),
        )
    aggs = []
    for s in range(m):
        ordk = F.struct(F.col(f"__d{s}").alias("d"), F.col("cid").alias("c"))
        val = F.struct(F.col("cid").alias("code"), F.col(f"__d{s}").alias("d"))
        aggs.append(F.min_by(val, ordk).alias(f"__m{s}"))
    out = scored.groupBy(id_col).agg(*aggs)
    err = sum((F.col(f"__m{s}.d") for s in range(m)), F.lit(0).cast("long"))
    return out.select(
        id_col,
        *[F.col(f"__m{s}.code").alias(f"code_{s}") for s in range(m)],
        (err.cast("double") / F.lit(1e6)).alias("recon_err"),
    )


def ref_query_dist_table(queries, cb, id_col, vec_col, m, sub_dim):
    qd = queries.select(
        F.col(id_col).alias("query_id"),
        PQ._check_dim(vec_col, m, sub_dim).alias("q_vec"),
    ).join(F.broadcast(cb))
    for s in range(m):
        qd = qd.withColumn(
            f"__d{s}",
            PQ._sub_dist_e6(
                F.col("q_vec"), F.col("cvec"), s * sub_dim + 1, sub_dim
            ),
        )
    return qd.select(
        "query_id",
        F.col("cid").alias("code"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("s"), F.col(f"__d{s}").alias("de6"))
                    for s in range(m)
                ]
            )
        ).alias("sd"),
    ).select("query_id", "code", "sd.s", "sd.de6")


# -- fixtures ---------------------------------------------------------------

# k-means: (id, vec) rows covering every sentinel path of the score
KM_VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0]),
    (2, [1.0, 1.0, 0.0]),  # exact tie between cids 0 and 1
    (3, None),  # NULL vector
    (4, [1.0, None, 0.0]),  # NULL component
    (5, [NAN, 1.0, 0.0]),
    (6, [INF, 0.0, 0.0]),
    (7, [-INF, 1.0, 0.0]),
    (8, [0.0, 0.0, 0.0]),  # zero vector
    (9, [1.0, 2.0]),  # shorter than the centroids
    (10, [-1.0, -1.0, 5.0]),
    (11, [1e300, 1e300, 1e-300]),
    (12, []),
]
KM_CENTS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0]),
    (2, [0.0, 0.0, 0.0]),  # zero centroid
    (3, None),  # NULL centroid
    (4, [0.0, 0.0, 1.0]),
    (5, [0.0, 0.0, 1.0]),  # duplicate of cid 4: ties go to 4
    (6, [1.0, 2.0]),
]
KM_SCHEMA = "vec_id long, embedding array<double>"
CENT_SCHEMA = "cid long, cvec array<double>"


def _assign_pair(spark, rows, cents, schema=KM_SCHEMA, id_col="vec_id"):
    df = _rel(spark, rows, schema)
    cdf = local_df(spark, cents, CENT_SCHEMA)
    got = SIM.kmeans_assign(df, cdf, id_col, "embedding").collect()
    ref = ref_kmeans_assign(df, cdf, id_col, "embedding").collect()
    return _canon(got), _canon(ref)


def test_kmeans_assign_matches_catalyst_fold(spark):
    got, ref = _assign_pair(spark, KM_VECS, KM_CENTS)
    assert got == ref and len(got) == len(KM_VECS)


def test_kmeans_assign_string_ids_float_input(spark):
    rows = [(f"d{i}", v) for i, v in KM_VECS]
    got, ref = _assign_pair(
        spark, rows, KM_CENTS, "doc string, embedding array<float>", "doc"
    )
    assert got == ref and len(got) == len(rows)


@pytest.mark.parametrize("case", ["empty_corpus", "no_centroids"])
def test_kmeans_assign_empty(spark, case):
    rows, cents = (
        ([], KM_CENTS) if case == "empty_corpus" else (KM_VECS, [])
    )
    got, ref = _assign_pair(spark, rows, cents)
    assert got == ref == []


def test_kmeans_assign_ranks_round_digits(spark):
    """At 1 digit, nearby centroids tie on the floored score and the
    smaller cid wins in both kernels."""
    rows = [(i, [1.0, i / 10.0, 0.3]) for i in range(12)]
    cents = [(0, [1.0, 0.5, 0.3]), (1, [1.0, 0.55, 0.3]), (2, [1.0, 0.0, 0.3])]
    df = _rel(spark, rows, KM_SCHEMA)
    cdf = local_df(spark, cents, CENT_SCHEMA)
    got = SIM.kmeans_assign(df, cdf, "vec_id", "embedding", 1).collect()
    ref = ref_kmeans_assign(df, cdf, "vec_id", "embedding", 1).collect()
    assert _canon(got) == _canon(ref)


# -- the GEMM assignment (kmeans_assign_gemm) against the fold -------------

# every dot product of KM_VECS with KM_CENTS is exact in binary, so the
# GEMM's summation order cannot move a score; here a NaN component scores
# FLOOR(NaN) = 0, which beats the true cosine -1 of cid 1 (a kernel that
# maps NaN to the -2 sentinel gives id 0 to cid 1)
KM_NAN_CENTS = [(0, [NAN, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0])]
GEMM_CASES = {
    "specials": (KM_VECS, KM_CENTS, KM_SCHEMA, "vec_id"),
    "nan": ([(0, [1.0, 0.0, 0.0]), (1, [NAN, 1.0, 0.0])], KM_NAN_CENTS,
            KM_SCHEMA, "vec_id"),
    "string_ids": ([(f"d{i}", v) for i, v in KM_VECS], KM_CENTS,
                   "doc string, embedding array<float>", "doc"),
    "no_centroids": (KM_VECS, [], KM_SCHEMA, "vec_id"),
}


@pytest.mark.parametrize("case", sorted(GEMM_CASES))
def test_kmeans_assign_gemm_matches_fold(spark, case):
    rows, cents, schema, id_col = GEMM_CASES[case]
    df = _rel(spark, rows, schema)
    cdf = local_df(spark, cents, CENT_SCHEMA)
    got = SIM.kmeans_assign_gemm(df, cdf, id_col, "embedding")
    ref = SIM.kmeans_assign(df, cdf, id_col, "embedding")
    assert got.schema == ref.schema
    got, ref = _canon(got.collect()), _canon(ref.collect())
    assert got == ref and len(got) == (len(rows) if cents else 0)
    if case == "nan":
        assert got == [(0, 0), (1, 0)]


def test_kmeans_fit_gemm_matches_fold_distributed(spark):
    """The distributed Lloyd loop with either kernel: seeds ids 0 and 1,
    one iteration whose cluster means ([2, 0.75] and [0.5, 2.25]) stay
    exact in binary, and a NULL vector riding through."""
    from unittest import mock

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [4.0, 1.0]), (3, [2.0, 1.0]),
        (4, [1.0, 1.0]), (5, [1.0, 2.0]), (6, [1.0, 4.0]), (7, [0.0, 2.0]),
        (8, None),
    ]
    df = _rel(spark, rows, KM_SCHEMA)
    out = {}
    with mock.patch.object(SIM, "_FIT_ROWS", 0):
        for assign in ("fold", "gemm"):
            final, cents = SIM.kmeans_fit(df, k=2, n_iter=1, assign=assign)
            out[assign] = (_canon(cents.collect()), _canon(final.collect()))
    assert out["gemm"] == out["fold"]
    assert out["fold"][0] == _canon([(0, [2.0, 0.75]), (1, [0.5, 2.25])])


# PQ: m=2 sub-spaces of 2; the seeded codebook is the first 4 ids
PQ_VECS = [
    (0, [1.0, 0.0, 0.0, 1.0]),
    (1, [0.0, 1.0, 1.0, 0.0]),
    (2, [2.0, 2.0, 0.0, 0.0]),
    (3, [1.0, 0.0, 1.0, 0.0]),  # an exact duplicate sub-vector of cid 0/1
    (4, None),  # NULL vector
    (5, [1.0, None, 0.0, 1.0]),  # NULL component in sub-space 0
    (6, [NAN, 0.0, 0.0, 1.0]),
    (7, [1.0, 0.0, INF, 1.0]),  # +inf: saturated distance in sub-space 1
    (8, [-INF, 0.0, 0.0, 1.0]),
    (9, [0.0, 0.0, 0.0, 0.0]),  # zero vector
    (10, [0.5, 0.5, 0.5, 0.5]),  # distance ties across entries
    (11, [1.0, 0.0, 0.0, 1.0, 7.0]),  # longer than m*sub_dim
]
PQ_SCHEMA = "vec_id long, embedding array<double>"
# an explicit codebook with an entry shorter than m*sub_dim, a NULL
# entry, a NULL component and a duplicate cid distance
PQ_EDGE_CB = [
    (0, [1.0, 0.0, 0.0, 1.0]),
    (1, [1.0, 0.0, 0.0]),  # short: its sub-space 1 slice is NULL-padded
    (2, None),
    (3, [0.0, None, 0.0, 1.0]),
    (4, [1.0, 0.0, 0.0, 1.0]),
]


def _encode_pair(spark, rows, cb=None, schema=PQ_SCHEMA, id_col="vec_id"):
    df = _rel(spark, rows, schema)
    if cb is None:
        cb_rows = SIM.ivf_centroids(df, id_col, "embedding", KSUB)
        cdf = local_df(spark, cb_rows, CENT_SCHEMA)
        got = PQ.pq_encode(df, id_col, "embedding", M, SUB, KSUB)
    else:
        cdf = local_df(spark, cb, CENT_SCHEMA)
        enc = PQ._encode(
            df, id_col, "embedding", M, SUB,
            PQ._sub_codebooks(SIM._model_rows(cdf, "cb"), M, SUB),
        )
        # pq_encode's recon_err: the long sum of the chosen de6 / 1e6
        err = sum((F.col(f"de6_{s}") for s in range(M)), F.lit(0).cast("long"))
        got = enc.select(
            id_col,
            *[f"code_{s}" for s in range(M)],
            (err.cast("double") / F.lit(1e6)).alias("recon_err"),
        )
    ref = ref_pq_encode(df, cdf, id_col, "embedding", M, SUB)
    return _canon(got.collect()), _canon(ref.collect())


def test_pq_encode_matches_catalyst_seeded(spark):
    got, ref = _encode_pair(spark, PQ_VECS)
    assert got == ref and len(got) == len(PQ_VECS)


def test_pq_encode_matches_catalyst_edge_codebook(spark):
    got, ref = _encode_pair(spark, PQ_VECS, PQ_EDGE_CB)
    assert got == ref and len(got) == len(PQ_VECS)


def test_pq_encode_string_ids_float_input(spark):
    rows = [(f"v{i:02d}", v) for i, v in PQ_VECS]
    got, ref = _encode_pair(
        spark, rows, PQ_EDGE_CB[:1] + PQ_EDGE_CB[4:],
        "doc string, embedding array<float>", "doc",
    )
    assert got == ref and len(got) == len(rows)


# seeds (ids < KSUB) with a NULL component and a NULL vector
NULL_SEED_VECS = [
    (0, [1.0, 0.0, 0.0, 1.0]),
    (1, [0.0, None, 1.0, 0.0]),
    (2, None),
    (3, [2.0, 2.0, None, 0.0]),
] + PQ_VECS[4:]


def test_null_component_seeds_match_catalyst(spark):
    """The seeded codebook and coarse quantizer keep a NULL seed vector
    and a NULL seed component as NULL: the encode scores their slices
    NULL and the assignment gives them the sentinel, as the SQL trees
    do."""
    got, ref = _encode_pair(spark, NULL_SEED_VECS)
    assert got == ref and len(got) == len(NULL_SEED_VECS)
    df = _rel(spark, NULL_SEED_VECS, PQ_SCHEMA)
    cdf = SIM._resolve_cents(df, "vec_id", "embedding", KSUB, None)
    cvecs = [r.cvec for r in cdf.collect()]
    assert cvecs[1:3] == [[0.0, None, 1.0, 0.0], None]
    got = SIM.kmeans_assign(df, cdf, "vec_id", "embedding").collect()
    ref = ref_kmeans_assign(df, cdf, "vec_id", "embedding").collect()
    assert _canon(got) == _canon(ref) and len(got) == len(NULL_SEED_VECS)


def test_pq_encode_empty(spark):
    assert _encode_pair(spark, []) == ([], [])
    assert _encode_pair(spark, PQ_VECS, []) == ([], [])


def test_pq_recon_err_overflow_raises_like_ansi_sql(spark):
    """+inf in both sub-spaces saturates both distances at the long
    maximum; their sum overflows, which ANSI SQL refuses."""
    rows = PQ_VECS[:4] + [(20, [INF, 0.0, INF, 0.0])]
    df = _rel(spark, rows, PQ_SCHEMA)
    cdf = local_df(spark, SIM.ivf_centroids(df, "vec_id", "embedding", KSUB),
                   CENT_SCHEMA)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        ref_pq_encode(df, cdf, "vec_id", "embedding", M, SUB).collect()
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        PQ.pq_encode(df, "vec_id", "embedding", M, SUB, KSUB).collect()


def test_query_dist_table_matches_catalyst(spark):
    queries = _rel(spark, PQ_VECS, PQ_SCHEMA)
    for cb in (SIM.ivf_centroids(queries, "vec_id", "embedding", KSUB),
               PQ_EDGE_CB):
        cdf = local_df(spark, cb, CENT_SCHEMA)
        cbs = PQ._sub_codebooks(SIM._model_rows(cdf, "cb"), M, SUB)
        got = PQ._query_dist_table(queries, cbs, "vec_id", "embedding", M,
                                   SUB)
        ref = ref_query_dist_table(queries, cdf, "vec_id", "embedding", M, SUB)
        g, r = _canon(got.collect()), _canon(ref.collect())
        assert g == r and len(g) == len(PQ_VECS) * len(cb) * M
        assert got.schema.simpleString() == ref.schema.simpleString()


def test_short_vector_guard_raises(spark):
    rows = PQ_VECS[:4] + [(30, [1.0, 2.0, 3.0])]
    df = _rel(spark, rows, PQ_SCHEMA)
    msg = "pq: embedding shorter than m\\*sub_dim=4: got 3"
    with pytest.raises(Exception, match=msg):
        PQ.pq_encode(df, "vec_id", "embedding", M, SUB, KSUB).collect()
    cb = SIM.ivf_centroids(df, "vec_id", "embedding", KSUB)
    cbs = PQ._sub_codebooks(cb, M, SUB)
    with pytest.raises(Exception, match=msg):
        PQ._query_dist_table(df, cbs, "vec_id", "embedding", M, SUB).collect()
    cdf = local_df(spark, cb, CENT_SCHEMA)
    with pytest.raises(Exception, match=msg):
        ref_pq_encode(df, cdf, "vec_id", "embedding", M, SUB).collect()


def test_pq_topk_searches_match_catalyst_tables(spark):
    """The three ADC searches built on the kernels equal the same search
    over the reference code and distance relations."""
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 10.0 for j in range(4)])
        for i in range(30)
    ]
    df = _rel(spark, rows, PQ_SCHEMA)
    queries = df.filter(F.col("vec_id") < 4)
    cdf = local_df(spark, SIM.ivf_centroids(df, "vec_id", "embedding", KSUB),
                   CENT_SCHEMA)
    codes = PQ._explode(
        ref_pq_encode(df, cdf, "vec_id", "embedding", M, SUB), "vec_id", M
    )
    table = ref_query_dist_table(queries, cdf, "vec_id", "embedding", M, SUB)
    ref = PQ._rank_adc(
        codes.join(table, ["s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("de6").cast("double") / F.lit(1e6)).alias("score")),
        3,
    )
    got = PQ.pq_topk(df, queries, k=3, m=M, sub_dim=SUB, k_sub=KSUB)
    assert _canon(got.collect()) == _canon(ref.collect())
    ivf = PQ.pq_topk_ivf(
        df, queries, k=3, n_centroids=4, nprobe=4, m=M, sub_dim=SUB,
        k_sub=KSUB,
    )
    # all 4 cells probed: IVF-PQ is the full ADC search
    assert _canon(ivf.collect()) == _canon(ref.collect())
    res = PQ.pq_topk_ivf_residual(
        df, queries, k=3, n_centroids=4, nprobe=2, m=M, sub_dim=SUB,
        k_sub=KSUB,
    ).collect()
    assert res and {r.rank for r in res} <= {1, 2, 3}


# -- bounded collects ---------------------------------------------------------


def test_collect_bounded_refuses_above_bound_and_ships_little(spark):
    from tests.test_kmeans_fit_local import _driver_bytes

    big = spark.range(0, 4000, numPartitions=16).select(
        F.col("id"), F.array(*[F.col("id").cast("double")] * 32).alias("v")
    ).cache()
    try:
        assert big.count() == 4000
        with pytest.raises(TooManyRows, match="probe rel"):
            collect_bounded(big, 100, "probe rel")
        # the limit runs on the executors: the driver receives about
        # 101 rows (~26 KB), not 101 from each of 16 partitions (~420 KB)
        _rows, largest = _driver_bytes(
            spark, lambda: _try(lambda: collect_bounded(big, 100, "x"))
        )
        assert largest < 64 * 1024, largest
        assert len(collect_bounded(big, 4000, "x")) == 4000
    finally:
        big.unpersist()


def _try(fn):
    try:
        return fn()
    except TooManyRows:
        return None


def test_collect_bounded_local_relation_is_free(spark):
    from etl_gardener_spark.orchestrator.metrics import spark_cost

    cents = local_df(spark, KM_CENTS, CENT_SCHEMA)
    with spark_cost(spark) as cost:
        rows = SIM._model_rows(cents, "cents")
    assert cost.jobs == 0
    assert [r[0] for r in rows] == [c for c, _v in KM_CENTS]
    with pytest.raises(TooManyRows):
        collect_bounded(cents, 3, "cents")


def test_kmeans_fit_refuses_fold_k_above_model_bound_before_training(spark):
    """Both kernels read their centroids through ``_model_rows``, so a k
    above that bound is refused up front, not after the Lloyd loop."""
    from etl_gardener_spark.orchestrator.metrics import spark_cost

    df = _rel(spark, KM_VECS, KM_SCHEMA)
    with spark_cost(spark) as cost:
        for assign in ("fold", "gemm"):
            with pytest.raises(ValueError, match=f"at most {SIM._MODEL_ROWS}"):
                SIM.kmeans_fit(df, k=SIM._MODEL_ROWS + 1, assign=assign)
    assert cost.jobs == 0
