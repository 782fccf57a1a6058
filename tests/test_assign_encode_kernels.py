"""The numpy assignment and encode kernels against the Catalyst trees they
replaced.

``kmeans_assign`` and ``pq_encode`` run one numpy pass per Arrow batch,
and the ADC query tables are built on the driver. The expression trees
below are the former production kernels (a broadcast nested loop of
interpreted ``aggregate``/``zip_with`` folds, then a ``row_number``
window or a ``min_by`` aggregate); they are the bit-equality
references. Every
comparison runs on 3 partitions with 2-row Arrow batches, so batch
edges fall inside every fixture. ``_nearest``, the centroid-ranking
kernel, is also checked at the numpy level against the full-matrix
sequential fold, and the oracles' cell score (``_cell_score_sql``)
against it in DuckDB.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Window
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


def check_dim(vec_col, m, sub_dim):
    """The former executor-side dimension guard of the Catalyst PQ
    trees: a non-NULL vector shorter than ``m * sub_dim`` fails with a
    named error (NULL vectors pass)."""
    need = m * sub_dim
    ok = F.col(vec_col).isNull() | (F.size(vec_col) >= need)
    return F.when(
        F.assert_true(
            ok,
            F.concat(
                F.lit(f"pq: embedding shorter than m*sub_dim={need}: got "),
                F.size(vec_col).cast("string"),
            ),
        ).isNull(),
        F.col(vec_col),
    )


def ref_kmeans_assign(df, cents_df, id_col, vec_col, round_digits=6, keep=1):
    """(id, cid) for each row's ``keep`` best centroids by (score DESC,
    cid ASC NULLS FIRST)."""
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
    w = Window.partitionBy(id_col).orderBy(
        F.col("__s").desc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= keep)
        .select(id_col, "cid")
    )


def ref_pq_encode(corpus, cb, id_col, vec_col, m, sub_dim):
    scored = corpus.select(
        id_col, check_dim(vec_col, m, sub_dim).alias(vec_col)
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
        check_dim(vec_col, m, sub_dim).alias("q_vec"),
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


# every dot product of KM_VECS with KM_CENTS is exact in binary; here a
# NaN component scores FLOOR(NaN) = 0, which beats the true cosine -1 of
# cid 1 (a kernel that maps NaN to the -2 sentinel gives id 0 to cid 1)
KM_NAN_CENTS = [(0, [NAN, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0])]
ASSIGN_CASES = {
    "specials": (KM_VECS, KM_CENTS, KM_SCHEMA, "vec_id"),
    "nan": ([(0, [1.0, 0.0, 0.0]), (1, [NAN, 1.0, 0.0])], KM_NAN_CENTS,
            KM_SCHEMA, "vec_id"),
    "string_ids": ([(f"d{i}", v) for i, v in KM_VECS], KM_CENTS,
                   "doc string, embedding array<float>", "doc"),
    "no_centroids": (KM_VECS, [], KM_SCHEMA, "vec_id"),
}


@pytest.mark.parametrize("case", sorted(ASSIGN_CASES))
def test_kmeans_assign_cases(spark, case):
    rows, cents, schema, id_col = ASSIGN_CASES[case]
    df = _rel(spark, rows, schema)
    cdf = local_df(spark, cents, CENT_SCHEMA)
    got = SIM.kmeans_assign(df, cdf, id_col, "embedding")
    ref = ref_kmeans_assign(df, cdf, id_col, "embedding")
    assert got.schema == ref.schema
    got, ref = _canon(got.collect()), _canon(ref.collect())
    assert got == ref and len(got) == (len(rows) if cents else 0)
    if case == "nan":
        assert got == [(0, 0), (1, 0)]


# centroids for the top-keep ranking: a NULL cid, a cid on two rows
# with different vectors, and an exact tie
TOPK_CENTS = [
    (None, [0.0, 1.0, 0.0]),
    (0, [1.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0]),
    (1, [1.0, 1.0, 0.0]),
    (2, [0.0, 0.0, 1.0]),
    (3, None),
    (4, [0.0, 0.0, 1.0]),
]


@pytest.mark.parametrize("keep", [1, 2, 3, 10])
def test_assign_top_keep_matches_row_number(spark, keep):
    """``_assign_pass(keep=n)`` gives each row its n best centroids as
    the Catalyst row_number ranking does, with a NULL cid first among
    ties, both rows of a duplicated cid, and every centroid once n
    exceeds their number."""
    df = _rel(spark, KM_VECS, KM_SCHEMA)
    cdf = local_df(spark, TOPK_CENTS, CENT_SCHEMA)
    cents = SIM._model_rows(cdf, "cents")
    got = SIM._assign_pass(df, cents, "vec_id", "embedding", 6, keep=keep)
    ref = ref_kmeans_assign(df, cdf, "vec_id", "embedding", keep=keep)
    g, r = _canon(got.collect()), _canon(ref.collect())
    assert g == r
    assert len(g) == len(KM_VECS) * min(keep, len(TOPK_CENTS))


def test_kmeans_fit_distributed_matches_driver(spark):
    """The distributed Lloyd loop and the driver-side one: seeds ids 0
    and 1, one iteration whose cluster means ([2, 0.75] and [0.5, 2.25])
    stay exact in binary, and a NULL vector riding through."""
    from unittest import mock

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [4.0, 1.0]), (3, [2.0, 1.0]),
        (4, [1.0, 1.0]), (5, [1.0, 2.0]), (6, [1.0, 4.0]), (7, [0.0, 2.0]),
        (8, None),
    ]
    df = _rel(spark, rows, KM_SCHEMA)
    out = {}
    for where, bound in (("driver", SIM._FIT_ROWS), ("distributed", 0)):
        with mock.patch.object(SIM, "_FIT_ROWS", bound):
            final, cents = SIM.kmeans_fit(df, k=2, n_iter=1)
            out[where] = (_canon(cents.collect()), _canon(final.collect()))
    assert out["distributed"] == out["driver"]
    assert out["driver"][0] == _canon([(0, [2.0, 0.75]), (1, [0.5, 2.25])])


# -- _nearest at the numpy level against the full sequential fold ----------


def _fold_dots(a, b):
    """(rows of a) x (rows of b) dot products, each the sequential fold
    from +0.0 in dimension order, as the SQL fold adds them."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for j in range(a.shape[1]):
        acc += a[:, j : j + 1] * b[None, :, j]
    return acc


def _gemm_dots(a, b):
    return a @ b.T


def ref_nearest(vecs, cents, round_digits, keep, dots=_fold_dots):
    """``_nearest`` scoring every (vector, centroid) pair with ``dots``
    over the full matrix, ranked by (score DESC, position ASC)."""
    x, lens, valid, present = SIM._arrow_vectors(
        pa.array(vecs, type=pa.list_(pa.float64()))
    )
    scorable = SIM._scorable(lens, valid, present)
    kscale = float(10**round_digits)
    score = np.full(
        (len(vecs), len(cents)), math.floor(-2.0 * kscale + 0.5), np.int64
    )
    for j, (_c, cv) in enumerate(cents):
        if cv is None or None in cv:
            continue
        r = np.flatnonzero(scorable & (lens == len(cv)))
        v = x[r, : len(cv)]
        cm = np.array([cv], dtype=np.float64).reshape(1, len(cv))
        with np.errstate(all="ignore"):
            den = SIM._norms(v)[:, None] * SIM._norms(cm)[None, :]
            cos = np.where(den == 0, -2.0, dots(v, cm) / den)
            score[r, j] = SIM._floor_long(cos * kscale + 0.5)[:, 0]
    order = np.argsort(~score, axis=1, kind="stable")
    return order[:, : min(keep, len(cents))]


def _kernel(vecs, cents, round_digits, keep):
    x, lens, valid, present = SIM._arrow_vectors(
        pa.array(vecs, type=pa.list_(pa.float64()))
    )
    scorable = SIM._scorable(lens, valid, present)
    return SIM._nearest(x, lens, scorable, cents, round_digits, keep)


def _matrix_case(name):
    rng = np.random.default_rng(7)
    if name == "random":
        vecs = rng.standard_normal((300, 16))
        cents = rng.standard_normal((40, 16))
    else:
        # near-duplicates: every score agrees to about 9 digits, so at
        # round_digits 15 the last bits of each dot product decide
        base = rng.standard_normal(64)
        vecs = base + rng.standard_normal((300, 64)) * 1e-9
        cents = base + rng.standard_normal((30, 64)) * 1e-9
    return (
        [list(v) for v in vecs],
        [(i, list(c)) for i, c in enumerate(cents)],
    )


def _special_case():
    """Vectors and centroids of special values, some rows sharing a
    direction so that scores tie or nearly tie."""
    vals = [0.0, 1.0, -1.0, 0.1, NAN, INF, -INF, 1e300, -1e300, 5e-324,
            1e-310, 3.0]
    rng = np.random.default_rng(11)
    vecs = [list(rng.choice(vals, 4)) for _ in range(200)]
    vecs += [[0.0] * 4, [5e-324] * 4, [1e300] * 4, None, [1.0, None, 0, 0],
             [1.0, 2.0, 3.0]]
    cents = [(i, list(rng.choice(vals, 4))) for i in range(12)]
    cents += [(12, [0.0] * 4), (13, [1.0, 1.0, 1.0, 1.0]),
              (14, [1.0, 1.0, 1.0, 1.0]), (15, None), (16, [1e-310] * 4)]
    return vecs, cents


@pytest.mark.parametrize(
    "case, round_digits",
    [("random", 6), ("random", 1), ("random", 15), ("neardup", 15),
     ("special", 1), ("special", 6), ("special", 15)],
)
@pytest.mark.parametrize("keep", [1, 3])
def test_nearest_equals_sequential_fold(case, round_digits, keep):
    vecs, cents = (
        _special_case() if case == "special" else _matrix_case(case)
    )
    got = _kernel(vecs, cents, round_digits, keep)
    ref = ref_nearest(vecs, cents, round_digits, keep)
    assert got.shape == ref.shape and (got == ref).all()


def test_nearest_refolds_where_plain_gemm_differs():
    """On near-duplicates at round_digits 15 a bare ``a @ b.T`` picks
    other winners than the sequential fold; the kernel does not, so its
    re-fold ran."""
    vecs, cents = _matrix_case("neardup")
    fold = ref_nearest(vecs, cents, 15, 1)
    gemm = ref_nearest(vecs, cents, 15, 1, _gemm_dots)
    assert (gemm != fold).any()
    assert (_kernel(vecs, cents, 15, 1) == fold).all()


def test_cell_score_sql_orders_like_nearest():
    """The oracles' centroid ranking (``_cell_score_sql`` over the
    oracle cosine, ROW_NUMBER by score DESC, cid ASC) in DuckDB keeps
    the same cells as ``_nearest`` at keep 1 and 3, over NaN
    components, a NULL vector and a NULL component, a zero vector, a
    length mismatch and tied scores. DuckDB's bare FLOOR keeps NaN,
    which sorts first under DESC, so without the NaN rule the centroid
    with a NaN component outranks a vector's true best cell."""
    import duckdb

    from etl_gardener_spark.plans import queries_llm as QL

    dim = QL._DIM

    def unit(i, scale=1.0):
        v = [0.0] * dim
        v[i] = scale
        return v

    nan_vec = unit(0)
    nan_vec[5] = NAN
    vecs = [
        unit(0), unit(1), [1.0, 1.0] + [0.0] * (dim - 2),  # tie: cids 1, 5
        nan_vec, None, [None] + [1.0] * (dim - 1), [0.0] * dim,
        [1.0] * (dim - 1),  # one shorter than the centroids
        [-1.0] + [0.0] * (dim - 1), unit(2),
    ]
    cents = [(0, nan_vec), (1, unit(1)), (2, unit(0, -1.0)),
             (3, unit(2)), (4, unit(2)), (5, unit(0))]
    con = duckdb.connect()
    con.register("e", pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float64())),
    }))
    con.register("c", pa.table({
        "cid": pa.array([c for c, _v in cents], pa.int64()),
        "cvec": pa.array([v for _c, v in cents], pa.list_(pa.float64())),
    }))
    cos = QL._cosine_sql("e.embedding", "c.cvec")

    def duck(score, keep):
        rows = con.execute(f"""
            SELECT vec_id, cid FROM (
              SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
                PARTITION BY e.vec_id ORDER BY {score} DESC, c.cid) AS rn
              FROM e CROSS JOIN c) WHERE rn <= {keep}
            ORDER BY vec_id, rn""").fetchall()
        out = {}
        for vid, cid in rows:
            out.setdefault(vid, []).append(cid)
        return out

    for keep in (1, 3):
        top = _kernel(vecs, cents, 6, keep)
        want = {i: [cents[j][0] for j in row] for i, row in enumerate(top)}
        assert duck(QL._cell_score_sql(cos), keep) == want
        bare = duck(f"FLOOR(COALESCE({cos}, -2.0) * 1e6 + 0.5)", keep)
        assert bare[1] != want[1]


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


def ref_melt_codes(encoded, id_col, m):
    """(neighbor_id, s, code): an encode relation melted to one row per
    sub-space, the layout the former ADC join read."""
    return encoded.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"), F.col(f"code_{s}").alias("code")
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select("neighbor_id", "sc.s", "sc.code")


def query_tables(qside, cbs):
    """``PQ._query_side``'s lookup tables as (query_id, s, code, sum)
    rows: per query and distinct cid the long sum of the non-NULL
    micro-distances, None where every one is NULL."""
    _field, qids, _kt, tables = qside
    out = []
    for s, ((u, _e), (tsum, tnn, _tovf)) in enumerate(
        zip(PQ._code_spaces(cbs), tables)
    ):
        for i, qid in enumerate(qids.to_pylist()):
            for j, cid in enumerate(u.tolist()):
                out.append(
                    (qid, s, cid, int(tsum[i, j]) if tnn[i, j] else None)
                )
    return out


# PQ_EDGE_CB with a NULL cid and a second entry at cid 1
PQ_DUP_CB = PQ_EDGE_CB + [
    (None, [0.0, 0.0, 0.0, 0.0]),
    (1, [2.0, 2.0, 1.0, 1.0]),
]


def test_query_dist_table_matches_catalyst(spark):
    """The driver-side query tables equal the Catalyst per-entry table
    summed per (query, sub-space, cid) — entries sharing a cid add up,
    as the former code join added them, and a NULL cid is no entry."""
    for cb, rows in (
        (None, PQ_VECS),
        (PQ_EDGE_CB, PQ_VECS),
        # +-inf rows would overflow the two cid-1 sums in the reference
        (PQ_DUP_CB, [r for r in PQ_VECS if r[0] not in (7, 8)]),
    ):
        queries = _rel(spark, rows, PQ_SCHEMA)
        if cb is None:
            cb = SIM.ivf_centroids(queries, "vec_id", "embedding", KSUB)
        cdf = local_df(spark, cb, CENT_SCHEMA)
        cbs = PQ._sub_codebooks(SIM._model_rows(cdf, "cb"), M, SUB)
        qside = PQ._query_side(
            queries, "vec_id", "embedding", M, SUB, cbs, None, 0, False
        )
        ref = (
            ref_query_dist_table(queries, cdf, "vec_id", "embedding", M, SUB)
            .filter(F.col("code").isNotNull())
            .groupBy("query_id", "s", "code")
            .agg(F.sum("de6"))
        )
        g, r = _canon(query_tables(qside, cbs)), _canon(ref.collect())
        n_cids = len({c for c, _v in cb if c is not None})
        assert g == r and len(g) == len(rows) * M * n_cids


def test_short_vector_guard_raises(spark):
    """A short corpus vector fails the encode and search passes; a short
    query vector is refused while the search plan is built."""
    rows = PQ_VECS[:4] + [(30, [1.0, 2.0, 3.0])]
    df = _rel(spark, rows, PQ_SCHEMA)
    ok = _rel(spark, PQ_VECS[:4], PQ_SCHEMA)
    msg = "pq: embedding shorter than m\\*sub_dim=4: got 3"
    kw = dict(k=2, m=M, sub_dim=SUB, k_sub=KSUB)
    ivf = dict(kw, n_centroids=2, nprobe=1)
    with pytest.raises(Exception, match=msg):
        PQ.pq_encode(df, "vec_id", "embedding", M, SUB, KSUB).collect()
    for search, args in (
        (PQ.pq_topk, kw),
        (PQ.pq_topk_ivf, ivf),
        (PQ.pq_topk_ivf_residual, ivf),
    ):
        with pytest.raises(Exception, match=msg):
            search(df, ok, **args).collect()
        # no action: the query side is built with the plan
        with pytest.raises(ValueError, match=msg):
            search(ok, df, **args)
    cdf = local_df(spark, SIM.ivf_centroids(df, "vec_id", "embedding", KSUB),
                   CENT_SCHEMA)
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
    codes = ref_melt_codes(
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
    """The assignment reads its centroids through ``_model_rows``, so a
    k above that bound is refused up front, not after the Lloyd loop."""
    from etl_gardener_spark.orchestrator.metrics import spark_cost

    df = _rel(spark, KM_VECS, KM_SCHEMA)
    with spark_cost(spark) as cost:
        with pytest.raises(ValueError, match=f"at most {SIM._MODEL_ROWS}"):
            SIM.kmeans_fit(df, k=SIM._MODEL_ROWS + 1)
    assert cost.jobs == 0
