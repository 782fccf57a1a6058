"""The numpy PQ training, trained encode and trained distance-table
kernels against the Catalyst trees they replaced.

``pq_fit`` runs numpy passes over Arrow batches (seed candidates and
Lloyd-step partials merged on the driver), and trained codebooks encode
and search through ``pq._sub_dist``. The expression trees below are the
former production kernels: a melted sub-vector relation, a broadcast
codebook join scored by interpreted ``aggregate``/``zip_with`` folds, a
``min_by`` argmin and a positional integer-micro mean, and the former
ADC search trees (melted codes joined to the cells, the probes and a
broadcast query table, then a ``groupBy`` sum) that
``tests/test_adc_search.py`` compares ``pq._adc_pass`` against. They are
the bit-equality references. Every comparison runs on 3 partitions with
2-row Arrow batches, so partition and batch edges fall inside every
fixture.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from etl_gardener_spark.functions.localrel import local_df
from etl_gardener_spark.operators import pq as PQ
from etl_gardener_spark.operators import similarity as SIM
from tests.test_assign_encode_kernels import check_dim, query_tables

NAN, INF = float("nan"), float("inf")
M, SUB, KSUB = 2, 2, 4


@pytest.fixture(autouse=True)
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


# -- references: the former Catalyst kernels --------------------------------


def melt_subvectors(df, id_col, vec_col, m, sub_dim):
    """(id_col, s, svec): each vector melted to its m sub-slices."""
    return df.select(
        id_col, check_dim(vec_col, m, sub_dim).alias("__v")
    ).select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col("__v"), s * sub_dim + 1, sub_dim).alias(
                            "svec"
                        ),
                    )
                    for s in range(m)
                ]
            )
        ).alias("ss"),
    ).select(id_col, "ss.s", "ss.svec")


def _svec_dist_e6(a: Column, b: Column) -> Column:
    """Integer-micro squared-L2 over two whole sub-vectors."""
    d = F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.floor(d * F.lit(1e6) + F.lit(0.5)).cast("long")


def ref_pq_fit(corpus, id_col, vec_col, m, sub_dim, k_sub, n_iter):
    """The former pq_fit: distinct-by-min-id seeds from a groupBy and a
    window rank, then per iteration a broadcast-join argmin (min_by over
    (de6, cid)) and a per-(s, cid, pos) integer-micro mean."""
    subs = melt_subvectors(corpus, id_col, vec_col, m, sub_dim)
    ws = Window.partitionBy("s").orderBy("mid")
    cb = (
        subs.groupBy("s", "svec")
        .agg(F.min(id_col).alias("mid"))
        .withColumn("__rk", F.row_number().over(ws))
        .filter(F.col("__rk") <= k_sub)
        .select(
            "s",
            (F.col("__rk") - 1).cast("long").alias("cid"),
            F.col("svec").alias("cvec"),
        )
    )
    if n_iter > 0:
        subs = subs.localCheckpoint(eager=True)
    for _ in range(n_iter):
        scored = subs.join(F.broadcast(cb), "s").withColumn(
            "__d", _svec_dist_e6(F.col("svec"), F.col("cvec"))
        )
        assigned = scored.groupBy(id_col, "s").agg(
            F.min_by(
                F.col("cid"),
                F.struct(F.col("__d").alias("d"), F.col("cid").alias("c")),
            ).alias("cid"),
            F.first("svec").alias("svec"),
        )
        exploded = assigned.select(
            "s", "cid", F.posexplode("svec").alias("pos", "val")
        )
        mrows = (
            exploded.groupBy("s", "cid", "pos")
            .agg(
                F.sum(
                    F.floor(
                        F.col("val").cast("double") * F.lit(1e6) + F.lit(0.5)
                    ).cast("long")
                ).alias("se6"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "s",
                "cid",
                "pos",
                (
                    F.floor(
                        F.col("se6").cast("double") / F.col("n") + F.lit(0.5)
                    ).cast("long").cast("double")
                    / F.lit(1e6)
                ).alias("mv"),
            )
            .collect()
        )
        by_key: dict = {}
        for r in mrows:
            by_key.setdefault((int(r[0]), int(r[1])), []).append(
                (int(r[2]), None if r[3] is None else float(r[3]))
            )
        cb = local_df(
            corpus.sparkSession,
            [
                (s, cid, [mv for _, mv in sorted(vals)])
                for (s, cid), vals in sorted(by_key.items())
            ],
            "s int, cid long, cvec array<double>",
        )
    return cb


def ref_exploded_codes_sub(corpus, id_col, vec_col, m, sub_dim, codebooks):
    """(neighbor_id, s, code, de6) against per-sub-space codebooks: the
    melted scan, a broadcast codebook join and a min_by argmin."""
    scored = melt_subvectors(corpus, id_col, vec_col, m, sub_dim).join(
        F.broadcast(codebooks), "s"
    ).withColumn("__d", _svec_dist_e6(F.col("svec"), F.col("cvec")))
    return scored.groupBy(F.col(id_col).alias("neighbor_id"), F.col("s")).agg(
        F.min_by(
            F.struct(F.col("cid").alias("code"), F.col("__d").alias("de6")),
            F.struct(F.col("__d").alias("d"), F.col("cid").alias("c")),
        ).alias("mc")
    ).select("neighbor_id", "s", "mc.code", "mc.de6")


def ref_query_dist_table_sub(queries, codebooks, id_col, vec_col, m, sub_dim):
    """(query_id, s, code, de6): the per-query ADC table against trained
    codebooks."""
    return (
        melt_subvectors(queries, id_col, vec_col, m, sub_dim)
        .select(F.col(id_col).alias("query_id"), "s", "svec")
        .join(F.broadcast(codebooks), "s")
        .select(
            "query_id",
            "s",
            F.col("cid").alias("code"),
            _svec_dist_e6(F.col("svec"), F.col("cvec")).alias("de6"),
        )
    )


def ref_probe_dist_table(probes, codebooks, m, sub_dim):
    """(query_id, cell, s, code, de6): the former inline per-(query,
    probed cell) table of pq_topk_ivf_residual_trained."""
    return (
        probes.select(
            "query_id",
            "cell",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.slice(
                                F.col("q_rvec"), s * sub_dim + 1, sub_dim
                            ).alias("svec"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("ss"),
        )
        .select("query_id", "cell", "ss.s", "ss.svec")
        .join(F.broadcast(codebooks), "s")
        .select(
            "query_id",
            "cell",
            "s",
            F.col("cid").alias("code"),
            _svec_dist_e6(F.col("svec"), F.col("cvec")).alias("de6"),
        )
    )


def ref_adc_topk(codes, table, k):
    """The former ``pq._adc_topk``: the melted codes (neighbor_id, s,
    code) join the query table (query_id, s, code, de6) on (s, code), a
    query never matches itself, and each pair's score is the long sum of
    its micro-distances / 1e6."""
    cand = (
        codes.join(F.broadcast(table), ["s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("de6").cast("double") / F.lit(1e6)).alias("score"))
    )
    return PQ._rank_adc(cand, k)


def ref_ivf_adc(codes, cells, probes, table, k):
    """The former ``pq.pq_topk_ivf`` search: the melted codes join their
    cells by id, the query probes (query_id, cell) by cell, and the query
    table on (query_id, s, code)."""
    cand = (
        codes.join(cells, "neighbor_id")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(table), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("de6").cast("double") / F.lit(1e6)).alias("score"))
    )
    return PQ._rank_adc(cand, k)


def ref_residual_parts(corpus, queries, id_col, vec_col, m, sub_dim,
                       cents_df, nprobe):
    """The former ``pq._residual_parts``: (res, cells, probes) — the
    residuals (neighbor_id, cell, rvec) from the corpus joined to its
    cells and the broadcast centroids, the cells, and each query's
    probes (query_id, cell, q_rvec) joined back to the centroids."""
    cents = SIM._model_rows(cents_df, "ivf centroids")
    by_cell = F.broadcast(cents_df.withColumnRenamed("cid", "cell"))
    cells = SIM._assign_pass(corpus, cents, id_col, vec_col, 6).select(
        F.col(id_col).alias("neighbor_id"), F.col("cid").alias("cell")
    )
    res = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            check_dim(vec_col, m, sub_dim).alias("__v"),
        )
        .join(cells, "neighbor_id")
        .join(by_cell, "cell")
        .select(
            "neighbor_id",
            "cell",
            F.zip_with(
                F.col("__v"), F.col("cvec"), lambda x, y: x.cast("double") - y
            ).alias("rvec"),
        )
    )
    checked = queries.select(
        F.col(id_col), check_dim(vec_col, m, sub_dim).alias(vec_col)
    )
    probes = (
        SIM._assign_pass(
            checked, cents, id_col, vec_col, 6, keep_vec=True, keep=nprobe
        )
        .withColumnRenamed("cid", "cell")
        .join(by_cell, "cell")
        .select(
            F.col(id_col).alias("query_id"),
            "cell",
            F.zip_with(
                F.col(vec_col), F.col("cvec"), lambda x, y: x.cast("double") - y
            ).alias("q_rvec"),
        )
    )
    return res, cells, probes


def ref_residual_adc(res, cells, probes, codebooks, k, m, sub_dim):
    """The former ``pq._residual_adc`` over a (s, cid, cvec) codebook
    relation: residual codes joined to their cells, one table per
    (query, probed cell) from the query residuals, candidates from the
    probed cells only."""
    codes = (
        ref_exploded_codes_sub(res, "neighbor_id", "rvec", m, sub_dim,
                               codebooks)
        .select("neighbor_id", "s", "code")
        .join(cells, "neighbor_id")
    )
    qd = ref_probe_dist_table(probes, codebooks, m, sub_dim)
    cand = (
        probes.select("query_id", "cell")
        .join(codes, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    adc = (
        cand.join(F.broadcast(qd), ["query_id", "cell", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("de6").cast("double") / F.lit(1e6)).alias("score"))
    )
    return PQ._rank_adc(adc, k)


# -- helpers ----------------------------------------------------------------


def _hex(v):
    if v is None:
        return None
    v = float(v)
    return "nan" if math.isnan(v) else v.hex()


def _canon(rows):
    """Rows as sorted tuples, floats and float lists as hex (NaN-safe)."""

    def val(x):
        if isinstance(x, float):
            return _hex(x)
        if isinstance(x, list):
            return tuple(_hex(v) for v in x)
        return x

    return sorted((tuple(val(x) for x in r) for r in rows), key=repr)


def _codes(corpus, id_col, m, sub_dim, codebooks):
    """The trained encode melted like ref_exploded_codes_sub."""
    enc = PQ._encode(
        corpus, id_col, "embedding", m, sub_dim,
        PQ._trained_codebooks(codebooks, m),
    )
    return enc.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.col(f"code_{s}").alias("code"),
                        F.col(f"de6_{s}").alias("de6"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("c"),
    ).select("neighbor_id", "c.s", "c.code", "c.de6")


def _rel(spark, rows, schema):
    return spark.createDataFrame(rows, schema).repartition(3)


# -- fixtures ---------------------------------------------------------------

# m=2 sub-spaces of 2; ids 0 and 1 are one sub-vector per sub-space
FIT_VECS = [
    (0, [-0.0, 0.0, 0.0, -0.0]),  # -0.0 groups with 0.0 (the min id)
    (1, [0.0, -0.0, 0.0, 0.0]),  # a duplicate: distinct seeding skips it
    (2, [0.0, 0.0, 1.0, -0.0]),
    (3, [1.0, 2.0, 0.5, 0.5]),
    (4, [2.0, -1.0, -1.0, 0.5]),
    (5, [3.0, 3.0, 2.0, 2.0]),
    (6, [0.5, 0.25, 1.5, -2.0]),
    (7, None),  # NULL vector
    (8, [1.0, None, 2.0, 2.0]),  # NULL component in sub-space 0
    (9, [NAN, NAN, 3.0, 1.0]),  # NaN sub-vector
    (10, [NAN, 1.0, 0.0, 0.0]),
    (11, [2.5, 2.5, -0.5, 1.0]),
    (12, [-1.0, 0.5, 0.75, 0.25]),
    (13, [1.0, 2.0, 0.5, 0.5, 9.0]),  # longer than m*sub_dim
]
# NULL and NULL-element seeds: their NULL distances sort first, so they
# win every row of their sub-space and the other codewords empty
NULL_SEED_VECS = [
    (0, None),
    (1, [1.0, None, 0.0, 1.0]),
    (2, [0.0, 0.0, 0.0, 1.0]),
    (3, [2.0, 1.0, NAN, 0.0]),
    (4, [1.0, 1.0, 1.0, 1.0]),
    (5, [3.0, 0.5, 2.0, 0.0]),
]
# at k_sub=3, a codeword of sub-space 1 wins no row in the second step
EMPTYING_VECS = [
    (i, [float(v) for v in vec])
    for i, vec in enumerate(
        [
            [8, 4, 1, 0], [2, 0, 9, 4], [7, 7, 9, 5], [4, 5, 0, 6],
            [4, 9, 0, 8], [1, 5, 6, 2], [1, 0, 0, 4], [9, 8, 1, 8],
            [5, 6, 2, 8], [7, 0, 1, 4],
        ]
    )
]
SCHEMA = "vec_id long, embedding array<double>"
CB_SCHEMA = "s int, cid long, cvec array<double>"

CASES = {
    "edge": (FIT_VECS, SCHEMA, "vec_id", KSUB),
    "edge_string_ids_float": (
        [(f"v{i:02d}", v) for i, v in FIT_VECS],
        "doc string, embedding array<float>",
        "doc",
        KSUB,
    ),
    "null_seeds": (NULL_SEED_VECS, SCHEMA, "vec_id", KSUB),
    "emptying": (EMPTYING_VECS, SCHEMA, "vec_id", 3),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_pq_fit_and_trained_kernels_match_catalyst(spark, case):
    rows, schema, id_col, k_sub = CASES[case]
    df = _rel(spark, rows, schema)
    queries = df.filter(F.col(id_col).isNotNull())
    for n_iter in (0, 1, 2):
        ref_cb = ref_pq_fit(df, id_col, "embedding", M, SUB, k_sub, n_iter)
        got_cb = PQ.pq_fit(df, id_col, "embedding", M, SUB, k_sub, n_iter)
        ref_rows = ref_cb.collect()
        assert _canon(got_cb.collect()) == _canon(ref_rows), n_iter
        assert got_cb.schema.simpleString() == (
            "struct<s:int,cid:bigint,cvec:array<double>>"
        )
        if case == "emptying" and n_iter == 2:
            assert len(ref_rows) == 2 * k_sub - 1
        # encode and distance table against the same codebook
        cb = local_df(spark, [tuple(r) for r in ref_rows], CB_SCHEMA)
        got = _codes(df, id_col, M, SUB, cb).collect()
        ref = ref_exploded_codes_sub(df, id_col, "embedding", M, SUB, cb)
        assert _canon(got) == _canon(ref.collect()), n_iter
        assert len(got) == M * len(rows)
        cbs = PQ._trained_codebooks(cb, M)
        qside = PQ._query_side(
            queries, id_col, "embedding", M, SUB, cbs, None, 0, False
        )
        ref = (
            ref_query_dist_table_sub(queries, cb, id_col, "embedding", M, SUB)
            .groupBy("query_id", "s", "code")
            .agg(F.sum("de6"))
        )
        got = query_tables(qside, cbs)
        assert _canon(got) == _canon(ref.collect()), n_iter


def test_trained_encode_edge_codebook_relation(spark):
    """A persisted codebook relation with a short, a long, a NULL and a
    NULL-element codeword, unsorted cids and an out-of-range s encodes
    like the reference join (short and long entries score NULL)."""
    cb = local_df(
        spark,
        [
            (1, 3, [1.0, 0.0]),
            (0, 2, [0.0, 1.0]),
            (0, 0, [1.0]),
            (0, 1, [2.0, 2.0, 2.0]),
            (1, 0, None),
            (1, 1, [0.0, None]),
            (1, 2, [0.5, 0.5]),
            (5, 0, [0.0, 0.0]),
        ],
        CB_SCHEMA,
    )
    df = _rel(spark, FIT_VECS, SCHEMA)
    got = _codes(df, "vec_id", M, SUB, cb).collect()
    ref = ref_exploded_codes_sub(df, "vec_id", "embedding", M, SUB, cb)
    assert _canon(got) == _canon(ref.collect())


def test_trained_searches_match_catalyst_tables(spark):
    """pq_topk_trained and pq_topk_ivf_residual_trained equal the same
    searches over the reference codes and distance tables."""
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 10.0 for j in range(4)])
        for i in range(30)
    ]
    df = _rel(spark, rows, SCHEMA)
    queries = df.filter(F.col("vec_id") < 4)
    cb = PQ.pq_fit(df, m=M, sub_dim=SUB, k_sub=KSUB, n_iter=2)
    codes = ref_exploded_codes_sub(df, "vec_id", "embedding", M, SUB, cb)
    table = ref_query_dist_table_sub(
        queries, cb, "vec_id", "embedding", M, SUB
    )
    ref = ref_adc_topk(codes.select("neighbor_id", "s", "code"), table, 3)
    got = PQ.pq_topk_trained(
        df, queries, k=3, m=M, sub_dim=SUB, k_sub=KSUB, codebooks=cb
    )
    assert _canon(got.collect()) == _canon(ref.collect())
    assert _canon(got.collect()) == _canon(
        PQ.pq_topk_trained(
            df, queries, k=3, m=M, sub_dim=SUB, k_sub=KSUB, n_iter=2
        ).collect()
    )

    cents = SIM._resolve_cents(df, "vec_id", "embedding", 4, None)
    res, cells, probes = ref_residual_parts(
        df, queries, "vec_id", "embedding", M, SUB, cents, 2
    )
    rcb = ref_pq_fit(res, "neighbor_id", "rvec", M, SUB, KSUB, 2)
    ref = ref_residual_adc(res, cells, probes, rcb, 3, M, SUB)
    got = PQ.pq_topk_ivf_residual_trained(
        df, queries, k=3, n_centroids=4, nprobe=2, m=M, sub_dim=SUB,
        k_sub=KSUB,
    )
    assert _canon(got.collect()) == _canon(ref.collect())


def test_pq_fit_sum_overflow_raises_like_ansi_sql(spark):
    """+inf components floor to the long maximum; two of them in one
    codeword's sum overflow, which ANSI SQL refuses."""
    rows = [(0, [INF, 0.0, 0.0, 0.0]), (1, [INF, 0.0, 1.0, 1.0])]
    df = _rel(spark, rows + FIT_VECS[2:7], SCHEMA)
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        ref_pq_fit(df, "vec_id", "embedding", M, SUB, KSUB, 1).collect()
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        PQ.pq_fit(df, "vec_id", "embedding", M, SUB, KSUB, 1)


def test_pq_fit_job_count(spark):
    """One narrow pass, so one Spark job, for the seeds and for each
    Lloyd iteration; the fitted relation is local."""
    from etl_gardener_spark.orchestrator.metrics import spark_cost

    df = _rel(spark, EMPTYING_VECS, SCHEMA).localCheckpoint()
    with spark_cost(spark) as cost:
        cb = PQ.pq_fit(df, "vec_id", "embedding", M, SUB, 3, 2)
        cb.collect()
    assert cost.jobs == 3, cost
