"""Property tests for product quantization (operators/pq.py) and
reciprocal-rank fusion (operators/search.rrf_fuse)."""

import random

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.operators import pq as PQ
from etl_gardener_spark.operators.search import rrf_fuse
from tests.test_pq_fit_kernels import (
    _codes as _trained_codes,
    ref_exploded_codes_sub,
    ref_pq_fit,
)

M, SUB, KSUB, DIM = 4, 4, 4, 16


def _vecs(n, seed=7):
    rng = random.Random(seed)
    return [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(DIM)]) for i in range(n)
    ]


def _sub_de6(a, b, s):
    d = 0.0
    for i in range(s * SUB, s * SUB + SUB):
        d += (a[i] - b[i]) * (a[i] - b[i])
    import math

    return math.floor(d * 1e6 + 0.5)


def _hadamard_rotate_sql(df, vec_col, dim):
    """Bit-equality reference for PQ.hadamard_rotate: the Catalyst
    expression-tree transliteration of the DuckDB oracle's nested
    list_transform / list_reduce — per output i, a left-assoc aggregate
    from 0.0 over j of +-x_j by the parity of popcount(i & j), times the
    1/sqrt(dim) scale."""
    x = F.col(vec_col)
    rotated = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.when(
                F.bit_count(i.cast("long").bitwiseAND(j.cast("long"))) % 2
                == 0,
                F.element_at(x, (j + 1).cast("int")).cast("double"),
            ).otherwise(
                -F.element_at(x, (j + 1).cast("int")).cast("double")
            ),
        )
        * F.lit(1.0 / (dim ** 0.5)),
    )
    return df.withColumn(vec_col, rotated)


def _opq_rotate_sql(df, vec_col, r_e6, dim):
    """Bit-equality reference for PQ.opq_rotate: the expression-tree
    mirror of the DuckDB oracle's relational kernel — x quantized to the
    1e-6 grid, an exact int64 aggregate over i of x[i] * R[i][j], one
    half-up re-quantization, back to double; NULL vectors stay NULL."""
    spark = df.sparkSession
    rdf = spark.createDataFrame([(r_e6,)], "__opq_r array<array<long>>")
    xm = F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
            "long"
        ),
    )
    df2 = df.crossJoin(F.broadcast(rdf)).withColumn("__xm", xm)
    rotated = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.floor(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                F.lit(0).cast("long"),
                lambda acc, i: acc
                + F.element_at(F.col("__xm"), i + 1)
                * F.element_at(
                    F.element_at(F.col("__opq_r"), i + 1), j + 1
                ),
            ).cast("double")
            / F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").cast("double")
        / F.lit(1e6),
    )
    return df2.withColumn(
        vec_col, F.when(F.col(vec_col).isNotNull(), rotated)
    ).drop("__xm", "__opq_r")


def test_pq_encode_matches_python_reference_and_seeds_self_code(spark):
    rows = _vecs(40)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in PQ.pq_encode(df, m=M, sub_dim=SUB, k_sub=KSUB).collect()
    }
    assert set(out) == set(range(40))
    seeds = rows[:KSUB]
    for vid, vec in rows:
        err = 0
        for s in range(M):
            # python argmin with the (de6, cid) tie-break
            best = min(
                (( _sub_de6(vec, svec, s), sid) for sid, svec in seeds)
            )
            assert out[vid][f"code_{s}"] == best[1], (vid, s)
            err += best[0]
        assert out[vid]["recon_err"] == err / 1e6, vid
    # a seed vector reconstructs itself exactly: own code, zero error
    for sid, _ in seeds:
        assert out[sid]["recon_err"] == 0.0
        assert all(out[sid][f"code_{s}"] == sid for s in range(M))


def test_pq_topk_is_adc_over_codes(spark):
    rows = _vecs(30, seed=11)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = PQ.pq_topk(
        df, df.filter(F.col("vec_id") < 3), k=5, m=M, sub_dim=SUB, k_sub=KSUB
    ).collect()
    seeds = rows[:KSUB]
    codes = {
        vid: [
            min(((_sub_de6(vec, svec, s), sid) for sid, svec in seeds))[1]
            for s in range(M)
        ]
        for vid, vec in rows
    }
    by_vec = dict(rows)
    for q in range(3):
        # python ADC: distance table lookup per sub-space code
        scored = sorted(
            (
                sum(
                    _sub_de6(by_vec[q], by_vec[codes[v][s]], s)
                    for s in range(M)
                )
                / 1e6,
                v,
            )
            for v, _ in rows
            if v != q
        )[:5]
        mine = sorted(
            (r["score"], r["neighbor_id"]) for r in got if r["query_id"] == q
        )
        assert mine == scored, q


def test_rrf_fuse_exact_integer_contributions(spark):
    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc long, rank long"
    )
    ann = spark.createDataFrame(
        [(20, 1), (40, 2)], "doc long, rank long"
    )
    out = {
        r["doc"]: r
        for r in rrf_fuse({"lex": lex, "ann": ann}, topk=10).collect()
    }
    # doc 20: 1e9//62 + 1e9//61 — in both lists, ranks kept per source
    assert out[20]["lex_rank"] == 2 and out[20]["ann_rank"] == 1
    assert out[20]["rrf_score"] == (10**9 // 62 + 10**9 // 61) / 1e9
    # single-list docs carry a NULL rank for the list they missed
    assert out[10]["ann_rank"] is None
    assert out[10]["rrf_score"] == (10**9 // 61) / 1e9
    assert out[40]["lex_rank"] is None
    # fusion order: 20 (both lists) first; tie-breaks never needed here
    ranks = {d: r["rank"] for d, r in out.items()}
    assert ranks[20] == 1 and ranks[10] == 2
    # 30 (lex rank 3) vs 40 (ann rank 2): 1e9//63 < 1e9//62
    assert ranks[40] == 3 and ranks[30] == 4


def test_pq_topk_ivf_consistent_with_full_adc(spark):
    """IVF-PQ returns exactly the full-ADC ranking restricted to the
    query's probed cells: every returned neighbor lives in a probed
    cell, and its score equals the unrestricted ADC score for that
    (query, neighbor) pair — the composite adds candidate pruning, not
    a different metric."""
    rows = _vecs(36, seed=23)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3)
    kw = dict(m=M, sub_dim=SUB, k_sub=KSUB)
    full = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in PQ.pq_topk(df, q, k=100, **kw).collect()
    }
    ivf = PQ.pq_topk_ivf(df, q, k=5, n_centroids=4, nprobe=2, **kw).collect()
    assert len(ivf) > 0
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        assert full[key] == r["score"], key
    # per query: ranks are 1..n without gaps and ordered by score
    for qid in {r["query_id"] for r in ivf}:
        mine = sorted(
            (r["rank"], r["score"], r["neighbor_id"])
            for r in ivf
            if r["query_id"] == qid
        )
        assert [m[0] for m in mine] == list(range(1, len(mine) + 1))
        assert mine == sorted(mine, key=lambda t: (t[1], t[2]))


def test_pq_fit_distinct_seeding_survives_duplicate_vectors(spark):
    """Regression for the degenerate residual codebook (r10): id-based
    seeding over a corpus whose first k_sub vectors are IDENTICAL (the
    residual case: seed centroids' residuals are all zero) must NOT
    collapse the codebook to one effective codeword. pq_fit seeds from
    the first k_sub DISTINCT sub-vectors, so the trained codebook keeps
    k_sub codewords per sub-space and assignments spread."""
    rows = [(i, [0.0] * DIM) for i in range(KSUB)] + _vecs(40, seed=3)
    # reindex: zero vectors take ids 0..KSUB-1, real vectors follow
    rows = [(i, v) for i, (_, v) in enumerate(rows)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cb = PQ.pq_fit(df, m=M, sub_dim=SUB, k_sub=KSUB, n_iter=1)
    per_s = {
        r["s"]: r["n"]
        for r in cb.groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_s) == set(range(M))
    for s, n in per_s.items():
        assert n > 1, f"sub-space {s} collapsed to {n} codeword(s)"
    codes = _trained_codes(df, "vec_id", M, SUB, cb)
    n_used = codes.select("s", "code").distinct().count()
    assert n_used > M, "all vectors encoded to a single codeword per s"


def test_pq_topk_trained_matches_python_reference(spark):
    """pq_topk_trained ≡ a plain-Python PQ pipeline run with the SAME
    trained codebook (fit pulled from Spark, encode/ADC re-derived in
    Python): validates the encode/table/ADC plumbing independent of the
    training math."""
    rows = _vecs(30)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cb_rows = PQ.pq_fit(df, m=M, sub_dim=SUB, k_sub=KSUB, n_iter=2).collect()
    cb = {}
    for r in cb_rows:
        cb.setdefault(r["s"], {})[r["cid"]] = list(r["cvec"])

    def sub_de6_full(a, b):
        import math

        d = 0.0
        for x, y in zip(a, b):
            d += (x - y) * (x - y)
        return math.floor(d * 1e6 + 0.5)

    def encode(v):
        out = {}
        for s in range(M):
            sv = v[s * SUB:(s + 1) * SUB]
            out[s] = min(
                ((sub_de6_full(sv, cv), cid) for cid, cv in cb[s].items())
            )[1]
        return out

    ref_codes = {i: encode(v) for i, v in rows}
    queries = [r for r in rows if r[0] < 3]
    expect = {}
    for qid, qv in queries:
        scores = []
        for nid, _nv in rows:
            if nid == qid:
                continue
            total = 0
            for s in range(M):
                sv = qv[s * SUB:(s + 1) * SUB]
                total += sub_de6_full(sv, cb[s][ref_codes[nid][s]])
            scores.append((total / 1e6, nid))
        for rank, (sc, nid) in enumerate(sorted(scores)[:5], start=1):
            expect[(qid, nid)] = (sc, rank)

    got = PQ.pq_topk_trained(
        df, df.filter(F.col("vec_id") < 3), k=5, m=M, sub_dim=SUB,
        k_sub=KSUB, n_iter=2,
    ).collect()
    assert len(got) == len(expect)
    for r in got:
        sc, rank = expect[(r["query_id"], r["neighbor_id"])]
        assert (r["score"], r["rank"]) == (sc, rank)


def test_pq_topk_ivf_refined_exact_ordering_within_candidates(spark):
    """The refine tail (pq_topk_ivf_refined) must (a) return a subset of
    the k*refine_factor ADC candidate set, (b) order that subset by the
    EXACT integer-micro L2 of the raw vectors (python reference), and
    (c) never recall fewer exact-L2 top-k neighbors than the pure ADC
    ranking it refines (same candidate coverage, exact ordering)."""
    rows = _vecs(60)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.filter(F.col("vec_id") < 3)
    kw = dict(m=M, sub_dim=SUB, k_sub=KSUB, n_centroids=4, nprobe=2)
    k, rf = 3, 3
    cand = {
        (r["query_id"], r["neighbor_id"])
        for r in PQ.pq_topk_ivf(df, probes, k=k * rf, **kw).collect()
    }
    refined = PQ.pq_topk_ivf_refined(
        df, probes, k=k, refine_factor=rf, **kw
    ).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in refined} <= cand

    vecs = dict(rows)
    by_q = {}
    for r in refined:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        for r in rs:
            want = sum(
                _sub_de6(vecs[q], vecs[r["neighbor_id"]], s) for s in range(M)
            )
            assert abs(r["score"] - want / 1e6) < 1e-9
        scores = [(r["score"], r["neighbor_id"]) for r in rs]
        assert scores == sorted(scores)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in PQ.exact_l2_topk(df, probes, k=k, m=M, sub_dim=SUB).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in PQ.pq_topk_ivf(df, probes, k=k, **kw).collect()
    }
    ref_pairs = {(r["query_id"], r["neighbor_id"]) for r in refined}
    assert len(ref_pairs & exact) >= len(adc & exact)


def test_hadamard_rotate_orthogonal_and_reference(spark):
    """hadamard_rotate: (a) H4 matches the hand-computed reference, (b)
    the rotation preserves exact pairwise squared-L2 distances (up to
    float rounding) — the property the recall report's shared raw-GT
    rests on, (c) non-power-of-two dims are refused, (d) at dim 512 a
    +-1 vector rotates to exactly H @ x by hand."""
    import math

    import pytest as _pytest

    from etl_gardener_spark.operators import pq as PQ

    df4 = spark.createDataFrame(
        [(0, [0.0, 1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    got = PQ.hadamard_rotate(df4, "embedding", 4).collect()[0]["embedding"]
    assert got == [3.0, -1.0, -2.0, 0.0]

    rows = _vecs(6)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rot = {
        r["vec_id"]: r["embedding"]
        for r in PQ.hadamard_rotate(df, "embedding", DIM).collect()
    }
    vecs = dict(rows)
    for a in range(6):
        for b in range(a + 1, 6):
            raw = sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b]))
            rotated = sum((x - y) ** 2 for x, y in zip(rot[a], rot[b]))
            assert math.isclose(raw, rotated, rel_tol=1e-9), (a, b)

    with _pytest.raises(ValueError):
        PQ.hadamard_rotate(df, "embedding", 12)

    # dim 512: +-1 inputs make every partial sum integer-valued, so the
    # kernel == H @ x exactly (scale 1/sqrt(512) applied to both sides)
    import numpy as np

    d2 = 512
    sgn = [1.0 if (i * 7 + 3) % 5 < 3 else -1.0 for i in range(d2)]
    big = spark.createDataFrame(
        [(0, sgn)], "vec_id long, embedding array<double>"
    )
    out = PQ.hadamard_rotate(big, "embedding", d2).collect()[0]["embedding"]
    v = np.array(sgn)
    i = np.arange(d2)
    ref = np.array([
        ((-1.0) ** np.array([bin(ii & jj).count("1") for jj in i]) * v).sum()
        for ii in i
    ]) * (1.0 / math.sqrt(d2))  # multiply-by-reciprocal, as the kernel does
    assert np.array_equal(np.array(out), ref)


def test_hadamard_rotate_rejects_length_mismatch(spark):
    """r10 advisor fix: a vector longer than dim must raise (it would
    silently truncate), and shorter must raise (NULL components), via
    the executor-side exact-length assert."""
    import pytest

    from etl_gardener_spark.operators import pq as PQ

    long_df = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])], "vec_id long, embedding array<double>"
    )
    short_df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    for bad in (long_df, short_df):
        with pytest.raises(Exception) as ei:
            PQ.hadamard_rotate(bad, "embedding", 4).collect()
        assert "vector length != dim" in str(ei.value)
    # NULL vectors do not trip the assert (left to caller null handling;
    # the rotation of a NULL array is all-NULL components, as before)
    null_df = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    got = PQ.hadamard_rotate(null_df, "embedding", 4).collect()
    assert got[0]["embedding"] == [None] * 4


def test_hadamard_npfold_bit_equal(spark):
    """hadamard_rotate — the numpy fold over a (rows, dim) accumulator —
    is BIT-IDENTICAL to the SQL expression-tree reference: exact float
    equality on random vectors (not allclose — the fold adds the same
    terms in the same order from the same 0.0 start), +0.0 for an
    all-(-0.0) vector, [None]*dim for a NULL vector AND for a vector
    carrying a NULL component (H has no zero entries, so one NULL
    poisons every output fold), NaN propagation, and the length
    assert."""
    import math

    import pytest

    from etl_gardener_spark.operators import pq as PQ

    def bits(rotated):
        return {
            r["vec_id"]: [repr(x) for x in r["embedding"]]
            for r in rotated.collect()
        }

    rng = random.Random(23)
    dim = 64
    rows = [
        (i, [rng.uniform(-100, 100) * (10 ** rng.randint(-3, 3)) for _ in range(dim)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got_np = bits(PQ.hadamard_rotate(df, "embedding", dim))
    assert got_np == bits(_hadamard_rotate_sql(df, "embedding", dim))
    assert len(got_np) == 40

    # NULL vector, NULL component, NaN component and signed zeros
    # mirror the SQL tree
    special = spark.createDataFrame(
        [
            (1, None),
            (2, [1.0] * 31 + [None] + [1.0] * 32),
            (3, [1.0] * 63 + [float("nan")]),
            (4, [-0.0] * dim),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["embedding"]
        for r in PQ.hadamard_rotate(special, "embedding", dim).collect()
    }
    assert got[1] == [None] * dim
    assert got[2] == [None] * dim
    assert all(x is not None and math.isnan(x) for x in got[3])
    assert repr(got[4][0]) == "0.0"
    assert bits(PQ.hadamard_rotate(special, "embedding", dim)) == bits(
        _hadamard_rotate_sql(special, "embedding", dim)
    )

    bad = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        PQ.hadamard_rotate(bad, "embedding", dim).collect()


def test_opq_fit_rotation_and_method_parity(spark):
    """r10 verdict item 4 (OPQ proper): opq_fit learns an ORTHOGONAL
    rotation (integer-micro Newton-Schulz polar of the Procrustes
    scatter), opq_rotate agrees BIT-FOR-BIT with the SQL expression-tree
    reference (every op exact int64), the learned
    rotation lowers the PQ quantization objective vs no rotation on a
    correlated corpus, and the degenerate cases (empty corpus, NULL
    vectors, over-bound samples) behave."""
    import hashlib

    import numpy as np
    import pytest

    from etl_gardener_spark.operators import pq as PQ

    rng = random.Random(4)
    n, dim = 300, 64
    # correlated corpus: variance concentrated in a few directions so
    # the learned rotation has real energy to rebalance
    basis = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    rows = []
    for i in range(n):
        coef = [rng.gauss(0, 1.0 / (1 + b)) for b in range(4)]
        v = [
            sum(coef[b] * basis[b][d] for b in range(4))
            + rng.gauss(0, 0.05)
            for d in range(dim)
        ]
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    r_e6 = PQ.opq_fit(df, dim=dim, ns_iter=40)
    # pinned: the fit kernels must keep learning exactly this rotation
    assert hashlib.sha256(repr(r_e6).encode()).hexdigest() == (
        "47a932c3ab5783538d78b112270ad8e7b59704397a44db30f6bf18337d1de554"
    )
    rm = np.array(r_e6, dtype=np.float64) / 1e6
    assert float(np.abs(rm.T @ rm - np.eye(dim)).max()) < 1e-3

    a = {
        r["vec_id"]: tuple(r["embedding"])
        for r in _opq_rotate_sql(df, "embedding", r_e6, dim).collect()
    }
    b = {
        r["vec_id"]: tuple(r["embedding"])
        for r in PQ.opq_rotate(df, "embedding", r_e6, dim).collect()
    }
    assert a == b and len(a) == n

    def mse(src):
        cb = PQ.pq_fit(src, "vec_id", "embedding", 4, 16, 16, 2)
        codes = _trained_codes(src, "vec_id", 4, 16, cb)
        return codes.agg(F.sum("de6")).collect()[0][0] / 1e6 / n

    rot = PQ.opq_rotate(df, "embedding", r_e6, dim).localCheckpoint()
    assert mse(rot) < mse(df)  # the OPQ objective actually improves

    # NULL pass-through
    nd = spark.createDataFrame(
        [(1, None), (2, [1.0] * dim)], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["embedding"]
        for r in PQ.opq_rotate(nd, "embedding", r_e6, dim).collect()
    }
    assert got[1] is None and got[2] is not None

    # empty corpus: identity rotation, empty search — the fuzz seed-0
    # shape, and the oracle's fro = 0 CASE twin
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert PQ.opq_fit(empty, dim=dim) == PQ._identity_e6(dim)
    assert PQ.pq_topk_opq(
        empty, empty, k=3, dim=dim, m=4, sub_dim=16
    ).count() == 0

    # bounded-collect refusal (the broadcast-guard discipline)
    with pytest.raises(ValueError, match="max_sample_rows"):
        PQ.opq_fit(df, dim=dim, max_sample_rows=10)

    # search end-to-end returns ranked rows
    res = PQ.pq_topk_opq(
        df, df.filter(F.col("vec_id") < 3), k=4, dim=dim, r_e6=r_e6
    )
    got = res.groupBy("query_id").count().collect()
    assert {r["count"] for r in got} == {4}


def test_opq_rotate_rejects_length_mismatch(spark):
    """opq_rotate refuses mis-sized vectors instead of raising an
    obscure numpy shape error — the hadamard_rotate r10-advisor
    contract carried over."""
    import pytest

    from etl_gardener_spark.operators import pq as PQ

    r = PQ._identity_e6(8)
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        PQ.opq_rotate(bad, "embedding", r, 8).collect()


def test_pq_fit_local_matches_spark(spark):
    """The driver-side fit opq_fit trains its sample with (_fit_batch:
    the rows as one batch through pq_fit's seed, step and merge
    functions) is BIT-IDENTICAL to the former Catalyst pq_fit on the same
    relation — same distinct-by-min-id seeding, integer-micro argmin
    tie-break, exact-int64-sum half-up means, and empty-codeword
    dropout — across n_iter 0/1/2 and duplicate-heavy float32 input."""
    from etl_gardener_spark.operators.similarity import _arrow_vectors

    dup = [(i, [0.0] * DIM) for i in range(3)]
    rows = [(i, v) for i, (_, v) in enumerate(dup + _vecs(50, seed=5))]
    # float32 coverage comes from the array<float> schema arm below: Spark
    # casts the ingested doubles to float32, and the Arrow read gives
    # back the float32-representable doubles the fit then trains on.
    for schema in (
        "vec_id long, embedding array<double>",
        "vec_id long, embedding array<float>",
    ):
        df = spark.createDataFrame(rows, schema)
        table = df.toArrow()
        x, _lens, valid, present = _arrow_vectors(table.column(1))
        ids = table.column(0).to_pylist()
        for n_iter in (0, 1, 2):
            cbs = PQ._fit_batch(
                ids, x, valid, present, M, SUB, KSUB, n_iter, True
            )
            got = [
                (s, cid, [float(v).hex() for v in cv])
                for s, cb in enumerate(cbs)
                for cid, cv in cb
            ]
            exp = sorted(
                (r["s"], r["cid"], [float(v).hex() for v in r["cvec"]])
                for r in ref_pq_fit(
                    df, "vec_id", "embedding", M, SUB, KSUB, n_iter
                ).collect()
            )
            assert got == exp, (schema, n_iter)


def test_pq_encode_local_matches_spark_recon(spark):
    """The driver-side reconstruction opq_fit scatters against
    (_reconstruct: each row's chosen codewords by _argmin) equals the
    former Catalyst encode + join/flatten pipeline per id."""
    import numpy as np

    from etl_gardener_spark.functions.localrel import local_df

    rows = [(i, v) for i, v in _vecs(40, seed=9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    x = np.array([v for _i, v in rows])
    valid, present = np.ones(x.shape, dtype=bool), np.ones(len(rows), bool)
    cbs = PQ._fit_batch(
        [i for i, _v in rows], x, valid, present, M, SUB, KSUB, 2, True
    )
    cb_rows = [
        (s, cid, cvec) for s, lst in enumerate(cbs) for cid, cvec in lst
    ]
    cb = local_df(spark, cb_rows, "s int, cid long, cvec array<double>")
    cbj = cb.select(
        F.col("s").alias("__cs"), F.col("cid").alias("__cc"), "cvec"
    )
    recon = (
        ref_exploded_codes_sub(df, "vec_id", "embedding", M, SUB, cb)
        .join(
            F.broadcast(cbj),
            (F.col("s") == F.col("__cs")) & (F.col("code") == F.col("__cc")),
        )
        .select(F.col("neighbor_id").alias("sid"), "s", "cvec")
        .groupBy("sid")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "cvec"))),
                    lambda st: st.getField("cvec"),
                )
            ).alias("yhat")
        )
    )
    exp = {r["sid"]: list(r["yhat"]) for r in recon.collect()}
    yhat = PQ._reconstruct(x, valid, present, cbs, SUB)
    got = {i: yhat[j].tolist() for j, (i, _v) in enumerate(rows)}
    assert got == exp


def test_emb_ann_topk_pq_trainedcb_job_count(spark):
    """One ``emb_ann_topk_pq_trainedcb`` call at sf0.01, built and run:
    pq_fit's seed pass and two Lloyd passes (one narrow job each), the
    bounded query read, and the 2 jobs of the search (the numpy
    encode-and-score pass and the ranking window). The fitted codebook
    reaches the kernels without a job (17 jobs when pq_fit and the
    trained encode were Catalyst trees, 7 while the search joined
    exploded codes to a broadcast query table)."""
    import os

    from etl_gardener_spark.orchestrator.metrics import spark_cost
    from etl_gardener_spark.plans import queries as Q
    from etl_gardener_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    fn = Q.REGISTRY["emb_ann_topk_pq_trainedcb"].fn
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    load_table(spark, sf, "embeddings")  # caches the schema: not counted
    with spark_cost(spark) as cost:
        fn(spark, sf).write.format("noop").mode("overwrite").save()
    assert cost.jobs == 6, cost


@pytest.mark.parametrize(
    "name",
    [
        "emb_ann_topk_pq_trainedcb",
        "emb_ann_topk_ivfpq_residual_trainedcb",
        "emb_pq_codebook_recall_report",
        "emb_pq_opq_mse_report",
        "emb_ann_topk_pq_opq",
        "emb_ann_topk_ivfpq_opq",
        "emb_ann_topk_pq_opq_persisted",
    ],
)
def test_trained_codebook_queries_match_oracle(spark, duck, name):
    """The registry queries that train PQ codebooks (pq_fit, opq_fit)
    against their DuckDB oracles."""
    from etl_gardener_spark.plans import queries as Q
    from tests.conftest import SF_DIR, assert_matches_oracle

    spec = Q.REGISTRY[name]
    assert_matches_oracle(spec.fn(spark, SF_DIR), duck, spec.oracle)
