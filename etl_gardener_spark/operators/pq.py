"""Product quantization (PQ): compress embeddings to m sub-space codes
and search over the codes with asymmetric distance computation (ADC).

This is the memory-footprint path of large-scale similarity search
(Jegou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — the IVF-PQ layout FAISS popularized): the corpus vector
(d floats, 256 B at d=64) is replaced by m codebook indices (m bytes at
k_sub <= 256), so a 100 TB float corpus becomes ~1.5 TB of codes that
fit a far smaller cluster — and queries never touch raw corpus vectors:

* **Encode** (one corpus pass, amortized): each vector's s-th sub-slice
  is assigned to its nearest codebook entry — the codebook is read to
  the driver once and each Arrow batch of the corpus is encoded by one
  exact numpy fold in a narrow ``mapInArrow`` pass. No join, no
  aggregate, no shuffle of the raw vectors.
* **Search** (per query batch): the query computes its m x k_sub
  distance TABLE (tiny — broadcast), which is equi-joined to the
  exploded code columns; the approximate distance is a SUM of m table
  lookups. Corpus-side I/O is the code table only.

Determinism discipline (the repo-wide exact-kernel rule): sub-space
squared-L2 distances are doubles from an identical left-to-right
index-order fold in both engines, then IMMEDIATELY quantized to integer
micros with the floor kernel ``FLOOR(d * 1e6 + 0.5)``. Every downstream
comparison — argmin for code assignment, reconstruction error, ADC
ranking — is integer arithmetic, so no ROUND-midpoint or fold-order
hazard exists anywhere in the operator.

Codebooks come in two flavors: deterministic corpus seeds (the first
``k_sub`` vectors by id, like similarity.ivf_centroids — the oracle
replay default), and TRAINED per-sub-space k-means codebooks
(``pq_fit`` / ``pq_topk_trained`` / ``pq_topk_ivf_residual_trained`` —
FAISS ProductQuantizer::train, with the same integer-exact kernels so
the trained results stay oracle-reproducible too). Either way the
codebook is read to the driver once per call as one (cid, sub-vector)
list per sub-space, and one numpy kernel (``_sub_dist``) computes every
sub-distance: encoding, the ADC tables, the fit's assignment step and
``opq_fit``'s driver-side training. The plan shape, code layout, and
search path are identical either way; the recall is not (see
``emb_pq_codebook_recall_report``).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from etl_gardener_spark.functions.localrel import (
    TooManyRows,
    collect_bounded,
    local_df,
)
from etl_gardener_spark.operators.similarity import (
    _MODEL_ROWS,
    _arrow_vectors,
    _assign_pass,
    _floor_long,
    _model_rows,
    _resolve_cents,
    ivf_centroids,
)


def _sub_dist_e6(vec: Column, cvec: Column, start: int, width: int) -> Column:
    """Integer-micro squared-L2 distance between one sub-slice of ``vec``
    and the same slice of ``cvec``: left-to-right index-order double fold
    (bit-identical to the oracle's list_reduce over the same range), then
    the floor half-up kernel. 1-based ``start`` per F.slice semantics."""
    d = F.aggregate(
        F.zip_with(
            F.slice(vec, start, width),
            F.slice(cvec, start, width),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.floor(d * F.lit(1e6) + F.lit(0.5)).cast("long")


def _check_dim(vec_col: str, m: int, sub_dim: int) -> Column:
    """Fail-fast dimension guard (round-6 advisor fix): a vector shorter
    than ``m * sub_dim`` would make F.slice/zip_with pad with NULLs,
    feeding a NULL micro-distance into the min_by ordering — a silent,
    NULL-ordering-dependent code assignment. Executor-side assert_true
    turns the mis-sized input into an immediate, named failure instead
    (NULL vectors are left to the caller's null handling)."""
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


def _pq_vectors(col, need: int) -> tuple:
    """(x, valid, present) of a vector column for the PQ kernels, ``x``
    and ``valid`` at least ``need`` columns wide. A non-NULL vector
    shorter than ``need`` raises: its slices would pad with NULLs and
    make the code assignment depend on NULL ordering."""
    x, lens, valid, present = _arrow_vectors(col)
    short = present & (lens < need)
    if short.any():
        raise ValueError(
            f"pq: embedding shorter than m*sub_dim={need}: "
            f"got {int(lens[short][0])}"
        )
    if x.shape[1] < need:
        pad = need - x.shape[1]
        x = np.pad(x, ((0, 0), (0, pad)))
        valid = np.pad(valid, ((0, 0), (0, pad)))
    return x, valid, present


def _sub_dist(x, valid, present, cb: list[tuple], s: int, sub_dim: int):
    """(de6, null) for sub-space ``s``: the (rows, len(cb)) integer-micro
    squared-L2 between each row's s-th slice and each of that sub-space's
    (cid, sub-vector) entries ``cb``, and where it is NULL —
    ``_sub_dist_e6`` exactly. The difference squares are summed left to
    right from +0.0 in float64, then floored half up to a long as Spark's
    FLOOR does (saturating; NaN -> 0). It is NULL for a NULL row, a NULL
    element in either sub-vector, or an entry that is not ``sub_dim``
    long (the SQL zip pads it with NULLs)."""
    lo = s * sub_dim
    ents = [
        j
        for j, (_c, cv) in enumerate(cb)
        if cv is not None and len(cv) == sub_dim and None not in cv
    ]
    de6 = np.zeros((len(x), len(cb)), dtype=np.int64)
    ok = np.zeros(len(cb), dtype=bool)
    if ents:
        ok[ents] = True
        cm = np.array([cb[j][1] for j in ents], dtype=np.float64)
        cm = cm.reshape(len(ents), sub_dim)
        acc = np.zeros((len(x), len(ents)))
        with np.errstate(all="ignore"):
            for t in range(sub_dim):
                d = x[:, lo + t, None] - cm[None, :, t]
                acc += d * d
            de6[:, ents] = _floor_long(acc * 1e6 + 0.5)
    rows_ok = present & valid[:, lo : lo + sub_dim].all(axis=1)
    return de6, ~(rows_ok[:, None] & ok[None, :])


def _argmin(x, valid, present, cb: list[tuple], s: int, sub_dim: int):
    """(win, de6, null): each row's nearest entry of sub-space ``s``'s
    ``cb`` (an index into it), that distance, and whether it is NULL. A
    NULL distance sorts first, then the smallest; argmin takes the first,
    so ties go to the smallest cid (``cb`` is sorted by cid)."""
    de6, null = _sub_dist(x, valid, present, cb, s, sub_dim)
    win = np.where(null, np.iinfo(np.int64).min, de6).argmin(1)
    rows = np.arange(len(x))
    return win, de6[rows, win], null[rows, win]


def _sub_codebooks(cb: list[tuple], m: int, sub_dim: int) -> list[list]:
    """Full-width (cid, cvec) codebook rows, sorted by cid, as m
    per-sub-space (cid, sub-vector) lists: each cvec is sliced once. A
    NULL cvec gives NULL slices and a short one short slices, which
    ``_sub_dist`` scores as NULL."""
    return [
        [
            (c, None if cv is None else cv[s * sub_dim : (s + 1) * sub_dim])
            for c, cv in cb
        ]
        for s in range(m)
    ]


def _trained_codebooks(codebooks: DataFrame, m: int) -> list[list]:
    """A (s, cid, cvec) codebook relation (``pq_fit``'s, or one persisted
    through index_store) read to the driver once, as m per-sub-space
    (cid, cvec) lists sorted by cid with a NULL cid first (at most
    ``_MODEL_ROWS`` rows; no Spark job for a local relation). Rows whose
    s is outside 0..m-1 match no sub-vector and are left out."""
    rows = collect_bounded(
        codebooks.select(
            F.col("s").cast("int"),
            F.col("cid").cast("long"),
            F.col("cvec").cast("array<double>"),
        ),
        _MODEL_ROWS,
        "pq codebooks",
    )
    cbs: list[list] = [[] for _ in range(m)]
    rows.sort(key=lambda r: (r[1] is not None, r[1] or 0))
    for s, cid, cv in rows:
        if s is not None and 0 <= s < m:
            cbs[s].append((cid, cv))
    return cbs


def _encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    sub_dim: int,
    cbs: list[list],
) -> DataFrame:
    """(id_col, code_0..code_{m-1}, de6_0..de6_{m-1}): each row's nearest
    entry per sub-space of the per-sub-space codebooks ``cbs`` and its
    micro-distance (``_argmin``), one ``mapInArrow`` pass. A sub-space
    without entries encodes nothing, so no row comes out."""
    src = corpus.select(id_col, vec_col)
    schema = StructType(
        [src.schema[id_col]]
        + [StructField(f"code_{s}", LongType()) for s in range(m)]
        + [StructField(f"de6_{s}", LongType()) for s in range(m)]
    )
    if not all(cbs):
        return local_df(corpus.sparkSession, [], schema)
    cids = [pa.array([c for c, _v in cb], type=pa.int64()) for cb in cbs]
    need = m * sub_dim

    def gen(batches):
        for batch in batches:
            x, valid, present = _pq_vectors(batch.column(1), need)
            codes, dists = [], []
            for s, cb in enumerate(cbs):
                win, d, null = _argmin(x, valid, present, cb, s, sub_dim)
                codes.append(cids[s].take(pa.array(win)))
                dists.append(pa.array(d, mask=null))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), *codes, *dists], names=schema.names
            )

    return src.mapInArrow(gen, schema)


def pq_encode(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
) -> DataFrame:
    """Encode every corpus vector to ``m`` PQ codes plus its exact-integer
    reconstruction error.

    Output: (id_col, code_0..code_{m-1} long, recon_err double), one row
    per corpus row (ids are a key: a duplicated id is encoded once per
    copy). recon_err is the long sum of the chosen sub-space
    micro-distances / 1e6 (NULL if one is NULL; under ANSI an overflowing
    sum raises). The codebook is read to the driver once, then each Arrow
    batch of the corpus is encoded by numpy in one narrow ``mapInArrow``
    pass — no join, no aggregate, no raw vector shuffle. The argmin sorts
    a NULL distance first and breaks ties to the smallest cid.
    tests/test_assign_encode_kernels.py keeps the SQL min_by tree as the
    bit-equality reference. A non-NULL vector shorter than m*sub_dim
    raises. The codebook is the deterministic first-k_sub corpus seeding
    (``ivf_centroids``)."""
    cb = ivf_centroids(corpus, id_col, vec_col, n_centroids=k_sub)
    enc = _encode(
        corpus, id_col, vec_col, m, sub_dim, _sub_codebooks(cb, m, sub_dim)
    )
    err = sum((F.col(f"de6_{s}") for s in range(m)), F.lit(0).cast("long"))
    return enc.select(
        id_col,
        *[f"code_{s}" for s in range(m)],
        (err.cast("double") / F.lit(1e6)).alias("recon_err"),
    )


def exploded_codes(
    corpus: DataFrame, id_col: str, vec_col: str, m: int, sub_dim: int,
    k_sub: int,
) -> DataFrame:
    """(neighbor_id, s, code): the encoded corpus melted to one row per
    sub-space — the relation ADC search actually reads (m small ints per
    vector; raw vectors never appear downstream of this)."""
    return _explode(
        pq_encode(corpus, id_col, vec_col, m, sub_dim, k_sub), id_col, m
    )


def _explode(encoded: DataFrame, id_col: str, m: int) -> DataFrame:
    """``exploded_codes`` of a ``pq_encode`` relation."""
    return encoded.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.col(f"code_{s}").alias("code"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sc"),
    ).select("neighbor_id", "sc.s", "sc.code")


def _dist_table(
    df: DataFrame, keys: list[str], vec_col: str, cbs: list[list], m: int,
    sub_dim: int,
) -> DataFrame:
    """(*keys, code, s, de6): every row's micro-distance to every entry of
    the per-sub-space codebooks ``cbs``, ``_sub_dist`` per sub-space
    melted in one ``mapInArrow`` pass. A non-NULL vector shorter than
    m*sub_dim raises."""
    src = df.select(*keys, vec_col)
    schema = StructType(
        [src.schema[k] for k in keys]
        + [
            StructField("code", LongType()),
            StructField("s", IntegerType()),
            StructField("de6", LongType()),
        ]
    )
    if not all(cbs):
        return local_df(df.sparkSession, [], schema)
    cids = [pa.array([c for c, _v in cb], type=pa.int64()) for cb in cbs]
    need = m * sub_dim

    def gen(batches):
        for batch in batches:
            x, valid, present = _pq_vectors(batch.column(len(keys)), need)
            n = len(x)
            for s, cb in enumerate(cbs):
                de6, null = _sub_dist(x, valid, present, cb, s, sub_dim)
                # rows ordered (row, entry)
                row = pa.array(np.repeat(np.arange(n), len(cb)))
                ent = pa.array(np.tile(np.arange(len(cb)), n))
                yield pa.RecordBatch.from_arrays(
                    [batch.column(i).take(row) for i in range(len(keys))]
                    + [
                        cids[s].take(ent),
                        pa.array(np.full(n * len(cb), s, dtype=np.int32)),
                        pa.array(de6.ravel(), mask=null.ravel()),
                    ],
                    names=schema.names,
                )

    return src.mapInArrow(gen, schema)


def _query_dist_table(
    queries: DataFrame, cbs: list[list], id_col: str, vec_col: str, m: int,
    sub_dim: int,
) -> DataFrame:
    """(query_id, code, s, de6): each query's m x k_sub micro-distance
    table — tiny, broadcast into the code join."""
    return _dist_table(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        ["query_id"], "q_vec", cbs, m, sub_dim,
    )


def _rank_adc(cand: DataFrame, k: int) -> DataFrame:
    """Top-k per query by (ADC score ASC, neighbor_id ASC)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: rank corpus vectors by approximate (quantized) squared
    L2 distance to each query, touching only the corpus CODES.

    ``codes`` accepts a precomputed/persisted `exploded_codes` relation —
    a PQ index IS a materialized artifact, encoded once and searched
    many times; passing it skips the encode pass entirely.

    Output: (query_id, neighbor_id, score, rank) — score is the exact
    integer-micro ADC distance / 1e6, rank by (score ASC, neighbor_id
    ASC). The per-query m x k_sub distance table is a tiny broadcast;
    the corpus side is the exploded code relation (m rows per vector),
    so the heavy join is codes ⨝ table on (sub, code) — no raw corpus
    vectors move, which is the entire point of PQ at 100 TB.
    """
    cb = _sub_codebooks(
        ivf_centroids(corpus, id_col, vec_col, k_sub), m, sub_dim
    )
    if codes is None:
        codes = _explode(
            _encode(corpus, id_col, vec_col, m, sub_dim, cb), id_col, m
        )
    return _adc_topk(
        codes, _query_dist_table(queries, cb, id_col, vec_col, m, sub_dim), k
    )


def _adc_topk(codes: DataFrame, table: DataFrame, k: int) -> DataFrame:
    """Top-k ADC over an exploded code relation (neighbor_id, s, code)
    and a query distance table (query_id, code, s, de6): the codes join
    the broadcast table on (s, code), a query never matches itself, and
    each pair's score is its exact long sum of micro-distances / 1e6."""
    cand = (
        codes.join(F.broadcast(table), ["s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("de6").cast("double") / F.lit(1e6)).alias("score"))
    )
    return _rank_adc(cand, k)


def pq_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    codes: DataFrame | None = None,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IndexIVFPQ layout, ``by_residual=false``
    variant — codes encode raw vectors, not cell residuals, keeping
    every code oracle-reproducible): coarse cosine cells bound WHICH
    codes a query reads (~nprobe/C of the corpus via the cell
    equi-join), PQ codes bound HOW MUCH is read per vector (m bytes),
    and ADC ranks candidates without touching raw vectors at all.

    Build side (one corpus pass each, amortized across queries): cell
    assignment by rounded-cosine argmax and the PQ code table
    (``pq_encode``'s pass). Cells and query probes are both ranked by
    ``similarity._nearest`` (FLOOR(cos·1e6 + 0.5) DESC, ties to the
    smallest cid), the kernel behind kmeans_assign and the IVF-Flat
    cells, in narrow numpy passes per Arrow batch over the centroids
    read to the driver once. The seeded codebook is collected once per
    call and feeds both the encode and the query table. Query side:
    nprobe nearest cells + the m x k_sub micro-distance table, both
    tiny broadcasts. Output:
    (query_id, neighbor_id, score, rank) — exact-integer ADC score,
    rank (score ASC, neighbor_id ASC).
    """
    # a trained coarse quantizer (kmeans_fit's fitted relation) swaps in
    # as in similarity.cosine_topk_ivf
    cents = _model_rows(
        _resolve_cents(corpus, id_col, vec_col, n_centroids, centroids),
        "pq_topk_ivf centroids",
    )
    if cells is None:
        cells = _assign_pass(corpus, cents, id_col, vec_col, 6).select(
            F.col(id_col).alias("neighbor_id"), F.col("cid").alias("cell")
        )
    else:
        # a persisted index's cell relation (index_store.load_ann_index,
        # or ivf_build_cells output) — extra columns like c_vec dropped
        cells = cells.select("neighbor_id", "cell")
    cb = _sub_codebooks(
        ivf_centroids(corpus, id_col, vec_col, k_sub), m, sub_dim
    )
    if codes is None:
        codes = _explode(
            _encode(corpus, id_col, vec_col, m, sub_dim, cb), id_col, m
        )
    codes = codes.join(cells, "neighbor_id")
    probes = _assign_pass(
        queries, cents, id_col, vec_col, 6, keep=nprobe
    ).select(F.col(id_col).alias("query_id"), F.col("cid").alias("cell"))

    table = _query_dist_table(queries, cb, id_col, vec_col, m, sub_dim)
    cand = (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(table), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("de6").cast("double") / F.lit(1e6)).alias("score"))
    )
    return _rank_adc(cand, k)


def pq_topk_ivf_refined(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine_factor: int = 4,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    codes: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search with an exact re-rank tail — the FAISS
    ``IndexRefineFlat`` production pattern: stage 1 runs the certified
    IVF-PQ search (`pq_topk_ivf`) for ``k * refine_factor`` candidates
    (cell-pruned scan, m-byte codes, integer ADC), stage 2 fetches ONLY
    those candidates' raw vectors and re-ranks by exact squared-L2 on
    the same per-sub-space integer-micro grid as `exact_l2_topk`, so
    the final ordering is immune to PQ quantization error among the
    survivors.

    Scale shape: the exact tail touches k·refine_factor raw vectors per
    query — a broadcast-joined point lookup, NOT a corpus scan; the
    corpus-bounded work stays inside the cell-pruned ADC stage. Recall
    is bounded by candidate-set coverage (nprobe and refine_factor are
    the levers); ordering among covered candidates is exact.

    Output: (query_id, neighbor_id, score, rank) — score is the EXACT
    integer-micro L2 / 1e6, rank by (score ASC, neighbor_id ASC).
    """
    cand = pq_topk_ivf(
        corpus,
        queries,
        id_col,
        vec_col,
        k=k * refine_factor,
        n_centroids=n_centroids,
        nprobe=nprobe,
        m=m,
        sub_dim=sub_dim,
        k_sub=k_sub,
        codes=codes,
        centroids=centroids,
    ).select("query_id", "neighbor_id")
    scored = cand.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "neighbor_id",
    ).join(
        F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
            )
        ),
        "query_id",
    )
    de6 = None
    for s in range(m):
        d = _sub_dist_e6(
            F.col("q_vec"), F.col("c_vec"), s * sub_dim + 1, sub_dim
        )
        de6 = d if de6 is None else de6 + d
    exact = scored.select(
        "query_id",
        "neighbor_id",
        (de6.cast("double") / F.lit(1e6)).alias("score"),
    )
    return _rank_adc(exact, k)


def exact_l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    sub_dim: int = 16,
) -> DataFrame:
    """Exact top-k by squared L2 distance on the SAME per-sub-space
    integer-micro grid ADC uses (sum of m floor-quantized sub-distances
    of the TRUE sub-vectors) — the ground truth for PQ recall that
    compares like with like. Brute force: corpus scan x broadcast
    queries, one window per query group."""
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).join(
        F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
            )
        )
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    de6 = None
    for s in range(m):
        d = _sub_dist_e6(
            F.col("q_vec"), F.col("c_vec"), s * sub_dim + 1, sub_dim
        )
        de6 = d if de6 is None else de6 + d
    cand = scored.select(
        "query_id",
        "neighbor_id",
        (de6.cast("double") / F.lit(1e6)).alias("score"),
    )
    return _rank_adc(cand, k)


def _residual_parts(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    sub_dim: int,
    n_centroids: int,
    nprobe: int,
    centroids: DataFrame | None,
):
    """Shared build of the residual IVF-PQ variants: (res, cells,
    probes) — the residual corpus relation (neighbor_id, cell, rvec),
    the cell assignment, and the per-query probe set carrying the query
    residual against each probed centroid, so the seeded- and
    trained-codebook variants share one bit-identical front half. Cells
    and the nprobe probes per query are ``similarity._nearest``'s, over
    the centroids read to the driver once; each probe joins the
    broadcast centroid relation back by cell for its residual."""
    cents_df = _resolve_cents(corpus, id_col, vec_col, n_centroids, centroids)
    cents = _model_rows(cents_df, "ivf centroids")
    cells = _assign_pass(corpus, cents, id_col, vec_col, 6).select(
        F.col(id_col).alias("neighbor_id"), F.col("cid").alias("cell")
    )
    res = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _check_dim(vec_col, m, sub_dim).alias("__v"),
        )
        .join(cells, "neighbor_id")
        .join(
            F.broadcast(cents_df.withColumnRenamed("cid", "cell")), "cell"
        )
        .select(
            "neighbor_id",
            "cell",
            F.zip_with(
                F.col("__v"),
                F.col("cvec"),
                lambda x, y: x.cast("double") - y,
            ).alias("rvec"),
        )
        # one materialization, two consumers (codebook seed + encode)
        .localCheckpoint(eager=True)
    )
    checked = queries.select(
        F.col(id_col), _check_dim(vec_col, m, sub_dim).alias(vec_col)
    )
    probes = (
        _assign_pass(
            checked, cents, id_col, vec_col, 6, keep_vec=True, keep=nprobe
        )
        .withColumnRenamed("cid", "cell")
        .join(F.broadcast(cents_df.withColumnRenamed("cid", "cell")), "cell")
        .select(
            F.col(id_col).alias("query_id"),
            "cell",
            F.zip_with(
                F.col(vec_col), F.col("cvec"), lambda x, y: x.cast("double") - y
            ).alias("q_rvec"),
        )
    )
    return res, cells, probes


def pq_topk_ivf_residual(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (``by_residual=true`` — the FAISS
    IndexIVFPQ default, completing the by_residual=false variant
    ``pq_topk_ivf``): each corpus vector is PQ-encoded as its residual
    x - c(cell) against its coarse centroid, and each query computes a
    SEPARATE ADC table per probed cell from its own residual q - c —
    residuals concentrate near zero, so a fixed codebook budget spends
    its resolution where the data actually lives, the whole reason the
    production layout encodes residuals.

    Same determinism discipline as the plain variant: residual
    subtraction is one elementwise double op (bit-identical in both
    engines); every distance is floored to integer micros before any
    comparison. The residual codebook is seeded from the first k_sub
    residual vectors by id (the codebook-seeding convention).

    **Production callers: use ``pq_topk_ivf_residual_trained``.** The
    id-based residual seeding here is kept for oracle replay, but it is
    DEGENERATE whenever the coarse quantizer was seeded from the same
    corpus prefix: the first k_sub vectors are their own centroids, so
    their residuals — the entire codebook — are zero vectors, one
    effective codeword, constant ADC scores (the measured 0.04 recall
    vs 0.26 trained in ``emb_pq_codebook_recall_report``).

    Scale shape: build = one corpus pass for cells + one for residual
    codes (both narrow numpy passes per Arrow batch, no raw-vector
    shuffle); search reads codes for ~nprobe/C of the corpus via the
    cell equi-join, with an (nprobe x m x k_sub)-row per-query ADC
    table broadcast — per-cell tables are the only cost over the
    non-residual variant. Output: (query_id, neighbor_id, score, rank)
    — integer-exact ADC score, rank (score ASC, neighbor_id ASC).
    """
    # Each caller builds its own _residual_parts triple: the r11 A/B
    # measured that sharing one triple across the codebook report's two
    # residual arms SERIALIZES the front half ahead of the arm fan-out
    # and loses (task 8.62→10.96 s) — duplicate front halves that
    # overlap on idle cores are free in wall terms (guide §2.6), so the
    # former ``parts=`` sharing hook was dropped (r11 advisor: no caller).
    res, cells, probes = _residual_parts(
        corpus, queries, id_col, vec_col, m, sub_dim, n_centroids,
        nprobe, centroids,
    )
    rcb = _sub_codebooks(
        ivf_centroids(res, "neighbor_id", "rvec", k_sub), m, sub_dim
    )
    return _residual_adc(res, cells, probes, rcb, k, m, sub_dim)


def _residual_adc(
    res: DataFrame,
    cells: DataFrame,
    probes: DataFrame,
    cbs: list[list],
    k: int,
    m: int,
    sub_dim: int,
) -> DataFrame:
    """The search half of the residual IVF-PQ variants over
    ``_residual_parts``' triple and a per-sub-space residual codebook:
    residual codes joined to their cells, one ADC table per (query,
    probed cell) from the query residuals, candidates from the probed
    cells only, top-k by (score ASC, neighbor_id ASC)."""
    codes = _explode(
        _encode(res, "neighbor_id", "rvec", m, sub_dim, cbs), "neighbor_id", m
    ).join(cells, "neighbor_id")
    # per-(query, probed cell) ADC table: (query_id, cell, code, s, de6)
    qd = _dist_table(
        probes, ["query_id", "cell"], "q_rvec", cbs, m, sub_dim
    )
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
    return _rank_adc(adc, k)


# -- trained sub-quantizer codebooks (r9 verdict item 2) ------------------
#
# The seeded codebooks above keep every result oracle-reproducible, but
# FAISS trains PQ codebooks with per-sub-space k-means (Jegou et al. §III;
# faiss/ProductQuantizer train) — and the r9 recall instrument measured
# exactly the gap that seeding leaves: residual-encoded PQ at 0.04 recall
# vs 0.18 plain on a corpus where the residual-seeded first-k codebook
# has no reason to cover the residual distribution. The functions below
# supply the trained path with the SAME determinism discipline: seeds are
# the first k_sub distinct sub-slices by min id, the assignment is
# ``_argmin`` on the integer-micro grid with the (de6 ASC, cid ASC)
# tie-break, and the Lloyd update is an exact int64 integer-micro mean,
# so a DuckDB CTE chain reproduces every codebook entry bit-exactly.
# Every step merges exactly over any split of the rows, so the same
# functions train per Arrow batch (``pq_fit``) or on one driver-held
# sample (``opq_fit``).


def _first_distinct(ids: list, x, valid, present, k: int) -> list[int]:
    """Indices of the rows holding the first ``k`` distinct vectors of
    ``x`` by smallest id, each the smallest-id row of its group, in that
    order. Equality is Spark's for grouping keys: -0.0 equals 0.0, all
    NaNs are equal, NULL elements at the same positions are equal, and
    the NULL rows form one group. A NULL id does not count toward a
    group's smallest id; a group with only NULL ids sorts first, as a
    NULL does in an ascending sort."""
    if not ids:
        return []
    order = sorted(
        range(len(ids)),
        key=lambda i: (ids[i] is None, ids[i] if ids[i] is not None else 0),
    )
    vals = np.where(valid, x + 0.0, 0.0)  # + 0.0 turns -0.0 into 0.0
    vals[np.isnan(vals)] = np.nan
    key = np.concatenate([vals.view(np.int64), valid, present[:, None]], 1)
    _u, first = np.unique(key[order], axis=0, return_index=True)
    n_ids = sum(i is not None for i in ids)
    first = sorted(first, key=lambda p: (p < n_ids, p))
    return [order[p] for p in first[:k]]


def _seed_rows(ids: list, x, valid, present, m, sub_dim, k_sub) -> list:
    """(s, mid, svec) of each sub-space's first ``k_sub`` distinct
    sub-vectors by min id (``_first_distinct``), in that order, with the
    grouping key's values: 0.0 for -0.0, None for a NULL element, and
    None for a NULL row's slice. Exact over any split of the rows: a
    globally first sub-vector is among the first k_sub of any part that
    holds its min id, so the parts' rows merge by ``_merge_seeds``."""
    out = []
    for s in range(m):
        sl = slice(s * sub_dim, (s + 1) * sub_dim)
        for i in _first_distinct(ids, x[:, sl], valid[:, sl], present, k_sub):
            sv = None
            if present[i]:
                sv = [
                    float(v) + 0.0 if ok else None
                    for v, ok in zip(x[i, sl], valid[i, sl])
                ]
            out.append((s, ids[i], sv))
    return out


def _merge_seeds(rows: list, m: int, sub_dim: int, k_sub: int) -> list:
    """``_seed_rows`` of the (s, mid, svec) rows of several parts: each
    sub-space's candidates are seeded again as one-sub-space rows."""
    out = []
    for s in range(m):
        mine = [r for r in rows if r[0] == s]
        col = pa.array([r[2] for r in mine], type=pa.list_(pa.float64()))
        x, valid, present = _pq_vectors(col, sub_dim)
        out += [
            (s, mid, sv)
            for _z, mid, sv in _seed_rows(
                [r[1] for r in mine], x, valid, present, 1, sub_dim, k_sub
            )
        ]
    return out


def _seed_codebooks(rows: list, m: int) -> list[list]:
    """Per-sub-space codebooks from merged seed rows: cid 0..k_sub-1 in
    min-id order."""
    cbs: list[list] = [[] for _ in range(m)]
    for s, _mid, sv in rows:
        cbs[s].append((len(cbs[s]), sv))
    return cbs


def _step_rows(x, valid, present, cbs: list[list], sub_dim: int) -> list:
    """One Lloyd step's partials over a batch: (s, cid, n, se6) for each
    codeword that won a non-NULL row by ``_argmin``, where n counts those
    rows and se6[pos] is the exact sum of their FLOOR(v * 1e6 + 0.5)
    (NaN -> 0) at pos, None where every value there is NULL. Sums are
    int64 while the magnitudes allow no overflow, Python ints beyond."""
    out = []
    for s, cb in enumerate(cbs):
        if not cb:
            continue
        win, _d, _null = _argmin(x, valid, present, cb, s, sub_dim)
        sl = slice(s * sub_dim, (s + 1) * sub_dim)
        ok = valid[:, sl] & present[:, None]
        with np.errstate(all="ignore"):
            e6 = np.where(ok, _floor_long(x[:, sl] * 1e6 + 0.5), 0)
        big = float(np.abs(e6.astype(np.float64)).sum()) >= 2.0**62
        se6 = np.zeros((len(cb), sub_dim), dtype=object if big else np.int64)
        np.add.at(se6, win[present], e6[present].astype(se6.dtype))
        seen = np.zeros((len(cb), sub_dim), dtype=np.int64)
        np.add.at(seen, win[present], ok[present])
        n = np.bincount(win[present], minlength=len(cb))
        out += [
            (
                s,
                cb[j][0],
                int(n[j]),
                [int(t) if c else None for t, c in zip(se6[j], seen[j])],
            )
            for j in np.flatnonzero(n)
        ]
    return out


def _sum_steps(rows: list, ansi: bool) -> list:
    """``_step_rows`` partials summed per (s, cid), sorted by (s, cid).
    Each total is kept as Spark's long SUM keeps it: wrapped to 64 bits,
    or under ANSI an ARITHMETIC_OVERFLOW error."""
    acc: dict = {}
    for s, cid, n, se6 in rows:
        cur = acc.setdefault((s, cid), [0, [None] * len(se6)])
        cur[0] += n
        cur[1] = [
            a if b is None else b if a is None else a + b
            for a, b in zip(cur[1], se6)
        ]
    out = []
    for (s, cid), (n, se6) in sorted(acc.items()):
        wrapped = [
            None if t is None else (t + 2**63) % 2**64 - 2**63 for t in se6
        ]
        if ansi and wrapped != se6:
            raise ArithmeticError(
                "pq: codeword sum overflows a long [ARITHMETIC_OVERFLOW]"
            )
        out.append((s, cid, n, wrapped))
    return out


def _means(rows: list, m: int) -> list[list]:
    """The next per-sub-space codebooks from summed step rows: each
    component the half-up integer-micro mean FLOOR(se6 / n + 0.5) / 1e6,
    NULL where se6 is. A codeword that won no row drops out."""
    cbs: list[list] = [[] for _ in range(m)]
    for s, cid, n, se6 in rows:
        cbs[s].append(
            (
                cid,
                [
                    None if t is None else math.floor(float(t) / n + 0.5) / 1e6
                    for t in se6
                ],
            )
        )
    return cbs


def _fit_batch(
    ids: list, x, valid, present, m, sub_dim, k_sub, n_iter, ansi: bool
) -> list[list]:
    """``pq_fit``'s per-sub-space codebooks for rows held on the driver
    as one batch (``opq_fit``'s sample): the same seed, step and merge
    functions as the distributed passes."""
    cbs = _seed_codebooks(
        _seed_rows(ids, x, valid, present, m, sub_dim, k_sub), m
    )
    for _ in range(n_iter):
        steps = _step_rows(x, valid, present, cbs, sub_dim)
        cbs = _means(_sum_steps(steps, ansi), m)
    return cbs


def _reconstruct(x, valid, present, cbs: list[list], sub_dim: int):
    """Each row's chosen codewords (``_argmin``) concatenated in
    sub-space order: the PQ reconstruction of the rows of ``x``. Every
    sub-space needs a codeword and the chosen ones must be non-NULL."""
    return np.concatenate(
        [
            np.array([cv for _c, cv in cb], dtype=np.float64)[
                _argmin(x, valid, present, cb, s, sub_dim)[0]
            ]
            for s, cb in enumerate(cbs)
        ],
        axis=1,
    )


def pq_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    n_iter: int = 2,
) -> DataFrame:
    """Train per-sub-space PQ codebooks (FAISS ProductQuantizer::train):
    k_sub-means over each sub-space's slice distribution, all m
    sub-spaces trained in the same passes. Returns the codebook relation
    (s int, cid long, cvec array<double>), a zero-job local relation.

    Seeds: per sub-space, the first k_sub DISTINCT sub-vectors by
    min-id, renumbered cid = 0..k_sub-1 in that order. Distinctness is
    load-bearing, not cosmetic: on RESIDUAL corpora the first k_sub ids
    are exactly the seeded coarse centroids, whose residuals are all
    the ZERO vector — id-based seeding hands Lloyd k_sub identical
    codewords and the tie-break collapses every assignment to cid 0
    (one codeword, constant ADC scores — the degenerate codebook behind
    the r9 instrument's 0.04 residual recall). Distinct is Spark's
    grouping-key equality (-0.0 = 0.0, NaN = NaN). Assignment:
    integer-micro argmin, a NULL distance first, then (de6 ASC, cid
    ASC). Update: element-wise INTEGER-MICRO mean — components quantized
    to the 1e-6 grid with the floor kernel, summed as exact int64 (an
    order-independent fold, unlike a double AVG whose fold order can
    flip ROUND's last digit between engines — residual corpora hit
    exactly that at sf0.01), then one deterministic half-up division.
    Empty codewords drop out (Lloyd's standard degenerate case).

    Scale: one narrow ``mapInArrow`` pass over the corpus for the seeds
    and one per Lloyd iteration, one Spark job each, no shuffle and no
    pin. Each task reduces its Arrow batches to at most m*k_sub rows —
    seed candidates, or per-codeword (count, int64 sums) — and the
    driver merges the tasks' rows, read through ``collect_bounded`` at
    ``_MODEL_ROWS``: more rows than that are refused (TooManyRows),
    which a corpus in over _MODEL_ROWS / (m*k_sub) partitions can
    reach. The sums are long SUMs (they wrap, or raise under ANSI on
    overflow) and every merge is exact, so the codebook does not depend
    on partitioning or batch size. k-means on PQ sub-spaces is
    conventionally run on a bounded SAMPLE of the corpus (FAISS defaults
    to ~256 vectors/centroid) — pass such a sample as ``corpus`` for the
    100 TB fit."""
    src = corpus.select(id_col, vec_col)
    ansi = corpus.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    need = m * sub_dim

    def run(part, merge, fields, what):
        schema = StructType([StructField("s", IntegerType()), *fields])
        arrow = to_arrow_schema(schema)

        def gen(batches):
            rows = []
            for batch in batches:
                x, valid, present = _pq_vectors(batch.column(1), need)
                rows += part(batch.column(0), x, valid, present)
            cols = list(zip(*merge(rows))) or [[] for _ in arrow]
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
                names=schema.names,
            )

        rows = collect_bounded(src.mapInArrow(gen, schema), _MODEL_ROWS, what)
        return merge(rows)

    seeds = run(
        lambda ids, x, valid, present: _seed_rows(
            ids.to_pylist(), x, valid, present, m, sub_dim, k_sub
        ),
        lambda rows: _merge_seeds(rows, m, sub_dim, k_sub),
        [
            StructField("mid", src.schema[id_col].dataType),
            StructField("svec", ArrayType(DoubleType())),
        ],
        "pq_fit seeds",
    )
    cbs = _seed_codebooks(seeds, m)
    for _ in range(n_iter):
        cbs = _means(
            run(
                lambda _ids, x, valid, present, cbs=cbs: _step_rows(
                    x, valid, present, cbs, sub_dim
                ),
                lambda rows: _sum_steps(rows, ansi),
                [
                    StructField("cid", LongType()),
                    StructField("n", LongType()),
                    StructField("se6", ArrayType(LongType())),
                ],
                "pq_fit step",
            ),
            m,
        )
    return local_df(
        corpus.sparkSession,
        [(s, cid, cv) for s, cb in enumerate(cbs) for cid, cv in cb],
        "s int, cid long, cvec array<double>",
    )


def pq_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    n_iter: int = 2,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k over TRAINED codebooks: pq_topk's exact search body
    (``_encode`` codes ⨝ broadcast ``_query_dist_table`` on (s, code),
    integer-micro ADC sum, rank by (score ASC, neighbor_id ASC)) with
    pq_fit's per-sub-space codebooks in place of the seeded ones, read to
    the driver once per call. ``codebooks`` accepts a persisted pq_fit
    relation — fit once, search many."""
    if codebooks is None:
        codebooks = pq_fit(corpus, id_col, vec_col, m, sub_dim, k_sub, n_iter)
    cbs = _trained_codebooks(codebooks, m)
    codes = _explode(
        _encode(corpus, id_col, vec_col, m, sub_dim, cbs), id_col, m
    )
    return _adc_topk(
        codes, _query_dist_table(queries, cbs, id_col, vec_col, m, sub_dim), k
    )


def pq_topk_ivf_residual_trained(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    n_iter: int = 2,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Residual IVF-PQ with a TRAINED sub-quantizer codebook — the full
    FAISS-faithful IndexIVFPQ composition (by_residual=true AND
    ProductQuantizer::train): pq_topk_ivf_residual's exact front half
    (_residual_parts — cells, residuals, per-probe query residuals) and
    search half (``_residual_adc``), with pq_fit's per-sub-space k-means
    codebook trained ON the residual distribution replacing the
    residual-seeded first-k one. The r9 recall instrument attributed
    residual PQ's 0.04-vs-0.18 recall loss to that seeded codebook; this
    is the trained fix it called for.

    ``codebooks``: a persisted pq_fit relation over the residuals —
    fit once, search many (pair with operators/index_store).
    Output: (query_id, neighbor_id, score, rank), integer-exact ADC.
    """
    res, cells, probes = _residual_parts(
        corpus, queries, id_col, vec_col, m, sub_dim, n_centroids,
        nprobe, centroids,
    )
    if codebooks is None:
        codebooks = pq_fit(
            res, "neighbor_id", "rvec", m, sub_dim, k_sub, n_iter
        )
    rcb = _trained_codebooks(codebooks, m)
    return _residual_adc(res, cells, probes, rcb, k, m, sub_dim)


def _with_vec_out(df: DataFrame, out: str):
    """Output schema of a per-row vector map: ``df``'s columns with
    ``out`` (array<double>) replacing a same-named column or appended."""
    out_field = StructField(out, ArrayType(DoubleType()))
    fields = [out_field if f.name == out else f for f in df.schema.fields]
    if out not in df.columns:
        fields.append(out_field)
    return StructType(fields)


def hadamard_rotate(
    df: DataFrame,
    vec_col: str,
    dim: int,
    out_col: str | None = None,
) -> DataFrame:
    """Rotate vectors by the normalized Hadamard matrix H_dim/sqrt(dim)
    (``dim`` must be a power of two): y_i = sum_j (-1)^popcount(i & j)
    * x_j / sqrt(dim). The deterministic, SQL-expressible stand-in for
    the random orthogonal rotation FAISS applies before PQ (OPQ /
    "PCAR" energy balancing): a Hadamard rotation mixes every input
    coordinate into every output coordinate with equal weight, so
    per-dimension variance spreads evenly across the PQ sub-spaces
    instead of concentrating in whichever sub-space holds the
    high-variance dims. Orthogonal => exact L2 distances are preserved
    ([[emb_pq_hadamard_recall_report]] relies on this: the rotated
    exact top-k IS the raw exact top-k).

    Exactness: each term ±x_j is an exact sign flip (H entries are
    ±1), the inner sum is a left-assoc IEEE fold that starts from 0.0
    and adds the terms in j order, and for dim = 4^k (e.g. 64:
    1/sqrt(64) = 0.125) the final scale is a float-exact multiply. The
    oracle mirror (nested list_transform / list_reduce over
    bit_count(i & j) parity) replays the same fold; tests/test_pq_rrf.py
    keeps the Catalyst expression-tree transliteration of it as the
    bit-equality reference (pinned by test_hadamard_npfold_bit_equal).

    Per Arrow batch the fold runs as ``dim`` vectorized additions into
    a (rows, dim) accumulator: a pure per-row map (no shuffle), memory
    O(batch rows * dim) at any dim.

    Null semantics mirror the expression tree exactly: a NULL vector —
    or any NULL component, since H has no zero entries so every output
    folds every input — yields an array of ``dim`` NULL components
    (NOT a NULL array); a non-NULL vector of the wrong length raises
    (a shorter one would fold NULLs, a longer one silently truncate).
    mapInArrow, not mapInPandas: the Arrow<->pandas conversion renders
    NULL list components and NaN identically, erasing a distinction the
    fold's output preserves ([null]*dim vs [nan]*dim); Arrow batches
    round-trip both exactly."""
    if dim & (dim - 1):
        raise ValueError(f"dim={dim} must be a power of two")
    scale = 1.0 / (dim ** 0.5)
    out = out_col or vec_col
    out_schema = _with_vec_out(df, out)
    out_names = out_schema.names
    all_null = [None] * dim

    def gen(batches):
        ii = np.arange(dim, dtype=np.int64)
        parity = np.zeros((dim, dim), dtype=np.int64)
        anded = ii[:, None] & ii[None, :]
        while anded.any():
            parity ^= anded & 1
            anded >>= 1
        sign = np.where(parity == 0, 1.0, -1.0)  # symmetric: row j = column j
        list_t = pa.list_(pa.float64())
        for batch in batches:
            cols = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            vals = cols[vec_col].to_pylist()  # None/NaN preserved exactly
            res: list = [None] * len(vals)
            clean_idx, clean_vecs, bad = [], [], set()
            for i, v in enumerate(vals):
                if v is None:
                    res[i] = all_null
                    continue
                if len(v) != dim:
                    bad.add(len(v))
                elif any(c is None for c in v):
                    # a NULL component poisons every fold (H has no
                    # zero entries) -> dim NULL components, like SQL
                    res[i] = all_null
                else:
                    clean_idx.append(i)
                    clean_vecs.append(v)
            if bad:
                raise ValueError(
                    f"hadamard_rotate: vector length != dim={dim}: "
                    f"got {sorted(bad)}"
                )
            if clean_vecs:
                mat = np.array(clean_vecs, dtype=np.float64)
                # the accumulator starts at +0.0 like the SQL fold, so an
                # all-(-0.0) fold ends at +0.0 (0.0 + -0.0 == +0.0)
                acc = np.zeros_like(mat)
                for j in range(dim):
                    acc += mat[:, j, None] * sign[j]
                y = acc * scale
                for r, i in enumerate(clean_idx):
                    res[i] = y[r].tolist()
            out_arr = pa.array(res, type=list_t)
            arrays = [
                out_arr if n == out else cols[n] for n in out_names
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return df.mapInArrow(gen, schema=out_schema)


# -- OPQ: learned rotation via integer-micro Newton-Schulz polar ----------


def _identity_e6(dim: int) -> list[list[int]]:
    return [
        [1_000_000 if i == j else 0 for j in range(dim)] for i in range(dim)
    ]


def _ns_polar_e6(scatter_sums, cnt: int, dim: int, ns_iter: int):
    """Orthogonal (Procrustes) factor of the scatter matrix in EXACT
    integer-micro arithmetic: R = polar(M) = UV^T for M = USV^T, computed
    WITHOUT an SVD so a SQL oracle can replay it bit-for-bit — mean the
    exact int64 scatter sums, normalize by the Frobenius norm (spectral
    <= Frobenius, so every singular value lands in NS's (0, sqrt(3))
    convergence basin), then ``ns_iter`` Newton-Schulz steps
    Y <- 1.5*Y - 0.5*Y*Y^T*Y. Every matrix lives on the 1e-6 grid as
    int64; every product/sum is exact; every re-quantization is the
    same FLOOR(CAST(int AS DOUBLE)/div + 0.5) kernel the DuckDB mirror
    writes, so driver-numpy and oracle-SQL produce IDENTICAL matrices.
    A zero scatter (empty/degenerate sample) falls back to identity."""
    if cnt <= 0:
        return _identity_e6(dim)
    s = np.asarray(scatter_sums, dtype=np.int64)
    mbar = np.floor(
        s.astype(np.float64) / (float(cnt) * 1e6) + 0.5
    ).astype(np.int64)
    ss = int((mbar.astype(object) ** 2).sum())  # exact: entries ~1e6
    fro = int(np.floor(math.sqrt(float(ss)) + 0.5))  # IEEE sqrt == SQL SQRT
    if fro == 0:
        return _identity_e6(dim)
    y = np.floor(
        mbar.astype(np.float64) * 1e6 / float(fro) + 0.5
    ).astype(np.int64)
    # identity-shift regularization: the scatter of a PQ reconstruction
    # is near-symmetric-PSD with EXACT zeros along data-free directions
    # (piecewise-constant Yhat), and NS cannot lift a zero singular
    # value — the polar factor there is arbitrary anyway, so bias the
    # completion toward identity with sigma_min >~ 0.01, well inside
    # the (0, sqrt(3)) basin and converged by ~16 of the iterations.
    y = y + 10_000 * np.eye(y.shape[0], dtype=np.int64)
    for _ in range(ns_iter):
        assert int(np.abs(y).max()) < (1 << 22), "NS iterate out of bounds"
        z = np.floor(
            (y @ y.T).astype(np.float64) / 1e6 + 0.5
        ).astype(np.int64)
        w = np.floor(
            (z @ y).astype(np.float64) / 1e6 + 0.5
        ).astype(np.int64)
        y = np.floor(
            (3 * y - w).astype(np.float64) / 2.0 + 0.5
        ).astype(np.int64)
    return [[int(v) for v in row] for row in y]


def opq_rotate(
    df: DataFrame,
    vec_col: str,
    r_e6: list[list[int]],
    dim: int,
    out_col: str | None = None,
) -> DataFrame:
    """Apply a learned micro-grid rotation: y[j] = sum_i x[i]*R[i][j],
    computed ENTIRELY in exact int64 micros — x quantized to the 1e-6
    grid, int64 products, exact sums (order-independent, so there is no
    fold-order hazard anywhere), one half-up re-quantization — then
    scaled back to double. NULL vectors pass through as NULL; a non-NULL
    vector whose length differs from ``dim`` raises. Callers filter
    len == dim first (pq_topk_opq, mirroring its oracle's WHERE).

    An Arrow-batched numpy int64 matmul in mapInPandas: a pure per-row
    map, no shuffle. Every operation is exact, so it is bit-identical to
    the DuckDB oracle's relational kernel; tests/test_pq_rrf.py keeps
    that kernel's Catalyst expression-tree transliteration as the
    bit-equality reference (it runs interpreted: measured 514 s vs
    <1 s for 20k rows x dim 64)."""
    r_mat = np.asarray(r_e6, dtype=np.int64)
    out = out_col or vec_col
    out_schema = _with_vec_out(df, out)
    out_names = out_schema.names

    def gen(batches):
        for pdf in batches:
            res: list = [None] * len(pdf)
            mask = pdf[vec_col].notna()
            if mask.any():
                vecs = [list(v) for v in pdf[vec_col][mask]]
                bad = {len(v) for v in vecs} - {dim}
                if bad:
                    raise ValueError(
                        f"opq_rotate: vector length != dim={dim}: "
                        f"got {sorted(bad)}"
                    )
                rot = _opq_rotate_mat(vecs, r_mat)
                for r, i in enumerate(np.nonzero(mask.to_numpy())[0]):
                    res[int(i)] = rot[r].tolist()
            out_pdf = pdf.copy()
            out_pdf[out] = res
            yield out_pdf[out_names]

    return df.mapInPandas(gen, schema=out_schema)


def _opq_rotate_mat(vecs, r_mat):
    """opq_rotate's exact integer-grid math on a (rows, dim) batch:
    quantize, int64 matmul, half-up re-quantize, back to double."""
    xm = np.floor(np.array(vecs, dtype=np.float64) * 1e6 + 0.5).astype(
        np.int64
    )
    ym = np.floor((xm @ r_mat).astype(np.float64) / 1e6 + 0.5).astype(
        np.int64
    )
    return ym.astype(np.float64) / 1e6


def opq_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    n_iter: int = 2,
    n_opq_iter: int = 1,
    ns_iter: int = 40,
    sample_bound: int = 256,
    max_sample_rows: int = 1 << 20,
) -> list[list[int]]:
    """Learn the OPQ rotation (Ge et al., CVPR 2013; FAISS OPQMatrix)
    by alternating PQ codebook training with the orthogonal Procrustes
    update: given codes, the best rotation for min ||X R - Yhat||_F is
    R = UV^T from X^T Yhat = USV^T — the POLAR factor of the scatter,
    which _ns_polar_e6 computes by Newton-Schulz so the whole fit stays
    on the exact 1e-6 integer grid (deterministic AND SQL-replayable;
    FAISS reaches the same factor via SVD).

    Alternation t: rotate the sample by R_t (t=0 skips — R_0 = I), fit
    per-sub-space codebooks (pq_fit), reconstruct, scatter
    S = X^T Yhat over the RAW sample, R_{t+1} = polar(S). The fit runs
    on the id-bounded sample (``sample_bound`` — FAISS's own
    bounded-training convention); the scatter collect is O(sample * dim)
    and REFUSED above ``max_sample_rows`` (the broadcast-guard
    discipline, similarity.py). Returns R as a row-major int64 micro
    matrix for opq_rotate."""
    # Non-finite vectors are excluded from the training sample: a NaN
    # embedding carries no geometry to train on, and FAISS likewise
    # requires finite training vectors.
    finite = ~F.exists(
        F.col(vec_col),
        lambda v: F.isnan(v) | v.isNull() | (F.abs(v) == F.lit(float("inf"))),
    )
    sample = corpus.filter(
        (F.col(id_col) < sample_bound)
        & F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & finite
    ).select(F.col(id_col).alias("sid"), F.col(vec_col).alias("vec"))
    # ONE job: a bounded read of the sample (collect_bounded takes the
    # limit on the executors). The whole alternation — rotate sample, fit
    # per-sub-space codebooks, encode, reconstruct — then runs on the
    # driver, the sample treated as one batch of pq_fit's seed, step and
    # encode kernels: the sample is O(sample_bound * dim) BY
    # CONSTRUCTION, the same driver size class as the scatter this
    # function always collected, and the Spark round-trips it replaces
    # were ~15 scheduler jobs over <=256 rows (guide §1.2/§5 — don't
    # schedule a cluster for driver-sized work).
    try:
        sample_rows = collect_bounded(
            sample, max_sample_rows, "opq_fit sample"
        )
    except TooManyRows as exc:
        raise ValueError(
            f"opq_fit would collect over {max_sample_rows} sample rows to "
            "the driver (the max_sample_rows bound). Lower sample_bound "
            "(OPQ trains on a bounded sample by convention) or raise "
            "max_sample_rows explicitly."
        ) from exc
    cnt = len(sample_rows)
    if cnt == 0:
        return _identity_e6(dim)
    ansi = corpus.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    ids = [sid for sid, _v in sample_rows]
    vecs = pa.array([v for _s, v in sample_rows], pa.list_(pa.float64()))
    x, valid, present = _pq_vectors(vecs, m * sub_dim)
    xm = np.floor(x * 1e6 + 0.5).astype(np.int64)
    r_e6 = _identity_e6(dim)
    for t in range(n_opq_iter):
        src = x if t == 0 else _opq_rotate_mat(x, np.asarray(r_e6, np.int64))
        cbs = _fit_batch(
            ids, src, valid, present, m, sub_dim, k_sub, n_iter, ansi
        )
        yhat = _reconstruct(src, valid, present, cbs, sub_dim)
        ym = np.floor(yhat * 1e6 + 0.5).astype(np.int64)
        assert int(np.abs(xm).max(initial=0)) < (1 << 26)
        assert int(np.abs(ym).max(initial=0)) < (1 << 26)
        scatter = xm.T @ ym  # exact int64: |terms| < 2^52, n <= 2^20
        r_e6 = _ns_polar_e6(scatter, cnt, dim, ns_iter)
    return r_e6


def pq_topk_opq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    n_iter: int = 2,
    n_opq_iter: int = 1,
    ns_iter: int = 40,
    sample_bound: int = 256,
    r_e6: list[list[int]] | None = None,
) -> DataFrame:
    """ADC top-k under a LEARNED rotation — the full OPQ composition:
    opq_fit's Procrustes rotation (trained on the id-bounded sample),
    both relations rotated on the exact integer grid, then the
    certified trained-codebook search (pq_fit on the rotated corpus +
    pq_topk_trained's ADC body). ``r_e6`` accepts a precomputed
    rotation — fit once, search many. Rows with NULL or mis-sized
    vectors are dropped up front (the oracle's WHERE, and what every
    downstream kernel would reject anyway)."""
    valid = F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    corpus = corpus.filter(valid)
    queries = queries.filter(valid)
    rot = (
        opq_fit(
            corpus, id_col, vec_col, dim, m, sub_dim, k_sub,
            n_iter, n_opq_iter, ns_iter, sample_bound,
        )
        if r_e6 is None
        else r_e6
    )
    rc = opq_rotate(corpus, vec_col, rot, dim).localCheckpoint(eager=False)
    rq = opq_rotate(queries, vec_col, rot, dim)
    return pq_topk_trained(
        rc, rq, id_col, vec_col, k, m, sub_dim, k_sub, n_iter
    )


def pq_topk_ivfpq_opq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    sub_dim: int = 16,
    k_sub: int = 16,
    n_iter: int = 2,
    n_opq_iter: int = 1,
    ns_iter: int = 40,
    sample_bound: int = 256,
    r_e6: list[list[int]] | None = None,
) -> DataFrame:
    """The full FAISS production stack —
    IndexPreTransform(OPQMatrix, IndexIVFPQ(by_residual=true) with
    ProductQuantizer::train): opq_fit's learned rotation applied to
    both relations on the exact integer grid, then the certified
    residual IVF-PQ trained-codebook search (pq_topk_ivf_residual_trained)
    entirely in rotated space — coarse centroids seeded from the
    ROTATED corpus, residuals taken against rotated centroids, the
    residual codebook trained on rotated residuals. Rotation cost is a
    pure per-row map; everything downstream reuses the certified plan
    shapes unchanged."""
    valid = F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    corpus = corpus.filter(valid)
    queries = queries.filter(valid)
    rot = (
        opq_fit(
            corpus, id_col, vec_col, dim, m, sub_dim, k_sub,
            n_iter, n_opq_iter, ns_iter, sample_bound,
        )
        if r_e6 is None
        else r_e6
    )
    rc = opq_rotate(corpus, vec_col, rot, dim).localCheckpoint(eager=False)
    rq = opq_rotate(queries, vec_col, rot, dim)
    return pq_topk_ivf_residual_trained(
        rc, rq, id_col, vec_col, k, n_centroids, nprobe,
        m, sub_dim, k_sub, n_iter,
    )
