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
* **Search** (per query batch): the queries are read to the driver once
  (at most ``_MODEL_ROWS``) and each computes its m x k_sub distance
  TABLE there — one per probed cell in the residual variants. One narrow
  ``mapInArrow`` pass (``_adc_pass``) then encodes each Arrow batch of
  the corpus (or reads its persisted codes) and scores every query's
  candidates in numpy: the approximate distance is a SUM of m table
  lookups. Each batch keeps, per query, the rows no worse than its k-th
  best, and one window ranks them — the only shuffle. No raw corpus
  vector leaves its batch.

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
``opq_fit``'s driver-side training; ``_adc_pass`` computes every ADC
score. The plan shape, code layout, and
search path are identical either way; the recall is not (see
``emb_pq_codebook_recall_report``).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
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
    _nearest,
    _resolve_cents,
    _scorable,
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


def _pq_pad(x, lens, valid, present, need: int) -> tuple:
    """(x, valid) of ``_arrow_vectors`` padded to at least ``need``
    columns. A non-NULL vector shorter than ``need`` raises: its slices
    would pad with NULLs and make the code assignment depend on NULL
    ordering."""
    short = present & (lens < need)
    if short.any():
        raise ValueError(
            f"pq: embedding shorter than m*sub_dim={need}: "
            f"got {int(lens[short][0])}"
        )
    return _widen(x, need), _widen(valid, need)


def _pq_vectors(col, need: int) -> tuple:
    """(x, valid, present) of a vector column for the PQ kernels, ``x``
    and ``valid`` at least ``need`` columns wide (``_pq_pad``)."""
    x, lens, valid, present = _arrow_vectors(col)
    return (*_pq_pad(x, lens, valid, present, need), present)


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


def _rank_adc(cand: DataFrame, k: int) -> DataFrame:
    """Top-k per query by (ADC score ASC, neighbor_id ASC)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# -- ADC search: one numpy pass over the corpus ---------------------------
#
# Every PQ search scores its candidates in one narrow ``mapInArrow`` pass.
# The query side is built on the driver from one bounded read of the
# queries: for each query (each (query, probe) in the residual variants)
# one integer-micro lookup table per sub-space, and a map from a corpus
# row's key (its cell; 0 in a flat search) to the table that scores it.
# Each Arrow batch of the corpus takes every row's key and codes, scores
# each query's candidates by table lookups and keeps, per query, the
# rows no worse than the batch's k-th best; ``_rank_adc`` (one window,
# the only shuffle) merges the batches and breaks ties by id.

_BLOCK = 1 << 18  # (query, row) pairs scored at once


def _code_spaces(cbs: list[list]) -> list[tuple]:
    """Per (cid, vector) list of ``cbs``, (u, ent): its sorted distinct
    non-NULL cids and each entry's index into ``u`` — len(u) for a NULL
    cid, which no code or cell equals."""
    out = []
    for cb in cbs:
        ok = np.array([c is not None for c, _v in cb], dtype=bool)
        cid = np.array([c or 0 for c, _v in cb], dtype=np.int64)
        u = np.unique(cid[ok])
        out.append((u, np.where(ok, np.searchsorted(u, cid), len(u))))
    return out


def _index_of(u, col) -> np.ndarray:
    """Each value of the long Arrow column ``col`` as an index into the
    sorted cids ``u``; len(u) for a NULL or a value not in ``u``."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    v = col.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    i = np.searchsorted(u, v)
    hit = col.is_valid().to_numpy(zero_copy_only=False) & (i < len(u))
    hit[hit] = u[i[hit]] == v[hit]
    return np.where(hit, i, len(u))


def _codes(x, valid, present, cbs, spaces, sub_dim: int) -> list:
    """Each row's code per sub-space (``_argmin``, as ``_encode`` picks
    it) as an index into that sub-space's distinct cids."""
    return [
        ent[_argmin(x, valid, present, cb, s, sub_dim)[0]]
        for s, (cb, (_u, ent)) in enumerate(zip(cbs, spaces))
    ]


def _tables(x, valid, present, cbs, spaces, sub_dim: int) -> list[tuple]:
    """Per sub-space (tsum, tnn, tovf), each (rows, len(u) + 1): for each
    row of ``x`` and each distinct cid, the long sum of the non-NULL
    micro-distances (``_sub_dist``) of every entry with that cid, wrapped
    to 64 bits; whether one of them is non-NULL; and whether the sum
    overflowed. The last column (no entry) holds 0 and False."""
    out = []
    for s, (cb, (u, ent)) in enumerate(zip(cbs, spaces)):
        de6, null = _sub_dist(x, valid, present, cb, s, sub_dim)
        val = np.where(null, 0, de6)
        tsum = np.zeros((len(x), len(u) + 1), dtype=np.int64)
        tnn = np.zeros(tsum.shape, dtype=bool)
        tovf = np.zeros(tsum.shape, dtype=bool)
        # entries sharing a cid are added one level at a time; every
        # micro-distance is >= 0, so a sum overflowed iff it decreased
        order = np.argsort(ent, kind="stable")
        order = order[ent[order] < len(u)]
        first = np.ones(len(order), dtype=bool)
        first[1:] = ent[order][1:] != ent[order][:-1]
        pos = np.arange(len(order))
        level = pos - np.maximum.accumulate(np.where(first, pos, 0))
        for lv in range(int(level.max(initial=-1)) + 1):
            e = order[level == lv]
            c = ent[e]
            new = tsum[:, c] + val[:, e]
            tovf[:, c] |= new < tsum[:, c]
            tsum[:, c] = new
            tnn[:, c] |= ~null[:, e]
        out.append((tsum, tnn, tovf))
    return out


def _widen(a, width: int):
    """``a`` with zero (False) columns appended up to ``width``."""
    return np.pad(a, ((0, 0), (0, max(0, width - a.shape[1]))))


def _residual(v: tuple, c: tuple, pos) -> tuple:
    """``zip_with(vector, centroid, x - y)`` for each row of ``v`` against
    centroid ``pos[r]`` of ``c``, both (x, lens, valid, present) of
    ``_arrow_vectors``, as the same four: a residual is NULL where either
    vector is, an element NULL where either is NULL or past its end, and
    the length is the longer one's."""
    x, lens, valid, present = v
    cx, clens, cvalid, cpresent = c
    w = max(x.shape[1], cx.shape[1])
    cx, cvalid = _widen(cx, w)[pos], _widen(cvalid, w)[pos]
    with np.errstate(all="ignore"):
        rx = _widen(x, w) - cx
    rp = present & cpresent[pos]
    rlens = np.where(rp, np.maximum(lens, clens[pos]), 0)
    return rx, rlens, _widen(valid, w) & cvalid, rp


def _cent_vectors(cents: list[tuple]) -> tuple:
    """``_arrow_vectors`` of the centroid rows ``cents``."""
    return _arrow_vectors(
        pa.array([cv for _c, cv in cents], type=pa.list_(pa.float64()))
    )


def _residuals(
    corpus: DataFrame,
    cents: list[tuple],
    id_col: str,
    vec_col: str,
    need: int,
) -> DataFrame:
    """(neighbor_id, rvec): each corpus vector minus its nearest centroid
    of the sorted rows ``cents`` (``_nearest``, as ``_assign_pass`` picks
    the cell), ``_residual``'s rule, one narrow ``mapInArrow`` pass. A
    row with a NULL id or a NULL cell cid has no residual, as in the
    corpus ⨝ cells join; a non-NULL vector shorter than ``need``
    raises."""
    src = corpus.select(id_col, vec_col)
    schema = StructType(
        [
            StructField("neighbor_id", src.schema[id_col].dataType),
            StructField("rvec", ArrayType(DoubleType())),
        ]
    )
    if not cents:
        return local_df(corpus.sparkSession, [], schema)
    cv = _cent_vectors(cents)
    has_cid = np.array([c is not None for c, _v in cents])

    def gen(batches):
        for batch in batches:
            v = _arrow_vectors(batch.column(1))
            _pq_pad(*v, need)
            top = _nearest(v[0], v[1], _scorable(*v[1:]), cents, 6)[:, 0]
            rows = batch.column(0).is_valid().to_numpy(zero_copy_only=False)
            rows = np.flatnonzero(rows & has_cid[top])
            v = tuple(a[rows] for a in v)
            rx, rlens, rvalid, rp = _residual(v, cv, top[rows])
            keep = np.arange(rx.shape[1])[None, :] < rlens[:, None]
            rvec = pa.ListArray.from_arrays(
                pa.array(np.r_[0, np.cumsum(rlens)].astype(np.int32)),
                pa.array(rx[keep], mask=~rvalid[keep]),
                mask=pa.array(~rp),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(pa.array(rows)), rvec],
                names=schema.names,
            )

    return src.mapInArrow(gen, schema)


def _query_side(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    sub_dim: int,
    cbs: list[list],
    cents: list[tuple] | None,
    nprobe: int,
    residual: bool,
) -> tuple:
    """(field, qids, kt, tables): the queries read to the driver once
    (``collect_bounded`` at ``_MODEL_ROWS``; a larger relation raises
    TooManyRows while the plan is built), their id field and ids, the
    (queries, keys) map ``kt`` from a corpus row's key to the table that
    scores it for that query (-1: not a candidate) and ``_tables`` of
    every query — of every (query, probe) in a residual search, from the
    query residual against the probed centroid.

    Keys: 0 in a flat search (``cents`` None), the index of a row's cell
    among the distinct centroid cids in an IVF search, and the position
    of its centroid in ``cents`` in a residual one. The ``nprobe``
    probes are ``_nearest``'s; a probe with a NULL cid, a query with a
    NULL id, and every query when a sub-space has no entry, score
    nothing. A non-NULL query vector shorter than m*sub_dim raises."""
    src = queries.select(id_col, vec_col)
    field = StructField("query_id", src.schema[id_col].dataType)
    rows = collect_bounded(src, _MODEL_ROWS, "pq queries")
    qids = pa.array([r[0] for r in rows], type=to_arrow_type(field.dataType))
    v = _arrow_vectors(
        pa.array([r[1] for r in rows], type=pa.list_(pa.float64()))
    )
    x, lens, valid, present = v
    need = m * sub_dim
    x, valid = _pq_pad(x, lens, valid, present, need)
    qok = qids.is_valid().to_numpy(zero_copy_only=False) & all(cbs)
    n = len(qids)
    spaces = _code_spaces(cbs)
    if cents is None:
        kt = np.where(qok, np.arange(n), -1)[:, None]
        return field, qids, kt, _tables(x, valid, present, cbs, spaces, sub_dim)
    top = (
        _nearest(x, lens, _scorable(lens, valid, present), cents, 6, nprobe)
        if cents
        else np.zeros((n, 0), dtype=np.int64)
    )
    q = np.repeat(np.arange(n), top.shape[1])
    u, cell_of = _code_spaces([cents])[0]
    if residual:
        key = top.ravel()
        ok = qok[q] & (cell_of[key] < len(u))
        kt = np.full((n, len(cents)), -1, dtype=np.int64)
        kt[q[ok], key[ok]] = np.flatnonzero(ok)
        rx, rlens, rvalid, rp = _residual(
            (x[q], lens[q], valid[q], present[q]), _cent_vectors(cents), key
        )
        rx, rvalid = _pq_pad(rx, rlens, rvalid, rp, need)
        return field, qids, kt, _tables(rx, rvalid, rp, cbs, spaces, sub_dim)
    key = cell_of[top.ravel()]
    ok = qok[q] & (key < len(u))
    kt = np.full((n, len(u)), -1, dtype=np.int64)
    kt[q[ok], key[ok]] = q[ok]
    return field, qids, kt, _tables(x, valid, present, cbs, spaces, sub_dim)


def _corpus_rows(
    need: int,
    sub_dim: int,
    cbs: list[list],
    cents: list[tuple] | None,
    residual: bool,
):
    """The row side of a search over corpus vectors: a function from an
    Arrow batch (id, vector) to each row's key (``_query_side``'s) and
    its code index per sub-space — encoded from the vector, or in a
    residual search from its residual against its cell's centroid. A
    non-NULL vector shorter than ``need`` raises."""
    spaces = _code_spaces(cbs)
    if cents:
        cell_of = _code_spaces([cents])[0][1]
        cv = _cent_vectors(cents)

    def rows(batch):
        x, lens, valid, present = _arrow_vectors(batch.column(1))
        x, valid = _pq_pad(x, lens, valid, present, need)
        key = np.zeros(len(x), dtype=np.int64)
        if cents:
            key = _nearest(x, lens, _scorable(lens, valid, present), cents, 6)
            key = key[:, 0]
            if residual:
                x, lens, valid, present = _residual(
                    (x, lens, valid, present), cv, key
                )
                x, valid = _pq_pad(x, lens, valid, present, need)
            else:
                key = cell_of[key]
        return key, _codes(x, valid, present, cbs, spaces, sub_dim)

    return rows


def _coded_rows(cbs: list[list], cells):
    """The row side of a search over persisted codes: a function from an
    Arrow batch (id, [cell,] code_0..code_{m-1}) to each row's key — 0,
    or the index of its cell among the sorted centroid cids ``cells`` —
    and its code index per sub-space."""
    spaces = _code_spaces(cbs)
    at = 1 if cells is None else 2

    def rows(batch):
        key = (
            np.zeros(batch.num_rows, dtype=np.int64)
            if cells is None
            else _index_of(cells, batch.column(1))
        )
        return key, [
            _index_of(u, batch.column(at + s))
            for s, (u, _e) in enumerate(spaces)
        ]

    return rows


def _code_cols(codes: DataFrame, id_col: str, m: int) -> DataFrame:
    """(neighbor_id, code_0..code_{m-1}) of ``pq_encode``'s relation."""
    want = [id_col] + [f"code_{s}" for s in range(m)]
    missing = [c for c in want if c not in codes.columns]
    if missing:
        raise ValueError(
            f"codes= takes pq_encode's relation ({id_col}, code_0.."
            f"code_{m - 1}); missing {missing} in {codes.columns}"
        )
    return codes.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(c).cast("long").alias(c) for c in want[1:]],
    )


def _adc_pass(src: DataFrame, rows, qside: tuple, k: int) -> DataFrame:
    """(query_id, neighbor_id, score) candidates: ``rows`` gives each row
    of an Arrow batch of ``src`` (id first) its key and codes, and for
    each query (in blocks of at most ``_BLOCK`` pairs) a row is a
    candidate when ``kt`` maps its key to a table, its id is not NULL
    and differs from the query's, and one of its codes is a cid of its
    sub-space. The score is the long sum of the matched non-NULL
    micro-distances / 1e6, NULL when every one is NULL; under ANSI an
    overflowing sum raises ARITHMETIC_OVERFLOW, otherwise it wraps. Per
    query and batch every candidate no worse than the k-th best (NULL
    first) is kept, ties included, so the top k by (score, id) of the
    whole corpus is among the rows kept."""
    field, qids, kt, tables = qside
    schema = StructType(
        [
            field,
            StructField("neighbor_id", src.schema.fields[0].dataType),
            StructField("score", DoubleType()),
        ]
    )
    if k < 1 or not (kt >= 0).any():
        return local_df(src.sparkSession, [], schema)
    ansi = src.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    kt = np.concatenate([kt, np.full((len(kt), 1), -1, dtype=np.int64)], 1)
    uq = pc.unique(qids.drop_null())
    grp = pc.index_in(qids, value_set=uq).fill_null(-2)
    grp = grp.to_numpy(zero_copy_only=False).astype(np.int64)
    n_u = [t[0].shape[1] - 1 for t in tables]

    def gen(batches):
        for batch in batches:
            ids = batch.column(0)
            key, codes = rows(batch)
            n = len(key)
            rid = pc.index_in(ids, value_set=uq.cast(ids.type)).fill_null(-1)
            rid = rid.to_numpy(zero_copy_only=False)
            ok = ids.is_valid().to_numpy(zero_copy_only=False) & np.any(
                [c < u for c, u in zip(codes, n_u)], axis=0
            )
            step = max(1, _BLOCK // max(n, 1))
            for lo in range(0, len(kt), step):
                t = kt[lo : lo + step][:, key]
                cand = (t >= 0) & ok & (grp[lo : lo + step, None] != rid)
                if not cand.any():
                    continue
                acc = np.zeros(t.shape, dtype=np.int64)
                nn = np.zeros(t.shape, dtype=bool)
                ovf = np.zeros(t.shape, dtype=bool)
                for c, (tsum, tnn, tovf) in zip(codes, tables):
                    new = acc + tsum[t, c]
                    ovf |= (new < acc) | tovf[t, c]
                    nn |= tnn[t, c]
                    acc = new
                if ansi and (ovf & cand).any():
                    raise ArithmeticError(
                        "pq: ADC score overflows a long [ARITHMETIC_OVERFLOW]"
                    )
                score = acc.astype(np.float64) / 1e6
                if n > k:
                    rank = np.where(cand, np.where(nn, score, -np.inf), np.inf)
                    kth = np.partition(rank, k - 1, axis=1)[:, k - 1 : k]
                    cand &= rank <= kth
                qi, ri = np.nonzero(cand)
                yield pa.RecordBatch.from_arrays(
                    [
                        qids.take(pa.array(qi + lo)),
                        ids.take(pa.array(ri)),
                        pa.array(score[qi, ri], mask=~nn[qi, ri]),
                    ],
                    names=schema.names,
                )

    return src.mapInArrow(gen, schema)


def _ivf_cents(corpus, id_col, vec_col, n_centroids, centroids) -> list:
    """The coarse quantizer's sorted (cid, cvec) rows, read once."""
    return _model_rows(
        _resolve_cents(corpus, id_col, vec_col, n_centroids, centroids),
        "ivf centroids",
    )


def _search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    m: int,
    sub_dim: int,
    cbs: list[list],
    cents: list[tuple] | None = None,
    nprobe: int = 0,
    residual: bool = False,
    codes: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Top-k ADC search of ``queries`` over ``corpus`` with the
    per-sub-space codebooks ``cbs``: flat when ``cents`` is None, IVF
    over the sorted centroid rows ``cents`` otherwise (``residual``:
    codes and tables of residuals). The corpus side is one
    ``_adc_pass`` over the vectors, or over the persisted ``codes``
    (``pq_encode``'s relation) joined once by id to the cells (given,
    or assigned by ``_assign_pass``)."""
    qside = _query_side(
        queries, id_col, vec_col, m, sub_dim, cbs, cents, nprobe, residual
    )
    if codes is None and cells is None:
        src = corpus.select(F.col(id_col).alias("neighbor_id"), vec_col)
        rows = _corpus_rows(m * sub_dim, sub_dim, cbs, cents, residual)
        return _rank_adc(_adc_pass(src, rows, qside, k), k)
    if codes is None:
        codes = _encode(corpus, id_col, vec_col, m, sub_dim, cbs)
    src = _code_cols(codes, id_col, m)
    if cents is not None:
        if cells is None:
            cells = _assign_pass(corpus, cents, id_col, vec_col, 6).select(
                F.col(id_col).alias("neighbor_id"), F.col("cid").alias("cell")
            )
        src = src.join(
            cells.select("neighbor_id", F.col("cell").cast("long")),
            "neighbor_id",
        ).select("neighbor_id", "cell", *src.columns[1:])
    ucells = None if cents is None else _code_spaces([cents])[0][0]
    return _rank_adc(_adc_pass(src, _coded_rows(cbs, ucells), qside, k), k)


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

    ``codes`` accepts a precomputed/persisted ``pq_encode`` relation
    (id_col, code_0..code_{m-1}) — a PQ index IS a materialized
    artifact, encoded once and searched many times; passing it skips
    the encode. A relation without those columns raises ValueError.

    Output: (query_id, neighbor_id, score, rank) — score is the exact
    integer-micro ADC distance / 1e6 (the long sum of m table lookups),
    rank by (score ASC, neighbor_id ASC); a query never matches its own
    id. The queries (at most ``_MODEL_ROWS``, else TooManyRows while the
    plan is built) are read to the driver once and their m x k_sub
    tables built there; the corpus is encoded and scored per Arrow batch
    in one narrow numpy pass (``_adc_pass``) that keeps each query's
    best rows, and one window ranks them. Ids are a key: each corpus and
    query row is scored on its own. No raw corpus vector leaves its
    batch, which is the entire point of PQ at 100 TB.
    """
    cb = _sub_codebooks(
        ivf_centroids(corpus, id_col, vec_col, k_sub), m, sub_dim
    )
    return _search(
        corpus, queries, id_col, vec_col, k, m, sub_dim, cb, codes=codes
    )


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
    codes a query scores (the rows in its nprobe cells), PQ codes bound
    HOW MUCH is read per vector (m bytes), and ADC ranks candidates
    without touching raw vectors at all.

    Cells and query probes are both ranked by ``similarity._nearest``
    (FLOOR(cos·1e6 + 0.5) DESC, ties to the smallest cid) over the
    centroids read to the driver once. The queries (at most
    ``_MODEL_ROWS``, else TooManyRows while the plan is built) are read
    once: their probes and m x k_sub tables are built on the driver.
    The corpus side is one narrow numpy pass per Arrow batch that
    assigns each row its cell, encodes it and scores it for every query
    probing that cell (``_adc_pass``); one window ranks. A row is a
    candidate once for each query that probes its cell cid, however
    many centroids share that cid. ``codes`` (``pq_encode``'s relation)
    and ``cells`` (``ivf_build_cells``' or a persisted index's
    (neighbor_id, cell) relation) replace the inline encode or
    assignment; the two then join once by id. Output: (query_id,
    neighbor_id, score, rank) — exact-integer ADC score, rank (score
    ASC, neighbor_id ASC).
    """
    # a trained coarse quantizer (kmeans_fit's fitted relation) swaps in
    # as in similarity.cosine_topk_ivf
    cents = _ivf_cents(corpus, id_col, vec_col, n_centroids, centroids)
    cb = _sub_codebooks(
        ivf_centroids(corpus, id_col, vec_col, k_sub), m, sub_dim
    )
    return _search(
        corpus, queries, id_col, vec_col, k, m, sub_dim, cb, cents, nprobe,
        codes=codes, cells=cells,
    )


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

    Scale shape: the queries (at most ``_MODEL_ROWS``, else TooManyRows
    while the plan is built) are read once; their nprobe probes and one
    table per (query, probe), from q - c(probe), are built on the
    driver. The codebook seeds are the residuals of the corpus rows with
    id < k_sub, and the search is one narrow numpy pass per Arrow batch
    that assigns each row its cell, subtracts the centroid, encodes the
    residual and scores it with the table of the query's probe of that
    centroid (``_adc_pass``) — no join, no raw-vector shuffle, no pin.
    At a centroid cid held by several centroids, a row is scored only
    by the probe of the centroid it was assigned to. Output:
    (query_id, neighbor_id, score, rank) — integer-exact ADC score,
    rank (score ASC, neighbor_id ASC).
    """
    cents = _ivf_cents(corpus, id_col, vec_col, n_centroids, centroids)
    seeds = _residuals(
        corpus.filter(F.col(id_col) < k_sub), cents, id_col, vec_col,
        m * sub_dim,
    )
    rcb = _sub_codebooks(
        ivf_centroids(seeds, "neighbor_id", "rvec", k_sub), m, sub_dim
    )
    return _search(
        corpus, queries, id_col, vec_col, k, m, sub_dim, rcb, cents, nprobe,
        residual=True,
    )


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
    """ADC top-k over TRAINED codebooks: pq_topk's exact search (the
    queries read to the driver once, at most ``_MODEL_ROWS``; one numpy
    encode-and-score pass over the corpus; rank by (score ASC,
    neighbor_id ASC)) with pq_fit's per-sub-space codebooks in place of
    the seeded ones, read to the driver once per call. ``codebooks``
    accepts a persisted pq_fit relation — fit once, search many."""
    if codebooks is None:
        codebooks = pq_fit(corpus, id_col, vec_col, m, sub_dim, k_sub, n_iter)
    return _search(
        corpus, queries, id_col, vec_col, k, m, sub_dim,
        _trained_codebooks(codebooks, m),
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
    ProductQuantizer::train): pq_topk_ivf_residual's exact search (the
    queries' probes and per-probe residual tables on the driver, one
    numpy pass over the corpus), with pq_fit's per-sub-space k-means
    codebook trained ON the residual distribution (``_residuals``, one
    narrow pass recomputed by each fit pass) replacing the
    residual-seeded first-k one. The r9 recall instrument attributed
    residual PQ's 0.04-vs-0.18 recall loss to that seeded codebook; this
    is the trained fix it called for.

    ``codebooks``: a persisted pq_fit relation over the residuals —
    fit once, search many (pair with operators/index_store).
    Output: (query_id, neighbor_id, score, rank), integer-exact ADC.
    """
    cents = _ivf_cents(corpus, id_col, vec_col, n_centroids, centroids)
    if codebooks is None:
        res = _residuals(corpus, cents, id_col, vec_col, m * sub_dim)
        codebooks = pq_fit(
            res, "neighbor_id", "rvec", m, sub_dim, k_sub, n_iter
        )
    return _search(
        corpus, queries, id_col, vec_col, k, m, sub_dim,
        _trained_codebooks(codebooks, m), cents, nprobe, residual=True,
    )


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
