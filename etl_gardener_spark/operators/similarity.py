"""Embedding-column similarity search: brute-force cosine top-k (the exact
baseline) and a sign-random-projection LSH-bucketed variant (the scale
path), plus embedding near-duplicate pairs.

Embeddings are ordinary ``array<float>`` columns. Vector-to-vector
scores are Catalyst higher-order functions (``zip_with`` + ``aggregate``
fold). Every ranking of centroids, the k-means assignment, the IVF
cells and the query probes, goes through one kernel, ``_nearest``: a
numpy pass per Arrow batch that takes each block's dot products from one
GEMM and re-folds only the scores the GEMM's error bound cannot decide.
Either way the scores are those of a float64 left-to-right fold, so
results are deterministic and reproducible on any engine (the DuckDB
oracles compute the same sums in the same order).

Scale design:
* **Brute-force top-k**: queries are broadcast (a query set is small by
  definition); each executor scans its partition of the corpus once and
  keeps a per-query heap via window rank. Cost: one corpus scan per query
  batch — the right baseline at any scale, and embarrassingly parallel.
* **SRP-LSH**: hyperplane signs bucket the corpus (deterministic
  hyperplanes derived from md5 — no RNG state to ship); candidate search
  touches only same-bucket vectors. Trades recall for a corpus-scan-free
  lookup; recall is tunable via number of planes / probing.
* **Near-dup pairs**: exact all-pairs as a block-pair GEMM — one
  shuffle keyed on (block_a, block_b), a numpy multiply per block pair,
  no driver collect and no whole-corpus broadcast.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from etl_gardener_spark.functions.localrel import (
    TooManyRows,
    collect_bounded,
    local_df,
)


def _dot(a: Column, b: Column) -> Column:
    """Float64 dot product, left-to-right fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (all-zero) embedding has undefined cosine —
    # NULL, the SQL x/0 answer, so threshold filters exclude it instead
    # of ANSI-crashing the job (differential-fuzz finding)
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector over the corpus.

    Output: (query_id, neighbor_id, score, rank). Self-matches excluded.
    The query side is broadcast; the corpus is scanned once. Ranking uses
    (rounded score DESC, neighbor_id ASC) — a total order, so results are
    unique and engine-independent (rounding absorbs last-ulp float noise).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def negative_samples(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_neg: int = 5,
    exclude_topm: int = 5,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    query, ``k_neg`` corpus items that are NOT among its ``exclude_topm``
    nearest neighbors (nor itself), chosen by md5 rank over the
    (query, candidate) pair — uniform, reproducible, engine-portable.

    Returns (query_id, neg_id, rank). Excluding the true top-m prevents
    false negatives (the standard in-batch-negative correction); the
    md5-of-pair rank gives every query an independent sample without RNG,
    so reruns and backfills produce the same training pairs.

    Plan: the candidate space is an id-only cross join (|corpus| x
    |queries| NARROW rows — vectors never replicate), the exclusion is a
    broadcast anti-join against the top-m pairs, and rank<=k lets
    WindowGroupLimit keep a bounded per-query heap below the shuffle.
    Only the top-m computation touches vector data.
    """
    topm = cosine_topk(corpus, queries, id_col, vec_col, k=exclude_topm).select(
        F.col("query_id").alias("__q"), F.col("neighbor_id").alias("__n")
    )
    cand = (
        corpus.select(F.col(id_col).alias("neg_id"))
        .crossJoin(F.broadcast(queries.select(F.col(id_col).alias("query_id"))))
        .filter(F.col("neg_id") != F.col("query_id"))
        .join(
            F.broadcast(topm),
            (F.col("query_id") == F.col("__q"))
            & (F.col("neg_id") == F.col("__n")),
            "left_anti",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.md5(
            F.concat_ws("_", F.col("query_id").cast("string"),
                        F.col("neg_id").cast("string"))
        ),
        F.col("neg_id"),
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_neg)
    )


def incremental_topk(
    old_topk: DataFrame,
    queries: DataFrame,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Incrementally maintain exact top-k neighbor lists as a NEW vector
    batch arrives: score only the batch against the queries, union with
    the stored per-query top-k, re-rank, keep k. Equivalent to re-running
    `cosine_topk` over the full corpus — the global top-k is contained in
    (stored top-k) ∪ (batch top-k), and both sides share the same
    (rounded score DESC, neighbor_id ASC) total order — at the cost of
    one |batch| x |queries| scan instead of a corpus rescan.

    ``old_topk`` is `cosine_topk` output (query_id, neighbor_id, score,
    rank); rank is recomputed. The 100 TB maintenance loop: corpus top-k
    materializes once, every append folds in at batch cost — the same
    batch-vs-store discipline as `incremental_minhash_dedup` and
    `incremental_semantic_dedup`.
    """
    batch_topk = cosine_topk(
        new_vecs, queries, id_col, vec_col, k=k, round_digits=round_digits
    ).select("query_id", "neighbor_id", "score")
    merged = old_topk.select("query_id", "neighbor_id", "score").unionByName(
        batch_topk
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Sign-random-projection LSH
# ---------------------------------------------------------------------------


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1), derived
    from md5 — reproducible anywhere without shipping RNG state."""
    import hashlib

    h = hashlib.md5(f"srp|{plane}|{dim}".encode()).hexdigest()[:8]
    return int(h, 16) / 2**31 - 1.0


def srp_planes(num_planes: int, dim: int) -> list[list[float]]:
    return [
        [_plane_component(p, d) for d in range(dim)] for p in range(num_planes)
    ]


def srp_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: one sign bit per hyperplane, packed into a long."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(vec_col, lit_plane) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 4,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's SRP bucket are
    scored. Same output schema as cosine_topk; recall < 1 by design (the
    IVF/LSH trade). The bucket join replaces the cross join — at 100 TB
    this is the difference between scan-per-query and a hash lookup."""
    planes = srp_planes(num_planes, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        srp_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        srp_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sq8_compress(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization — (id, vmin, span, codes).

    The persistable compressed store: each dimension maps to a 256-bucket
    code against the vector's own [min, max] range (the same affine
    scheme as the certified emb_quantize_int8 query — FLOOR bucketing,
    engine-portable). ~dim bytes + 16 per vector vs 4*dim of float32:
    the representation an SQ8 index scans instead of raw vectors.
    All JVM-side array lambdas; one narrow map-only projection."""
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    stats = corpus.select(
        F.col(id_col),
        xd.alias("xd"),
        F.array_min(xd).alias("vmin"),
        F.array_max(xd).alias("vmax"),
    )
    spans = stats.select(
        id_col,
        "xd",
        "vmin",
        F.when(F.col("vmax") > F.col("vmin"), F.col("vmax") - F.col("vmin"))
        .otherwise(F.lit(1.0))
        .alias("span"),
    )
    vmin, span = F.col("vmin"), F.col("span")
    code = lambda x: F.least(F.floor(((x - vmin) / span) * 256), F.lit(255))  # noqa: E731
    return spans.select(
        id_col, "vmin", "span", F.transform(F.col("xd"), code).alias("codes")
    )


def cosine_topk_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    cand_per_query: int = 15,
    round_digits: int = 6,
    comp: DataFrame | None = None,
) -> DataFrame:
    """SQ8 two-stage ANN: scan the int8-compressed store, exact-rerank a
    bounded candidate set — the FAISS IndexScalarQuantizer(QT_8bit)
    search pattern. Pass ``comp`` (a ``sq8_compress`` relation) to
    search a prebuilt index instead of re-encoding the corpus — the
    deployment shape (encode once, query many), same discipline as
    pq_topk's ``codes=``.

    Stage 1 scores every corpus vector from its DEQUANTIZED codes
    (``vmin + code*span/255``) — at scale this scan reads the ~4x
    smaller compressed relation, never raw floats — and keeps the top
    ``cand_per_query`` per query by approximate cosine (floor-quantized
    to 1e-6 so candidate selection is engine-portable). Stage 2 fetches
    raw vectors for candidates ONLY (an equi-join on id, |queries| x
    cand rows) and re-ranks by exact cosine. Same output schema as
    cosine_topk: (query_id, neighbor_id, score, rank) with score the
    EXACT rounded cosine.
    """
    if comp is None:
        comp = sq8_compress(corpus, id_col, vec_col)
    vmin, span = F.col("vmin"), F.col("span")
    rvec = F.transform(F.col("codes"), lambda c: vmin + (c * span) / 255)
    dq = comp.select(F.col(id_col).alias("neighbor_id"), rvec.alias("rvec"))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    approx = (
        dq.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.floor(cosine(F.col("q_vec"), F.col("rvec")) * 1e6 + 0.5)
            .cast("long")
            .alias("a6"),
        )
    )
    cw = Window.partitionBy("query_id").orderBy(
        F.col("a6").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        approx.withColumn("crank", F.row_number().over(cw))
        .filter(F.col("crank") <= cand_per_query)
        .select("query_id", "neighbor_id")
    )
    raw = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    rescored = (
        cand.join(raw, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_digits: int = 6,
    num_blocks: int = 4,
) -> DataFrame:
    """Pairs of vectors with cosine >= threshold: (id_a, id_b, score),
    exact all-pairs by a **distributed block-pair GEMM**.

    The corpus is split into B = ``num_blocks`` blocks by ``id % B``;
    each unordered block pair (i, j), i <= j, becomes one
    ``applyInPandas`` group holding block i as side A and block j as
    side B, and the group runs a single vectorized ``A @ Bᵀ`` numpy
    multiply (triangular for the diagonal groups). No driver-side
    collect and no whole-corpus broadcast: every executor sees only two
    blocks at a time (memory O((n/B)·dim) per task), replication factor
    is ~B/2 per row, and the one shuffle keys on (block_a, block_b) —
    B ~ sqrt(cluster cores) keeps all cores busy at any corpus size.
    """

    spark = df.sparkSession
    b_n = num_blocks
    pair_keys = local_df(
        spark,
        [(i, j) for i in range(b_n) for j in range(i, b_n)],
        "ga int, gb int",
    )
    v = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col), F.lit(b_n)).cast("int").alias("blk"),
    )
    # Side A carries block ga for every group; side B carries block gb
    # for off-diagonal groups only (diagonal groups reuse side A
    # triangularly, so each vector lands exactly once there).
    lefts = v.join(F.broadcast(pair_keys), v.blk == pair_keys.ga).select(
        "ga", "gb", F.lit("a").alias("side"), "vid", "vec"
    )
    offdiag = pair_keys.filter(F.col("ga") != F.col("gb"))
    rights = v.join(F.broadcast(offdiag), v.blk == offdiag.gb).select(
        "ga", "gb", F.lit("b").alias("side"), "vid", "vec"
    )
    grouped = lefts.unionByName(rights)

    def _block_pairs(key, pdf):
        import pandas as pd

        a = pdf[pdf["side"] == "a"]
        a_ids = a["vid"].to_numpy(dtype=np.int64)
        a_mat = np.array(list(a["vec"]), dtype=np.float64)
        if key[0] == key[1]:
            b_ids, b_mat = a_ids, a_mat
        else:
            b = pdf[pdf["side"] == "b"]
            b_ids = b["vid"].to_numpy(dtype=np.int64)
            b_mat = np.array(list(b["vec"]), dtype=np.float64)
        if len(a_ids) == 0 or len(b_ids) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "score": []})
        a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
        scores = (a_mat @ b_mat.T) / np.outer(a_norms, b_norms)
        keep = scores >= threshold
        if key[0] == key[1]:
            # Triangular dedup within a block; off-diagonal blocks are
            # disjoint residue classes (ids interleave, lo/hi below
            # normalizes order), so every qualifying pair is kept.
            keep &= a_ids[:, None] < b_ids[None, :]
        ai, bj = np.nonzero(keep)
        lo = np.minimum(a_ids[ai], b_ids[bj])
        hi = np.maximum(a_ids[ai], b_ids[bj])
        return pd.DataFrame(
            {
                "id_a": lo,
                "id_b": hi,
                "score": np.round(scores[ai, bj], round_digits),
            }
        )

    return grouped.groupBy("ga", "gb").applyInPandas(
        _block_pairs, schema="id_a long, id_b long, score double"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer cells + probed search
# ---------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse-quantizer seeds: the (id, vector) rows with
    id < ``n_centroids``, sorted by id, the vectors as doubles (read
    driver-side through ``collect_bounded`` at ``_MODEL_ROWS`` — C rows,
    like broadcast join build sides). A NULL vector or component stays
    None; the assignment and encode kernels score it as the sentinel or
    as NULL. A production IVF trains k-means here; seeded centroids keep
    the build deterministic and oracle-reproducible while exercising the
    identical plan shape (assignment scan + probed search).
    """
    rows = collect_bounded(
        corpus.select(
            F.col(id_col), F.col(vec_col).cast("array<double>")
        ).filter(F.col(id_col) < n_centroids),
        _MODEL_ROWS,
        "ivf_centroids seeds",
    )
    # a duplicated id keeps a deterministic order: by vector, NULLs first
    return sorted(
        rows,
        key=lambda r: (
            r[0],
            r[1] is not None,
            [(v is not None, v or 0.0) for v in r[1] or []],
        ),
    )


def _resolve_cents(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    centroids: DataFrame | None,
) -> DataFrame:
    """The coarse-quantizer relation: the caller's (cid, cvec) when
    given, else the deterministic first-C-ids seeding."""
    if centroids is not None:
        return centroids.select(
            F.col("cid").cast("long"), F.col("cvec").cast("array<double>")
        )
    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids)
    # explicit schema: an EMPTY corpus yields zero centroids, and schema
    # inference cannot type an empty local relation (differential-fuzz,
    # seed 0) — downstream joins then correctly produce zero results
    return local_df(
        corpus.sparkSession,
        [(cid, vec) for cid, vec in cents],
        "cid long, cvec array<double>",
    )


def ivf_build_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Build (and materialize) the IVF corpus index relation
    (neighbor_id, c_vec, cell) — the expensive, amortizable half of
    ``cosine_topk_ivf``. Build once, pass to any number of searches via
    its ``cells`` parameter (the probe sweep's per-arm pattern; a real
    deployment persists this relation next to the centroids). The cell
    is each vector's nearest centroid (``_nearest``, ties to the
    smallest cid), one narrow numpy pass per Arrow batch; the centroids
    are read to the driver once (``_model_rows``)."""
    cents = _model_rows(
        _resolve_cents(corpus, id_col, vec_col, n_centroids, centroids),
        "ivf centroids",
    )
    return _ivf_cells(
        corpus, cents, id_col, vec_col, round_digits, 1, "neighbor_id", "c_vec"
    ).localCheckpoint(eager=True)


def _ivf_cells(df, cents, id_col, vec_col, round_digits, keep, out_id, out_vec):
    """(out_id, out_vec, cell) rows: each vector of ``df`` with each of
    its ``keep`` nearest centroids of the sorted rows ``cents``."""
    return _assign_pass(
        df, cents, id_col, vec_col, round_digits, keep_vec=True, keep=keep
    ).select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(out_vec),
        F.col("cid").alias("cell"),
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-Flat ANN: assign every corpus vector to its nearest centroid
    cell, then search each query only inside its ``nprobe`` nearest cells.

    Output: (query_id, neighbor_id, score, rank). The scale story vs
    brute force: the corpus is scanned once to build cells (amortized
    across all future queries in a real deployment), and each query then
    touches ~nprobe/C of the corpus via an equi-join on cell — recall is
    tunable with nprobe, precision is exact (true cosine on candidates).
    Cells and probes both come from ``_nearest`` (FLOOR(cos·10^d + 0.5)
    DESC, ties to the smallest cid), one narrow numpy pass per Arrow
    batch over the centroids read to the driver once.

    ``centroids``: an explicit coarse-quantizer relation (cid, cvec) —
    pass ``kmeans_fit``'s fitted centroids for a TRAINED quantizer (the
    production-index path: balanced cells -> better recall per probe);
    None keeps the deterministic first-C-ids seeding (``ivf_centroids``,
    the oracle-replay default). ``n_centroids`` is ignored when
    ``centroids`` is given.

    ``cells``: a prebuilt corpus index relation — the output of
    ``ivf_build_cells`` over the SAME corpus and centroids. The
    corpus-side assignment is the expensive half of the search; callers
    running several searches against one index (the probe sweep's
    nprobe arms; any real deployment) must build it once and pass it
    here instead of paying a corpus scan per call.
    """
    cents = _model_rows(
        _resolve_cents(corpus, id_col, vec_col, n_centroids, centroids),
        "ivf centroids",
    )
    if cells is None:
        cells = _ivf_cells(
            corpus, cents, id_col, vec_col, round_digits, 1, "neighbor_id",
            "c_vec",
        )
    qc = _ivf_cells(
        queries, cents, id_col, vec_col, round_digits, nprobe, "query_id",
        "q_vec",
    )
    scored = (
        cells.join(F.broadcast(qc), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kmeans_assign(
    df: DataFrame,
    cents_df: DataFrame,
    id_col: str,
    vec_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """Nearest-centroid assignment by rounded cosine (ties -> smallest
    cid): (id, cid), one row per row of ``df``. Ids are a key: each row
    is assigned on its own, so a duplicated id yields one row per copy.

    The centroids are read to the driver once (``_model_rows``: a bounded
    collect, no Spark job for a local relation; a relation of more than
    ``_MODEL_ROWS`` = 65,536 centroids raises TooManyRows while the plan
    is built, before any corpus pass), and each Arrow batch of
    ``df`` is scored by ``_nearest`` in one narrow ``mapInArrow`` pass —
    no broadcast nested loop, no aggregate, no shuffle.

    ``_nearest`` is the exact replica of the SQL fold: sequential float64
    dot and norm folds from +0.0, the score FLOOR(COALESCE(cos, -2) *
    10^d + 0.5) with Spark's saturating FLOOR, and the highest score
    winning with ties to the smallest cid. Rounding uses the portable
    floor kernel (functions/exact.py), NOT Spark ROUND: the kernel is the
    same IEEE expression in numpy and DuckDB, so this pass and the SQL
    oracle pick bit-identical winners; the ordering key stays the scaled
    integer. tests/test_assign_encode_kernels.py keeps the former
    Catalyst tree as the bit-equality reference."""
    cents = _model_rows(cents_df, "kmeans_assign centroids")
    return _assign_pass(df, cents, id_col, vec_col, round_digits)


# A centroid or codebook relation read to the driver holds at most this
# many rows; collect_bounded refuses a larger one.
_MODEL_ROWS = 1 << 16


def _model_rows(model: DataFrame, what: str) -> list[tuple]:
    """The (cid, cvec) rows of a centroid or codebook relation as Python
    values (cvec as doubles), sorted by cid with a NULL cid first, which
    is Spark's ascending order."""
    rows = collect_bounded(
        model.select(
            F.col("cid").cast("long"), F.col("cvec").cast("array<double>")
        ),
        _MODEL_ROWS,
        what,
    )
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0))


def _assign_pass(
    df: DataFrame,
    cents: list[tuple],
    id_col: str,
    vec_col: str,
    round_digits: int,
    keep_vec: bool = False,
    keep: int = 1,
) -> DataFrame:
    """(id, cid), plus the vector itself with ``keep_vec``, for each of
    the ``keep`` nearest centroids of every row of ``df`` (one output
    row each, every centroid when there are fewer than ``keep``):
    ``_nearest`` over the sorted (cid, cvec) rows ``cents``, once per
    Arrow batch. No centroid: no row, as in the SQL cross join."""
    src = df.select(id_col, vec_col)
    fields = [src.schema[id_col], StructField("cid", LongType())]
    if keep_vec:
        fields.append(src.schema[vec_col])
    schema = StructType(fields)
    if not cents:
        return local_df(df.sparkSession, [], schema)
    cids = pa.array([c for c, _v in cents], type=pa.int64())

    def gen(batches):
        for batch in batches:
            vecs = batch.column(1)
            x, lens, valid, present = _arrow_vectors(vecs)
            scorable = _scorable(lens, valid, present)
            top = _nearest(x, lens, scorable, cents, round_digits, keep)
            rows = pa.array(np.repeat(np.arange(len(top)), top.shape[1]))
            cols = [batch.column(0).take(rows), cids.take(pa.array(top.ravel()))]
            if keep_vec:
                cols.append(vecs.take(rows))
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return src.mapInArrow(gen, schema)


def kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Lloyd k-means over an embedding column: (id, cluster).

    Deterministic by construction: seeds are the first ``k`` vectors by id
    (no RNG — same policy as the IVF coarse quantizer), assignment is
    rounded-cosine argmax with min-cid tie-break (``_nearest``: the
    sequential fold's scores from one GEMM per batch), and each update
    rounds the element-wise mean so a rerun (or the SQL oracle)
    reproduces the exact assignment. A corpus within ``kmeans_fit``'s bounds trains on
    the driver from one collect; a larger one runs the distributed loop.
    The final assignment is always a distributed pass over the corpus.
    """
    out, _cents = kmeans_fit(df, id_col, vec_col, k, n_iter, round_digits)
    return out


# kmeans_fit trains on the driver when the corpus holds at most _FIT_ROWS
# rows and _FIT_VALUES vector components (at 64-d both bounds meet at
# 65,536 rows, about 130 MB of Python floats); larger corpora run the
# distributed Lloyd loop.
_FIT_ROWS = 1 << 16
_FIT_VALUES = 1 << 22


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    round_digits: int = 6,
    seed: str = "id_lt_k",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd k-means returning BOTH the final assignment (id, cluster_id)
    and the fitted centroid relation (cid, cvec). The centroid relation
    is the persistable model an incremental pipeline stores next to the
    corpus assignments, so later batches can be routed to the same
    clusters without re-training (``incremental_semantic_dedup``).

    A corpus within ``_FIT_ROWS`` rows and ``_FIT_VALUES`` components
    trains on the driver: one job reads the vector sizes (``_fit_rows``),
    one collects the corpus, and ``_lloyd_local`` iterates on it. A
    larger corpus runs the distributed loop
    (``_lloyd_distributed``): Spark jobs every iteration, and nothing
    larger than k x dim means on the driver. Both give the same
    centroids. Every assignment, on the driver and in the distributed
    iterations and the final pass over the whole corpus, is
    ``_nearest``: the sequential fold's scores, bit-identical to the SQL
    oracle, from one GEMM per batch. The centroids are read to the
    driver (``_model_rows``), so at most ``_MODEL_ROWS`` = 65,536 of
    them: a larger ``k`` raises ValueError before any training.

    ``seed``: 'id_lt_k' (default) seeds from rows with id < k — the
    original deterministic scheme, but under a filtered training corpus
    (e.g. even ids only) it yields FEWER than k centroids; 'first_k'
    seeds from the k smallest-id training rows (cid = 0..k-1 by id
    rank), guaranteeing k centroids whenever the corpus has >= k rows."""
    if seed not in ("id_lt_k", "first_k"):
        raise ValueError(f"seed must be 'id_lt_k' or 'first_k', got {seed!r}")
    if k > _MODEL_ROWS:
        raise ValueError(
            f"kmeans_fit takes at most {_MODEL_ROWS} centroids, got k={k}"
        )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    rows = _fit_rows(vecs, vec_col)
    if rows is None:
        cents = _lloyd_distributed(
            vecs, id_col, vec_col, k, n_iter, round_digits, seed
        )
    else:
        # explicit schema: empty corpus -> zero centroids (see
        # cosine_topk_ivf note)
        cents = local_df(
            df.sparkSession,
            _lloyd_local(
                [v for _i, v in rows],
                _seed_rows(rows, k, seed),
                n_iter,
                round_digits,
            ),
            "cid long, cvec array<double>",
        )
    final = kmeans_assign(vecs, cents, id_col, vec_col, round_digits).select(
        F.col(id_col), F.col("cid").alias("cluster_id")
    )
    return final, cents


def _fit_rows(vecs: DataFrame, vec_col: str) -> list | None:
    """Every (id, vec) row of ``vecs`` when it holds at most ``_FIT_ROWS``
    rows and ``_FIT_VALUES`` vector components, else None.

    The first job reads the sizes of at most ``_FIT_ROWS + 1`` rows.
    Through ``toArrow`` the limit runs on the executors (each partition
    keeps its first rows, one task takes the limit from them), so the
    driver receives at most that many integers however the corpus is
    partitioned. ``collect`` would take the limit on the driver: an
    ordered limit ships every partition's top rows there, and a plain
    one may run several jobs, each shipping up to the limit from every
    partition it scans. Only a corpus within both bounds is then
    collected."""
    try:
        sizes = collect_bounded(
            vecs.select(F.size(vec_col)), _FIT_ROWS, "kmeans_fit size probe"
        )
    except TooManyRows:
        return None
    if sum(s for (s,) in sizes if s is not None and s > 0) > _FIT_VALUES:
        return None
    return vecs.collect()


def _seed_rows(rows: list, k: int, seed: str) -> list[tuple[int, list]]:
    """The (cid, cvec) seeds from (id, vec) rows, sorted by cid:
    'id_lt_k' takes the rows with id < k as cid = id, 'first_k' the k
    smallest ids as cid = 0..k-1 by id rank."""
    if seed == "id_lt_k":
        return sorted(
            (int(i), [float(x) for x in v])
            for i, v in rows
            if i is not None and i < k
        )
    first = sorted(rows, key=lambda r: r[0])[:k]
    return [(cid, [float(x) for x in v]) for cid, (_i, v) in enumerate(first)]


def _lloyd_distributed(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_iter: int,
    round_digits: int,
    seed: str,
) -> DataFrame:
    """``n_iter`` Lloyd iterations as Spark jobs over the (id, vec)
    relation; returns the centroid relation. Seeds are an O(k) collect:
    the rows with id < k, or the top-k by id (a bounded take, not a
    scan)."""
    spark = vecs.sparkSession
    seed_src = (
        vecs.filter(F.col(id_col) < k)
        if seed == "id_lt_k"
        else vecs.orderBy(id_col).limit(k)
    )
    cents = _seed_rows(seed_src.collect(), k, seed)
    for _ in range(n_iter):
        # update: element-wise mean per cluster, rebuilt into an array
        # ordered by dimension; empty clusters drop out (their cid simply
        # stops attracting points — Lloyd's standard degenerate case).
        # The rounded per-(cid, pos) means are collected to the driver:
        # the centroids are O(k·dim), bounded by _MODEL_ROWS rows, and
        # the next assignment pass takes them as Python rows (pos is
        # unique per cid, so sorting by pos rebuilds each centroid
        # exactly). The vector rides through the narrow assignment pass,
        # so the update needs no join-back shuffle of the corpus — one
        # exchange per iteration instead of two (guide §2.4).
        exploded = _assign_pass(
            vecs, cents, id_col, vec_col, round_digits, keep_vec=True
        ).select("cid", F.posexplode(vec_col).alias("pos", "val"))
        mrows = (
            exploded.groupBy("cid", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), round_digits).alias("m"))
            .collect()
        )
        by_cid: dict[int, list[tuple[int, float | None]]] = {}
        for r in mrows:
            # m is NULL when every contributing element was NULL — the
            # old collect_list tail kept it as a NULL array element
            by_cid.setdefault(int(r[0]), []).append(
                (int(r[1]), None if r[2] is None else float(r[2]))
            )
        cents = [
            (cid, [m for _, m in sorted(vals)])
            for cid, vals in sorted(by_cid.items())
        ]
    # explicit schema: empty corpus -> zero centroids (see
    # cosine_topk_ivf note)
    return local_df(spark, cents, "cid long, cvec array<double>")


def _lloyd_local(
    vecs: list,
    cents: list[tuple[int, list]],
    n_iter: int,
    round_digits: int,
) -> list[tuple[int, list]]:
    """``n_iter`` Lloyd iterations over collected vectors from the
    (cid, cvec) seeds, sorted by cid; returns the centroids likewise.

    Assignment is ``kmeans_assign``'s arithmetic (``_nearest``). The
    update is Spark's ROUND(AVG(val), d) per (cid, position) over the
    non-NULL elements: NULL where a position has none, and a cid whose
    members have no elements at all drops out. Sums are exact
    (``math.fsum``), so the centroids do not depend on row order."""
    n = len(vecs)
    x, lens, valid, present = _arrow_vectors(
        pa.array(vecs, type=pa.list_(pa.float64()))
    )
    scorable = _scorable(lens, valid, present)
    for _ in range(n_iter):
        if not cents or not n:
            return []
        cids = np.array([c for c, _v in cents], dtype=np.int64)
        win = cids[_nearest(x, lens, scorable, cents, round_digits)[:, 0]]
        order = np.argsort(win, kind="stable")
        bounds = np.flatnonzero(np.diff(win[order])) + 1
        new = []
        for idx in np.split(order, bounds):
            top = int(lens[idx].max())
            if top == 0:
                continue
            sub, ok = x[idx, :top], valid[idx, :top]
            cvec = []
            for p in range(top):
                vals = sub[ok[:, p], p].tolist()
                cvec.append(
                    _spark_round(_fsum(vals) / len(vals), round_digits)
                    if vals
                    else None
                )
            new.append((int(win[idx[0]]), cvec))
        cents = new
    return cents


def _arrow_vectors(col) -> tuple:
    """(x, lens, valid, present) of a list<float|double> Arrow column:
    ``x`` is the (rows, longest) float64 matrix, 0 past a row's end and
    NaN at a NULL element; ``valid`` marks the non-NULL elements within
    each row's length, ``present`` the non-NULL rows."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    present = ~col.is_null().to_numpy(zero_copy_only=False)
    lens = col.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    lens = lens.astype(np.int64)
    flat = col.flatten().cast(pa.float64())
    vals = flat.to_numpy(zero_copy_only=False)
    ok = ~flat.is_null().to_numpy(zero_copy_only=False)
    rows = np.repeat(np.arange(n), lens)
    pos = np.arange(len(vals)) - np.repeat(np.cumsum(lens) - lens, lens)
    width = int(lens.max(initial=0))
    x = np.zeros((n, width))
    x[rows, pos] = vals
    valid = np.zeros((n, width), dtype=bool)
    valid[rows, pos] = ok
    return x, lens, valid, present


def _scorable(lens, valid, present) -> np.ndarray:
    """Rows that are non-NULL and hold no NULL element."""
    in_len = np.arange(valid.shape[1])[None, :] < lens[:, None]
    return present & ~(in_len & ~valid).any(axis=1)


def _nearest(x, lens, scorable, cents, round_digits, keep=1) -> np.ndarray:
    """Indexes into the sorted (cid, cvec) rows ``cents`` of each row's
    ``keep`` nearest centroids, best first: an (n, min(keep, C)) array
    ordered by score DESC, then index ASC, so ties go to the first row
    of ``cents``. This is the one kernel that ranks centroids by cosine.

    The score is the SQL assignment fold's, exactly: dot and squared
    norm are sequential float64 folds from +0.0 (the Catalyst and DuckDB
    folds), the score is FLOOR(COALESCE(dot / (|v| |c|), -2) * 10^d +
    0.5) where a zero divisor, a NULL vector or component, or a length
    mismatch gives the -2 sentinel, and the floor converts to a long as
    Spark's does (saturating; NaN -> 0). ``_scores`` gets the fold's
    dot products at GEMM speed."""
    n = len(lens)
    kscale = float(10**round_digits)
    sentinel = math.floor(-2.0 * kscale + 0.5)
    groups = []
    for length in np.unique(lens[scorable]):
        ci = [
            j
            for j, (_c, cv) in enumerate(cents)
            if cv is not None and len(cv) == length and None not in cv
        ]
        if ci:
            cm = np.array([cents[j][1] for j in ci], dtype=np.float64)
            cm = cm.reshape(len(ci), length)
            groups.append((length, ci, cm, _norms(cm)))
    top = np.empty((n, min(keep, len(cents))), dtype=np.int64)
    # row chunks keep each (rows, centroids) block near 2 MiB
    step = max(1, (1 << 18) // len(cents))
    for lo in range(0, n, step):
        hi = min(n, lo + step)
        score = np.full((hi - lo, len(cents)), sentinel, dtype=np.int64)
        for length, ci, cm, nc in groups:
            r = np.flatnonzero(scorable[lo:hi] & (lens[lo:hi] == length))
            score[np.ix_(r, ci)] = _scores(x[lo + r, :length], cm, nc, kscale)
        if top.shape[1] == 1:
            top[lo:hi, 0] = score.argmax(axis=1)
        else:
            # ~s reverses the order without overflowing at the long minimum
            top[lo:hi] = np.argsort(~score, axis=1, kind="stable")[
                :, : top.shape[1]
            ]
    return top


def _scores(v, cm, nc, kscale) -> np.ndarray:
    """The quantized score of every (row of ``v``, row of ``cm``) pair,
    FLOOR(q(dot)) with q(t) = (t / den, or -2 where den = 0) * kscale +
    0.5, den = |v|·``nc`` and dot the sequential fold, computed from one
    GEMM ``v @ cm.T`` and re-folding only the pairs it cannot decide.

    Why the GEMM score is the fold's wherever it is kept: both sums add
    the same d products, so each lies within γ_d·A of the exact dot
    product, A = Σ|vᵢcᵢ|, γ_d = d·u / (1 - d·u), u = 2⁻⁵³, whatever the
    summation order, FMA included (Higham, Accuracy and Stability of
    Numerical Algorithms, §3.1), as long as nothing overflows;
    underflowing products add at most 2⁻¹⁰⁷⁵ each. So |g - fold| ≤
    2γ_d·A + d·2⁻¹⁰⁷⁴ for the GEMM's g. ``err`` is 8γ_d times the
    computed ``|v| @ |cm|.T`` (itself within γ_d·A of A) plus d·2⁻¹⁰⁷²:
    that covers the bound and the rounding of g ± err (at most u·(|g| +
    err), |g| ≤ (1 + γ_d)·A), so lo = fl(g - err) ≤ fold ≤ fl(g + err)
    = hi. Every step of q, the division by the same ``den``, the product
    with ``kscale`` and the +0.5, and the floor, is monotone
    non-decreasing under round-to-nearest; so where FLOOR(q(lo)) equals
    FLOOR(q(hi)) the fold's score is that value. Pairs where they
    differ (NaN included), or where g or 2·A is not finite (NaN or
    infinite components, overflow; below half the double range no
    partial sum of either order overflows), are re-folded one dimension
    at a time, as the SQL fold adds them."""
    d = v.shape[1]
    gamma = d * 2.0**-53 / (1.0 - d * 2.0**-53)
    with np.errstate(all="ignore"):
        den = _norms(v)[:, None] * nc[None, :]
        g = v @ cm.T
        mag = np.abs(v) @ np.abs(cm).T
        err = 8.0 * gamma * mag + d * 2.0**-1072
        lo = np.floor(_scaled(g - err, den, kscale))
        sure = lo == np.floor(_scaled(g + err, den, kscale))
        sure &= np.isfinite(g) & np.isfinite(2.0 * mag)
    s = _floor_long(lo)
    ri, cj = np.nonzero(~sure)
    if len(ri):
        acc = np.zeros(len(ri))
        with np.errstate(all="ignore"):
            for j in range(d):
                acc += v[ri, j] * cm[cj, j]
        s[ri, cj] = _floor_long(_scaled(acc, den[ri, cj], kscale))
    return s


def _scaled(dot, den, kscale) -> np.ndarray:
    """COALESCE(dot / den, -2) * kscale + 0.5, where a zero ``den`` is
    the SQL x / 0 = NULL."""
    with np.errstate(all="ignore"):
        return np.where(den == 0, -2.0, dot / den) * kscale + 0.5


def _norms(a: np.ndarray) -> np.ndarray:
    """Row norms: sqrt of the sequential fold of squares from +0.0."""
    acc = np.zeros(a.shape[0])
    with np.errstate(over="ignore", invalid="ignore"):
        for j in range(a.shape[1]):
            acc += a[:, j] * a[:, j]
    return np.sqrt(acc)


def _floor_long(a: np.ndarray) -> np.ndarray:
    """Spark FLOOR(double): Java's (long) cast of Math.floor, which
    saturates at the long range and maps NaN to 0."""
    f = np.floor(a)
    with np.errstate(invalid="ignore"):
        out = f.astype(np.int64)
        big = ~(np.abs(f) < 2.0**63)
    if big.any():
        fb = f[big]
        out[big] = np.where(
            fb > 0,
            np.iinfo(np.int64).max,
            np.where(fb < 0, np.iinfo(np.int64).min, 0),
        )
    return out


def _fsum(vals: list[float]) -> float:
    """Exact sum. fsum refuses +inf with -inf and intermediate overflow;
    those fall back to an IEEE sum in sorted, order-independent order."""
    try:
        return math.fsum(vals)
    except (ValueError, OverflowError):
        return sum(sorted(vals))


def _spark_round(x: float, digits: int) -> float:
    """Spark ROUND(double, d): HALF_UP on the shortest decimal repr; a
    zero result is +0.0, and NaN and infinities pass through."""
    if not math.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-digits), ROUND_HALF_UP, Context(prec=400)
    )
    return float(q) + 0.0


def semdedup_auto_k(
    n_vecs: int, target_cluster_size: int = 1024, k_min: int = 8
) -> int:
    """The k∝n contract, executable: enough clusters that the expected
    cluster holds ~``target_cluster_size`` vectors. With k fixed, the
    within-cluster GEMM is O(n²/k) — quadratic in corpus size (measured
    α=1.87 on the sf1→sf3 ladder, SCALE.md); with k = n/target it is
    O(n·target), linear. Floor of ``k_min`` keeps tiny corpora from
    degenerating to one cluster."""
    return max(k_min, n_vecs // target_cluster_size)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    n_iter: int = 2,
    threshold: float = 0.4,
    round_digits: int = 6,
    target_cluster_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus with
    deterministic Lloyd k-means, then compare vectors ONLY within their
    cluster and drop any vector that has a higher-priority (smaller-id)
    neighbor above the cosine threshold.

    Output: (id, cluster_id, keep) — keep=false marks semantic duplicates.

    Scale shape: clustering first is what makes semantic dedup tractable —
    the pairwise stage is grouped by cluster_id, so candidate work is
    sum(|cluster|^2) instead of |corpus|^2; k grows with the corpus
    (n/10k-ish in practice) keeping every cluster's matrix bounded. Each
    cluster's comparisons run as ONE vectorized numpy GEMM inside
    applyInPandas (Arrow-batched — measured ~10x over the equivalent
    self-join of interpreted per-pair cosine lambdas, same win as
    embedding_near_dup_pairs' blocked GEMM). The survivor rule (no
    smaller-id similar neighbor) is a greedy min-id policy: deterministic,
    one pass, no iteration to fixpoint — the same policy as
    exact_dup_groups' keep_id.

    ``k=None`` (the default) applies the k∝n contract via
    ``semdedup_auto_k`` — one count job, then k = max(8, n/target).
    Pass an explicit k only when reproducing a fixed clustering (the
    registry oracle pins k=8). Either way the clustering is
    ``kmeans``'s: with k∝n its assignment is O(n·k·d), which
    ``_nearest`` runs as one GEMM per batch with the fold's exact
    scores, so an auto k gets the same bits as the same k pinned.
    """
    if k is None:
        k = semdedup_auto_k(df.count(), target_cluster_size)
    assign = kmeans(df, id_col, vec_col, k, n_iter, round_digits).localCheckpoint(
        eager=False
    )
    v = df.select(F.col(id_col), F.col(vec_col)).join(assign, id_col)

    dup_ids = _cluster_dup_ids(v, id_col, vec_col, threshold, round_digits)
    return assign.join(dup_ids, id_col, "left").select(
        id_col,
        "cluster_id",
        F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
    )


def _cluster_dup_ids(
    v: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Within-cluster min-id duplicate detection shared by
    ``semantic_dedup`` and ``semantic_dedup_with_centroids``: over a
    (id, vec, cluster_id) relation, return the ids that have a
    SMALLER-id same-cluster neighbor at rounded cosine >= threshold
    (tagged ``__dup = true``). One vectorized GEMM per cluster inside
    applyInPandas; generic over the id column's type (the curation
    chain's day partitions carry STRING ids — numpy compares <U arrays
    elementwise just like int64, and the min-id survivor rule is the
    same lexicographic-vs-numeric ordering the exact-dedup window
    uses)."""

    id_type = v.schema[id_col].dataType.simpleString()

    def _cluster_dups(pdf):
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = (mat @ mat.T) / np.outer(norms, norms)
        # zero-norm vectors score nan -> never >= threshold (the oracle's
        # NULL-cosine comparison is false the same way)
        np.round(scores, round_digits, out=scores)
        # row i is a duplicate iff some column j with a smaller id scores
        # above threshold
        dup = ((scores >= threshold) & (ids[None, :] < ids[:, None])).any(axis=1)
        return pd.DataFrame({id_col: ids[dup]})

    return (
        v.groupBy("cluster_id")
        .applyInPandas(_cluster_dups, schema=f"{id_col} {id_type}")
        .withColumn("__dup", F.lit(True))
    )


def semantic_dedup_with_centroids(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_digits: int = 6,
) -> DataFrame:
    """``semantic_dedup`` routed to FIXED centroids (no training): assign
    each vector to its nearest centroid (``kmeans_assign`` — the fold
    path, bit-identical to the SQL oracle and generic over id type),
    then drop any vector with a smaller-id same-cluster neighbor above
    the cosine threshold. Output (id, cluster_id, keep), the
    ``semantic_dedup`` contract.

    This is the curation chain's semantic-dedup kernel: a pinned
    centroid relation (the ``semdedup_centroids`` warehouse triple, or
    the per-day ``kmeans_fit`` model) routes every day partition to the
    SAME cluster geometry, so day-over-day dedup decisions are
    comparable — the same reason ``incremental_semantic_dedup`` routes
    batches to the store's fitted centroids instead of re-training.

    Scale shape: assignment is one narrow numpy pass per Arrow batch
    (centroids are O(k) rows, read once to the driver: at most
    ``_MODEL_ROWS`` = 65,536, a larger ``cents`` raises TooManyRows
    before any pass); the pairwise stage is grouped by cluster —
    sum(|cluster|^2), never |corpus|^2."""
    assign = kmeans_assign(
        df, cents, id_col, vec_col, round_digits
    ).withColumnRenamed("cid", "cluster_id")
    v = df.select(F.col(id_col), F.col(vec_col)).join(assign, id_col)
    dup_ids = _cluster_dup_ids(v, id_col, vec_col, threshold, round_digits)
    return assign.join(dup_ids, id_col, "left").select(
        id_col,
        "cluster_id",
        F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
    )


def incremental_semantic_dedup(
    new_vecs: DataFrame,
    store: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup for INCREMENTAL ingest: route a new batch of embeddings to
    the corpus' existing k-means clusters (``cents`` from ``kmeans_fit``,
    broadcast — no re-training) and compare each new vector ONLY against
    same-cluster store vectors and earlier same-cluster batch vectors.

    ``store`` is the persisted corpus relation (id, vec, cluster_id) —
    at warehouse scale partitioned by cluster_id, so the per-cluster
    grouping below co-locates for free. Returns one row per new vector:
    (id, cluster_id, dup_of, score, status) with the same min-id survivor
    semantics as ``incremental_minhash_dedup``: dup_of is the smallest
    matching id among ALL matching store vectors and SMALLER-id batch
    vectors at rounded cosine >= threshold; status is 'unique' /
    'dup_of_store' / 'dup_in_batch'.

    Per-ingest cost: O(batch x k) assignment + per-affected-cluster GEMM
    (untouched clusters are pruned with a semi-join on the batch's
    cluster set) — never O(corpus).
    """

    batch_assign = kmeans_assign(
        new_vecs, cents, id_col, vec_col, round_digits
    ).withColumnRenamed("cid", "cluster_id")
    batch = (
        new_vecs.select(id_col, vec_col)
        .join(batch_assign, id_col)
        .localCheckpoint(eager=True)
    )
    affected = batch.select("cluster_id").distinct()
    store_part = store.select(id_col, vec_col, "cluster_id").join(
        F.broadcast(affected), "cluster_id", "left_semi"
    )
    tagged = store_part.withColumn("__side", F.lit("s")).unionByName(
        batch.withColumn("__side", F.lit("n"))
    )

    def _cluster_matches(pdf):
        import pandas as pd

        ids = pdf[id_col].to_numpy(dtype=np.int64)
        sides = pdf["__side"].to_numpy()
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        scores = (mat @ mat.T) / np.outer(norms, norms)
        np.round(scores, round_digits, out=scores)
        is_new = sides == "n"
        # row i (new) matches column j iff above threshold and j is a
        # store vector (any id) or an earlier (smaller-id) batch vector
        eligible = (sides == "s")[None, :] | (
            is_new[None, :] & (ids[None, :] < ids[:, None])
        )
        keep = (scores >= threshold) & eligible & is_new[:, None]
        np.fill_diagonal(keep, False)
        ai, bj = np.nonzero(keep)
        return pd.DataFrame(
            {
                "doc": ids[ai],
                "other": ids[bj],
                "score": scores[ai, bj],
                "other_store": (sides[bj] == "s"),
            }
        )

    matches = tagged.groupBy("cluster_id").applyInPandas(
        _cluster_matches,
        schema="doc long, other long, score double, other_store boolean",
    )
    best = (
        matches.groupBy("doc")
        .agg(
            F.min(
                F.struct(F.col("other"), F.col("score"), F.col("other_store"))
            ).alias("m")
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("m.other").alias("dup_of"),
            F.col("m.score").alias("score"),
            F.col("m.other_store").alias("__st"),
        )
    )
    return (
        batch.select(id_col, "cluster_id")
        .join(best, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            "dup_of",
            "score",
            F.when(F.col("dup_of").isNull(), F.lit("unique"))
            .when(F.col("__st"), F.lit("dup_of_store"))
            .otherwise(F.lit("dup_in_batch"))
            .alias("status"),
        )
    )
