"""Deterministic sampling & dataset splitting for training pipelines:
hash-bucket train/val/test splits, per-stratum exact-fraction sampling,
and per-key deterministic top-n ("reservoir") sampling.

A training-data pipeline must never split or sample with RNG: reruns,
backfills, and incremental appends have to land every document in the
SAME split forever (else eval contaminates train on the next rebuild).
Everything here derives from md5 of the id — content-addressed, engine-
portable (DuckDB mirrors `conv(substr(md5(x),1,8),16,10)` with
`('0x' || substr(md5(x),1,8))::BIGINT`), and stable under repartitioning.

Scale posture: `hash_split` is a pure narrow projection — zero shuffle,
zero state, applies map-side at any corpus size. `stratified_sample`
shuffles once on the strata key (the same single window-exchange shape
as dedup_keep_best); per-stratum counts ride that window, so there is
no separate count pass. No RNG, no sampleBy (whose Bernoulli draws give
only approximate fractions and change membership per run).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_gardener_spark.functions.localrel import local_df

#: modulus for split bucketing — 1e6 buckets ≈ 0.0001% quantization of
#: requested fractions; the 32-bit md5 prefix is uniform over it.
SPLIT_MOD = 1_000_000


def hash_bucket(id_col: Column | str, mod: int = SPLIT_MOD) -> Column:
    """Uniform deterministic bucket in [0, mod): first 8 md5 hex chars of
    the id's string form, parsed as an integer. Content-addressed — the
    bucket is a pure function of the id, not of partitioning, row order,
    or session, so a document keeps its bucket across reruns and engines
    (DuckDB oracle: ``('0x' || substr(md5(CAST(id AS VARCHAR)),1,8))::
    BIGINT % mod``)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h32 = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return (h32 % F.lit(mod)).alias("bucket")


def split_thresholds(weights: Mapping[str, float], mod: int = SPLIT_MOD) -> list[tuple[str, int]]:
    """Cumulative upper bucket bounds (exclusive) per split label, in the
    mapping's order. Weights are normalized; the final bound is forced to
    ``mod`` so rounding never drops a bucket."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    bounds: list[tuple[str, int]] = []
    acc = 0.0
    for name, w in weights.items():
        acc += w / total
        bounds.append((name, int(round(acc * mod))))
    bounds[-1] = (bounds[-1][0], mod)
    return bounds


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic split label (train/val/test, any
    number of named fractions) from its id hash. Narrow projection — no
    shuffle, no action; Catalyst folds the CASE chain into the scan
    projection, so at 100 TB this costs one extra expression per row.

    The reference's pipeline has no train/test notion (it ships complete
    partitions); this is the extension a pretraining corpus needs on top:
    the split must survive backfills (reference parity concern: the same
    idempotent-rerun discipline as table_ops' partition swaps).
    """
    bucket = hash_bucket(id_col)
    expr: Column | None = None
    prev = 0
    for name, hi in split_thresholds(weights):
        cond = bucket < F.lit(hi) if prev == 0 else (bucket >= F.lit(prev)) & (
            bucket < F.lit(hi)
        )
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
        prev = hi
    assert expr is not None
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    strata: Sequence[str],
    frac: float,
    id_col: str,
    *,
    min_rows: int = 1,
) -> DataFrame:
    """EXACT-fraction deterministic sample per stratum: within each
    stratum, rank rows by (md5(id), id) and keep the first
    ``max(min_rows, ceil(frac * n))``. Unlike ``df.sampleBy`` (per-row
    Bernoulli: approximate counts, membership changes with the seed and
    with Spark's partition-RNG layout), membership here is a pure
    function of the data — append-only growth keeps previously-sampled
    ids sampled as long as their rank holds.

    One shuffle on the strata key; the per-stratum count rides the same
    window (count over unbounded frame), so no second aggregation pass.
    Skew note: a hot stratum bounds the window task; at 100 TB use the
    strata key's natural granularity (e.g. lang x source-shard) to keep
    per-stratum volumes bounded, exactly as dedup bounds by day.
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    ordk = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w = Window.partitionBy(*strata).orderBy(*ordk)
    wc = Window.partitionBy(*strata)
    out = (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(
            F.col("__rk")
            <= F.greatest(
                F.lit(min_rows), F.ceil(F.col("__n") * F.lit(float(frac)))
            )
        )
        .drop("__rk", "__n")
    )
    return out


def sample_cap_per_key(
    df: DataFrame, key: Sequence[str], n: int, id_col: str
) -> DataFrame:
    """Deterministic per-key cap ("reservoir of size n" without RNG): keep
    the n rows whose id-md5 ranks first within each key. rank<=n lets
    Spark's WindowGroupLimit push a bounded per-key heap below the
    shuffle — the at-scale shape for capping crawler domains or dedup
    clusters to a fixed contribution."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = Window.partitionBy(*key).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def mixture_sample(
    df: DataFrame,
    strat_col: str,
    target_shares: Mapping[str, float],
    id_col: str,
) -> DataFrame:
    """Deterministic corpus-mixture construction: downsample each stratum
    so the OUTPUT matches ``target_shares`` (a data-mixture spec, e.g.
    ``{"web": 0.6, "code": 0.3, "wiki": 0.1}``) at the largest feasible
    total size. Strata absent from the spec are excluded (share 0).

    The output size is maximal subject to availability: ``scale =
    min_s(n_s / share_s)`` and each stratum keeps
    ``floor(share_s * scale)`` rows, chosen by md5-of-id rank — so the
    result is a pure function of the data and the spec (reruns,
    repartitions, and engine swaps agree exactly; membership is stable
    like `stratified_sample`). ``id_col`` must be unique — it is both
    the ranking and the membership key.

    Fully distributed: per-stratum counts are a |strata|-row aggregate,
    the spec is a broadcast literal frame, the binding constraint is a
    one-row min over that tiny join, and quotas broadcast back onto the
    ranked stream — no driver collect. The ranking window runs over the
    NARROW (stratum, id) projection only — payload columns (document
    text, embeddings) never enter the rank sort's exchange — and
    membership rejoins by id afterward; at 100 TB the sorted shuffle
    carries ~24 bytes/row instead of whole documents (measured 2.3x
    task-time at bench sf0.1 for the wide-row variant).
    """
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    if any(v <= 0 for v in target_shares.values()):
        raise ValueError("target shares must be positive")
    spark = df.sparkSession
    targets = local_df(
        spark, sorted(target_shares.items()), [strat_col, "__share"]
    )
    in_spec = df.join(F.broadcast(targets), strat_col)
    counts = in_spec.groupBy(strat_col, "__share").agg(
        F.count(F.lit(1)).alias("__n")
    )
    scale = counts.agg(
        F.min(F.col("__n") / F.col("__share")).alias("__scale")
    )
    quota = counts.crossJoin(F.broadcast(scale)).select(
        strat_col,
        F.floor(F.col("__share") * F.col("__scale")).cast("long").alias("__quota"),
    )
    w = Window.partitionBy(strat_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    keep_ids = (
        in_spec.select(strat_col, id_col)
        .withColumn("__rk", F.row_number().over(w))
        .join(F.broadcast(quota), strat_col)
        .filter(F.col("__rk") <= F.col("__quota"))
        .select(id_col)
    )
    return df.join(keep_ids, id_col, "left_semi")


def dsir_scores(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n_buckets: int = 1024,
    keep_frac: float = 0.2,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
    arXiv:2302.03169): score every candidate document by the
    log-likelihood ratio of a hashed-n-gram bag-of-words model fit on a
    small TARGET set vs the candidate pool, then keep the top
    ``keep_frac`` — the standard cheap way to skew a web-scale corpus
    toward a quality/domain target without a trained classifier.

    Tokens hash to ``n_buckets`` md5 buckets (engine-portable, no RNG);
    per-bucket add-1-smoothed log weights ``ln p_t(b) - ln p_s(b)`` are
    doubles from an identical expression tree in both engines, quantized
    to integer micros ONCE (floor half-up); per-document scores are then
    exact integer sums — fold-order-free, so the induced ranking is
    bit-stable (the BM25 discipline).

    Scale shape: the bucket table is a ``n_buckets``-row aggregate of
    one exploded-token pass (map-side combined), broadcast back onto the
    candidate token stream; per-doc scores are one keyed shuffle; the
    exact global rank is `operators/rank.global_row_number` (range
    partition + broadcast offsets — no single-partition window at 1e9
    docs). Output: (id, n_toks, dsir_score, rank, selected).
    """
    from etl_gardener_spark.functions.text import ws_tokens
    from etl_gardener_spark.operators.rank import global_row_number

    bt = docs.select(
        F.col(id_col).alias("__doc"),
        is_target.alias("__t"),
        F.explode(ws_tokens(text_col)).alias("__tok"),
    ).select(
        "__doc",
        "__t",
        (
            F.conv(F.substring(F.md5("__tok"), 1, 15), 16, 10).cast("long")
            % n_buckets
        ).alias("__b"),
    )
    bc = bt.groupBy("__b").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("long").alias("__ct"),
        F.sum(F.when(F.col("__t"), 0).otherwise(1)).cast("long").alias("__cs"),
    )
    tot = bc.agg(
        F.sum("__ct").cast("long").alias("__nt"),
        F.sum("__cs").cast("long").alias("__ns"),
    )
    w_tab = bc.crossJoin(F.broadcast(tot)).select(
        "__b",
        F.floor(
            (
                F.log(
                    (F.col("__ct") + 1).cast("double")
                    / (F.col("__nt") + F.lit(n_buckets)).cast("double")
                )
                - F.log(
                    (F.col("__cs") + 1).cast("double")
                    / (F.col("__ns") + F.lit(n_buckets)).cast("double")
                )
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("__w"),
    )
    ds = (
        bt.filter(~F.col("__t"))
        .join(F.broadcast(w_tab), "__b")
        .groupBy("__doc")
        .agg(
            F.sum("__w").alias("__s"),
            F.count(F.lit(1)).cast("long").alias("n_toks"),
        )
    )
    # left join back so token-less candidates still rank (score 0)
    scored = (
        docs.filter(~is_target)
        .select(F.col(id_col).alias("__doc"))
        .join(ds, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.coalesce("n_toks", F.lit(0).cast("long")).alias("n_toks"),
            F.coalesce(F.col("__s"), F.lit(0)).cast("long").alias("__s"),
        )
    )
    ranked = global_row_number(
        scored, [F.col("__s").desc(), F.col(id_col).asc()], out_col="rank"
    )
    n_tot = scored.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return ranked.crossJoin(F.broadcast(n_tot)).select(
        id_col,
        "n_toks",
        (F.col("__s").cast("double") / F.lit(1e6)).alias("dsir_score"),
        F.col("rank").cast("long").alias("rank"),
        (F.col("rank") <= F.ceil(F.lit(keep_frac) * F.col("__n"))).alias(
            "selected"
        ),
    )
