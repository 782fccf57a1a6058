"""Persisted ANN index lifecycle — the build-once / search-many story
made concrete: the IVF corpus cells (similarity.ivf_build_cells), the
coarse-quantizer centroids (seeded or kmeans_fit-trained), and the PQ
code table (pq.pq_encode's (id, code_0..code_{m-1}) relation) saved as
parquet relations and loaded back for search, so index construction is
an AMORTIZED artifact (FAISS writes an index file; a Spark warehouse
writes index tables).

At 100 TB: the cells relation is (id, vector, cell) — same order as the
corpus, written partitioned on ``cell`` so a search's probed cells prune
to exactly nprobe/C of the files (partition pruning does the candidate
bounding that the probe test does in-memory); centroids are C rows;
PQ codes are m small ints per vector, joined to the cells by id once per
search. Rebuilds happen on corpus change, searches read only their
probed partitions.

Failure discipline (ADVICE r9): absence and failure are distinguishable.
``save_ann_index`` writes a ``_PARTS`` marker naming the parts it wrote;
``load_ann_index`` returns None ONLY for parts genuinely not written —
a part the marker promises but whose read fails raises, instead of
silently degrading a trained-quantizer search to the seeded fallback
(which would probe the wrong cells and collapse recall).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

CELLS = "cells"
CENTROIDS = "centroids"
CODES = "codes"
CODEBOOKS = "codebooks"
_PARTS_MARKER = "_PARTS"
_OPQ_MARKER = "_OPQ_R"


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return hpath.getFileSystem(hconf), hpath


def _write_marker(
    spark: SparkSession, index_dir: str, parts: dict[str, str]
) -> None:
    """v2 marker: one ``name\\tschema_json`` line per written part. The
    schema makes an EMPTY part round-trippable — parquet cannot infer a
    schema from a data-file-less directory (an empty corpus writes only
    _SUCCESS), so load reconstructs the empty relation from here."""
    fs, p = _fs_and_path(spark, os.path.join(index_dir, _PARTS_MARKER))
    out = fs.create(p, True)
    try:
        lines = ["v2"] + [f"{n}\t{s}" for n, s in parts.items()]
        # r10 advisor fix: writeBytes keeps only the low byte of each
        # char, so a non-ASCII column name in the schema JSON would
        # silently corrupt the marker. Write real UTF-8 bytes.
        payload = "\n".join(lines).encode("utf-8")
        out.write(bytearray(payload))
    finally:
        out.close()


def _read_marker(
    spark: SparkSession, index_dir: str
) -> dict[str, str | None] | None:
    """{part_name: schema_json_or_None}; None when no marker exists.
    v1 markers (bare part-name lines, pre-r10) parse with None schemas —
    their promised-part semantics are unchanged, they just cannot
    round-trip an empty part."""
    fs, p = _fs_and_path(spark, os.path.join(index_dir, _PARTS_MARKER))
    if not fs.exists(p):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        ).strip()
    finally:
        stream.close()
    lines = [ln for ln in text.splitlines() if ln]
    if lines and lines[0] == "v2":
        out: dict[str, str | None] = {}
        for ln in lines[1:]:
            name, _, schema = ln.partition("\t")
            out[name] = schema or None
        return out
    return {ln: None for ln in lines}


def _has_data_files(fs, hpath) -> bool:
    """True when the directory holds at least one parquet data file —
    distinguishes a legitimately EMPTY part (only _SUCCESS; reconstruct
    from the marker schema) from a corrupt/unreadable one (data present
    but the read failed; must raise)."""
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if name.endswith(".parquet"):
            return True
    return False


def save_ann_index(
    index_dir: str,
    cells: DataFrame,
    centroids: DataFrame | None = None,
    codes: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> None:
    """Write an index under ``index_dir``: cells/ (partitioned by cell —
    the pruning key), centroids/ (the quantizer, required to route
    future queries consistently), codes/ (optional PQ table), plus the
    ``_PARTS`` marker naming what was written (load uses it to tell
    absence from read failure)."""
    from etl_gardener_spark.parallel import run_jobs

    parts = {CELLS: cells.schema.json()}
    writes = [
        lambda: (
            cells.write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(index_dir, CELLS))
        )
    ]
    for name, df in (
        (CENTROIDS, centroids), (CODES, codes), (CODEBOOKS, codebooks)
    ):
        if df is not None:
            parts[name] = df.schema.json()
            writes.append(
                lambda name=name, df=df: df.write.mode("overwrite").parquet(
                    os.path.join(index_dir, name)
                )
            )
    # the part writes land in disjoint subdirectories — overlap the
    # write jobs (guide §2.6); the marker is written only after every
    # part committed, preserving the promise-only-what-exists contract
    run_jobs(writes)
    _write_marker(cells.sparkSession, index_dir, parts)


def load_ann_index(
    spark: SparkSession, index_dir: str
) -> dict[str, DataFrame | None]:
    """Read the index back: {'cells', 'centroids', 'codes',
    'codebooks'} (parts not written -> None). Cells come back with the
    partition column restored to its long type; pass them straight to
    ``cosine_topk_ivf(..., centroids=..., cells=...)``; ``codebooks``
    is a persisted ``pq_fit`` relation (s, cid, cvec) for
    ``pq_topk_trained(..., codebooks=...)``, which reads it to the
    driver once per call (at most 65,536 rows, ``_MODEL_ROWS``).

    A part the save-time ``_PARTS`` marker promises but that cannot be
    read (corrupt parquet, permissions, transient FS error) RAISES —
    callers must not fall back to a differently-trained quantizer on a
    broken index. Pre-marker indexes (no ``_PARTS``) keep the legacy
    existence-check behavior.
    """
    written = _read_marker(spark, index_dir)
    out: dict[str, DataFrame | None] = {}
    for name in (CELLS, CENTROIDS, CODES, CODEBOOKS):
        path = os.path.join(index_dir, name)
        fs, p = _fs_and_path(spark, path)
        if not fs.exists(p):
            if written is not None and name in written:
                raise FileNotFoundError(
                    f"index part '{name}' is recorded in {index_dir}/"
                    f"{_PARTS_MARKER} but missing on disk — refusing to "
                    "search a partial index"
                )
            out[name] = None
            continue
        try:
            df = spark.read.parquet(path)
        except AnalysisException:
            schema_json = written.get(name) if written is not None else None
            if schema_json is not None and not _has_data_files(fs, p):
                # legitimately EMPTY part (an empty corpus writes only
                # _SUCCESS — no footer to infer from): reconstruct the
                # empty relation from the marker's saved schema
                from pyspark.sql.types import StructType

                from etl_gardener_spark.functions.localrel import local_df

                df = local_df(
                    spark, [], StructType.fromJson(json.loads(schema_json))
                )
                out[name] = df if name != CELLS else df.select(
                    "neighbor_id", "c_vec",
                    F.col("cell").cast("long").alias("cell"),
                )
                continue
            if written is not None and name in written:
                raise
            # pre-marker index with an empty/garbage directory: legacy
            # behavior treated unreadable-as-absent
            out[name] = None
            continue
        if name == CELLS:
            df = df.select(
                "neighbor_id", "c_vec", F.col("cell").cast("long").alias("cell")
            )
        out[name] = df
    return out


# -- rebuild-on-corpus-change policy (r9 verdict "what's missing" 3) ------

_FPRINT_MARKER = "_CORPUS_FPRINT"


def corpus_fingerprint(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """Order-independent exact digest of an embedding corpus:
    ``n:<count>,x:<bit_xor of per-row xxhash64(id, vector)>``. One
    narrow scan, one map-side-combined aggregate — O(corpus) once per
    ensure call, no shuffle of the vectors (the per-row hash reduces
    each row to 8 bytes before the exchange). Any insert, delete, or
    vector edit changes the digest; row order and partitioning don't."""
    # r10 advisor fix: concat_ws skips NULL elements, so [1.0, NULL] vs
    # [1.0] (or NULL array vs empty array) hashed identically and the
    # rebuild policy missed the change. Hash the element COUNT too and
    # map NULL elements to a sentinel inside the transform.
    h = F.xxhash64(
        F.col(id_col),
        F.coalesce(F.size(F.col(vec_col)), F.lit(-1)),
        F.concat_ws(
            ",",
            F.transform(
                F.col(vec_col),
                lambda x: F.coalesce(x.cast("string"), F.lit("\x00null")),
            ),
        ),
    )
    row = (
        corpus.select(h.alias("__h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(__h)"), F.lit(0)).alias("x"),
        )
        .first()
    )
    return f"n:{int(row['n'])},x:{int(row['x'])}"


def ensure_ann_index(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    codes_builder=None,
) -> dict:
    """The index lifecycle in one call: load the index at ``index_dir``
    when its recorded corpus fingerprint matches the corpus at hand,
    REBUILD (cells via similarity.ivf_build_cells + the given or seeded
    centroids, optional codes via ``codes_builder(corpus)``) and save
    when it doesn't — the rebuild-on-corpus-change policy a persisted
    index needs to be trustworthy. Returns load_ann_index's dict plus
    ``rebuilt`` (bool) and ``fingerprint``.

    At 100 TB: the fingerprint check is one narrow corpus scan —
    vastly cheaper than an unconditional rebuild (cells assignment is
    O(n·C·d)) and the only sound alternative to trusting mtimes. A
    daily-ingest pipeline calls this once per batch landing; unchanged
    corpora load in index-file time."""
    from etl_gardener_spark.operators.similarity import (
        _resolve_cents,
        ivf_build_cells,
    )

    fp = corpus_fingerprint(corpus, id_col, vec_col)
    fs, marker = _fs_and_path(spark, os.path.join(index_dir, _FPRINT_MARKER))
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            jvm = spark.sparkContext._jvm
            recorded = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            ).strip()
        finally:
            stream.close()
        if recorded == fp:
            out = load_ann_index(spark, index_dir)
            # r10 advisor fix: a matching fingerprint with the index
            # parts (and _PARTS) deleted out-of-band legally loads as
            # all-None — an unusable "index". Only trust the load when
            # the structural parts actually came back; fall through to
            # the rebuild branch otherwise.
            if out[CELLS] is not None and out[CENTROIDS] is not None:
                out["rebuilt"] = False
                out["fingerprint"] = fp
                return out

    cents_df = _resolve_cents(corpus, id_col, vec_col, n_centroids, centroids)
    cells = ivf_build_cells(
        corpus, n_centroids=n_centroids, centroids=cents_df,
        id_col=id_col, vec_col=vec_col,
    )
    codes = codes_builder(corpus) if codes_builder is not None else None
    save_ann_index(index_dir, cells, centroids=cents_df, codes=codes)
    out_f = fs.create(marker, True)
    try:
        out_f.writeBytes(fp)
    finally:
        out_f.close()
    out = load_ann_index(spark, index_dir)
    out["rebuilt"] = True
    out["fingerprint"] = fp
    return out


# -- persisted OPQ rotation (the IndexPreTransform artifact) --------------


def save_opq_rotation(
    spark: SparkSession, index_dir: str, r_e6: list[list[int]]
) -> None:
    """Persist the learned rotation next to the index parts it was
    trained with (FAISS serializes the OPQMatrix inside the index file;
    a warehouse writes it as a tiny versioned artifact): one ``v1``
    line, one dim line, one comma-joined int64-micro row per line —
    integers end to end, so the round-trip is exact by construction."""
    fs, p = _fs_and_path(spark, os.path.join(index_dir, _OPQ_MARKER))
    out = fs.create(p, True)
    try:
        dim = len(r_e6)
        lines = ["v1", str(dim)] + [
            ",".join(str(int(v)) for v in row) for row in r_e6
        ]
        out.write(bytearray("\n".join(lines).encode("utf-8")))
    finally:
        out.close()


def load_opq_rotation(
    spark: SparkSession, index_dir: str
) -> list[list[int]] | None:
    """Read a persisted rotation back: None when genuinely absent (the
    index was built without a pretransform); a present-but-garbled
    marker RAISES — searching with a different rotation than the codes
    were built under silently destroys recall, the exact failure mode
    the absence-vs-failure discipline exists for."""
    fs, p = _fs_and_path(spark, os.path.join(index_dir, _OPQ_MARKER))
    if not fs.exists(p):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        ).strip()
    finally:
        stream.close()
    lines = text.splitlines()
    try:
        if not lines or lines[0] != "v1":
            raise ValueError(f"unknown rotation marker version: {lines[:1]}")
        dim = int(lines[1])
        rows = [[int(v) for v in ln.split(",")] for ln in lines[2 : 2 + dim]]
        if len(rows) != dim or any(len(r) != dim for r in rows):
            raise ValueError("rotation marker row/dim mismatch")
    except (ValueError, IndexError) as e:
        raise ValueError(
            f"corrupt OPQ rotation marker at {index_dir}/{_OPQ_MARKER}: {e}"
        ) from e
    return rows
