"""Warehouse layout and partition-grain table operations.

The reference addresses every write at the granularity of one BigQuery day
partition (``datatype$YYYYMMDD``, tracker/job.go:48-50) across three dataset
tiers per experiment — ``tmp`` (landing), ``raw`` (deduped archive), ``join``
(annotated) — see config/config.go:39-43. This module reproduces that
contract on Hive-partitioned Parquet:

    <root>/<tier>_<experiment>/<datatype>/date=YYYY-MM-DD/part-*.parquet

Partition-grain semantics on plain Parquet:

* **Replace one day** (BigQuery WriteTruncate + partition decorator,
  cloud/bq/ops.go:158-176) → :meth:`Warehouse.replace_partition`: the day
  is written to a staging directory outside the table, its row count is
  observed on that same write job, and the staged directory is swapped
  into place (delete + one same-FS rename, repaired after a crash by
  :func:`recover_staging` at start-up, and for one day by
  :meth:`Warehouse.recover_partition` when a retried op finds its input
  day missing). Other days are untouched, and an empty result drops the
  day. Every day rewrite goes through it: the pipeline chain (dedup,
  copy, join, curation) and upsert, compaction and clustering.
* **Replace the days present in a frame** → ``INSERT OVERWRITE`` with
  ``partitionOverwriteMode=dynamic`` (:meth:`Warehouse.overwrite_partitions`),
  for multi-day writes such as rollups and streaming sinks.
* **Read one day** → the day directory directly, with the schema Spark
  wrote into the first data file's parquet footer, so planning the read
  launches no schema-inference job. A day's row count is the sum of its
  footers' (:meth:`Warehouse.partition_rows`), also without a job.
* **Append a day** (BigQuery WriteAppend load, cloud/bq/ops.go:130-155) →
  ``mode("append")`` into the partitioned layout.
* **Drop one day** (table-partition delete, cloud/bq/ops.go:221-228) →
  remove the ``date=YYYY-MM-DD`` directory through the Hadoop FileSystem API
  (works for any Hadoop-compatible FS: local, HDFS, cloud object stores).

Scale notes (100 TB): per-day partitioning bounds every pipeline stage's
working set to one day of one datatype — the same isolation the reference
relies on for cost ("roughly proportional to the memory footprint of the
table partition", cloud/bq/ops.go:187-189). Reads always filter on the
``date`` partition column so Catalyst prunes to one directory; writes never
rewrite more than the day being processed. Days are independent, so a
backfill parallelizes across dates with zero write conflicts.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from datetime import date as Date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation

from etl_gardener_spark.functions.localrel import (
    TooManyRows,
    collect_bounded,
    local_df,
)
from etl_gardener_spark.parallel import run_jobs

DATE_COL = "date"


def _staged_path(partition_path: str, op: str) -> str:
    """Staging directory for a staged-write + atomic-swap, placed OUTSIDE
    the table tree (``<root>/_staging/<tier_exp>/<datatype>/...``): a
    crashed op's orphan must never break full-table reads while it waits
    for vacuum_staging. In-table placement is unsafe in two ways — the
    raw ``date=X.__op__`` name is scanned as data, and even an
    underscore-prefixed variant still feeds Spark's partition INFERENCE
    (its name contains ``=``), raising CONFLICTING_PARTITION_COLUMN_NAMES
    on the next table read. The final commit is still one same-FS rename.
    """
    head, date_part = partition_path.rsplit("/", 1)
    base, datatype = head.rsplit("/", 1)
    root, tierexp = base.rsplit("/", 1)
    return f"{root}/_staging/{tierexp}/{datatype}/{date_part}.__{op}__"


# Footer key under which Spark's parquet writer stores the row schema; a
# mergeSchema=false read infers the schema from exactly this value.
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"

# ``date=YYYY-MM-DD.__<op>__``: a staged day directory (see _staged_path)
_STAGED_NAME = re.compile(r"^date=[^/]+\.__\w+__$")


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.hadoop.fs.Path(path)


def _hadoop_fs(spark: SparkSession, path: str):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return _hadoop_path(spark, path).getFileSystem(hconf)


def _committed(spark: SparkSession, fs, staged) -> bool:
    """Whether the write into the staged directory (a Hadoop Path)
    committed: Spark's committer writes ``_SUCCESS`` last."""
    jvm = spark.sparkContext._jvm
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(staged, "_SUCCESS")))


def _swap_into_place(spark: SparkSession, staged: str, target: str) -> None:
    """Publish a committed staged directory as ``target``: make the
    parent, delete the old target, rename the staged directory into its
    place. A crash between the delete and the rename leaves the day's
    only copy in staging, where :func:`recover_staging` completes the
    swap. Hadoop's ``rename`` reports failure by returning False, so that
    is raised here: the op must fail, and the staged copy stays put.
    """
    fs = _hadoop_fs(spark, target)
    t = _hadoop_path(spark, target)
    fs.mkdirs(t.getParent())
    fs.delete(t, True)
    if not fs.rename(_hadoop_path(spark, staged), t):
        raise OSError(
            f"rename {staged} -> {target} failed; the staged copy is kept "
            "for recover_staging"
        )


def _data_files(spark: SparkSession, path: str) -> list:
    """FileStatus of every data file directly under ``path``: Spark's
    committer markers (``_SUCCESS``) and hidden files are not data."""
    fs = _hadoop_fs(spark, path)
    return [
        st
        for st in fs.listStatus(_hadoop_path(spark, path))
        if st.isFile() and not _hidden(st.getPath().getName())
    ]


def _hidden(name: str) -> bool:
    """Whether Spark's file index skips a file or directory of this name:
    hidden and underscore names (``_SUCCESS``, ``_temporary``,
    ``.spark-staging-*``), but not an ``_key=value`` partition."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _has_data(spark: SparkSession, path: str) -> bool:
    """Whether a table scan of ``path`` would find a data file: one at
    any depth, below no hidden directory, so a crashed writer's leftover
    staging files do not count. The walk stops at the first one."""
    fs = _hadoop_fs(spark, path)
    todo = [_hadoop_path(spark, path)]
    while todo:
        for st in fs.listStatus(todo.pop()):
            if _hidden(st.getPath().getName()):
                continue
            if st.isFile():
                return True
            todo.append(st.getPath())
    return False


def _open_footer(spark: SparkSession, status):
    """A ``ParquetFileReader`` over one data file; opening it reads the
    footer and nothing else. The caller closes it."""
    sc = spark.sparkContext
    parquet = sc._jvm.org.apache.parquet.hadoop
    return parquet.ParquetFileReader.open(
        parquet.util.HadoopInputFile.fromStatus(
            status, sc._jsc.hadoopConfiguration()
        )
    )


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The row schema Spark wrote into the footer of the first data file
    under ``path``, read on the driver (no Spark job). None when the
    directory holds no data file or the footer lacks Spark's key."""
    data = _data_files(spark, path)
    if not data:
        return None
    reader = _open_footer(spark, data[0])
    try:
        meta = reader.getFooter().getFileMetaData().getKeyValueMetaData()
        js = meta.get(_SPARK_SCHEMA_KEY)
    finally:
        reader.close()
    return T.StructType.fromJson(json.loads(js)) if js else None


def _footer_rows(spark: SparkSession, path: str) -> int:
    """Rows under ``path``, summed from its data files' footers on the
    driver (no Spark job; one footer read per file). Unlike an
    observation on a job that reads the day, the sum cannot count a row
    twice when Spark re-runs a shuffle-map stage after a lost executor."""
    total = 0
    for st in _data_files(spark, path):
        reader = _open_footer(spark, st)
        try:
            total += int(reader.getRecordCount())
        finally:
            reader.close()
    return total


def _counting(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed (``obs.get["n"]``) by the
    action that consumes it. Only an observation at the top of the
    action's plan, in its result stage, is exact: Spark applies a
    result task's metrics once, but re-applies a shuffle-map task's when
    it re-runs the stage."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _read_day(
    spark: SparkSession, path: str, day: Date, merge_schema: bool = False
) -> DataFrame:
    """One existing day directory with its ``date`` column restored.
    Without ``merge_schema`` the schema is the footer's
    (:func:`_footer_schema`), so planning runs no inference job; plain
    inference remains the fallback for files Spark did not write."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    else:
        schema = _footer_schema(spark, path)
        if schema is not None:
            reader = reader.schema(schema)
    return reader.parquet(path).withColumn(
        DATE_COL, F.lit(day.isoformat()).cast("date")
    )


@dataclass(frozen=True)
class Warehouse:
    """Three-tier warehouse rooted at ``root``.

    Mirrors the reference's dataset tiers (tracker/job.go:41-45): the unit of
    addressing is ``(tier, experiment, datatype, date)``, exactly the
    reference's Job key (tracker/job.go:28-45).
    """

    root: str

    def table_path(self, tier: str, experiment: str, datatype: str) -> str:
        return f"{self.root}/{tier}_{experiment}/{datatype}"

    def partition_path(
        self, tier: str, experiment: str, datatype: str, day: Date
    ) -> str:
        return f"{self.table_path(tier, experiment, datatype)}/{DATE_COL}={day.isoformat()}"

    # -- reads ------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        tier: str,
        experiment: str,
        datatype: str,
        merge_schema: bool = False,
        require_partition_filter: bool = False,
    ) -> DataFrame:
        """Read a table; ``merge_schema=True`` reconciles day partitions
        written with evolving schemas — added fields become NULL on old
        days (the reference's ALLOW_FIELD_ADDITION / ALLOW_FIELD_RELAXATION
        semantics, cloud/bq/ops.go:280-282). Off by default: schema merging
        reads every file footer, which is a metadata scan you only want
        when evolution actually happened.

        ``require_partition_filter=True`` is the thin API guard standing in
        for BigQuery's ``RequirePartitionFilter`` on the join table
        (cloud/bq/ops.go:283-287): it refuses the full-table read outright
        — callers must go through :meth:`read_partition` /
        :meth:`read_days`, which confine the file listing to the addressed
        days. On a 100k-partition table that guard is the difference
        between a per-query O(days-addressed) listing and an accidental
        O(table) scan.
        """
        if require_partition_filter:
            raise ValueError(
                f"table {tier}/{experiment}/{datatype} requires a partition "
                "filter: use read_partition(day) or read_days(start, end)"
            )
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(self.table_path(tier, experiment, datatype))

    def read_days(
        self,
        spark: SparkSession,
        tier: str,
        experiment: str,
        datatype: str,
        start: Date,
        end: Date,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read a contiguous day range [start, end] via the existing
        ``date=`` directories DIRECTLY — the range twin of
        :meth:`read_partition` (the reference's ``date BETWEEN DATE_SUB(d,
        INTERVAL 1 DAY) AND d`` annotation window, cloud/bq/ops.go:247).

        Listing and reading are confined to the addressed directories:
        concurrent jobs replacing sibling dates can never race this read,
        and planning cost is O(days in range), not O(partitions in table).
        Missing days are skipped (a day with no data contributes no rows).
        """
        from datetime import timedelta

        days = []
        d = start
        while d <= end:
            path = self.partition_path(tier, experiment, datatype, d)
            if self.path_exists(spark, path):
                days.append((d, path))
            d = d + timedelta(days=1)
        if not days:
            df = self.read(spark, tier, experiment, datatype, merge_schema)
            return df.filter(
                F.col(DATE_COL).between(start.isoformat(), end.isoformat())
            )
        parts = [_read_day(spark, path, d, merge_schema) for d, path in days]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=merge_schema)
        return out

    def read_partition(
        self, spark: SparkSession, tier: str, experiment: str, datatype: str, day: Date
    ) -> DataFrame:
        """One day of one datatype, read from its ``date=`` directory
        DIRECTLY — not via a table-root scan plus filter.

        Equivalent to the reference's universal ``WHERE date = "YYYY-MM-DD"``
        predicate (cloud/bq/ops.go:192,207,240), with one scale-critical
        difference: a root scan lists EVERY partition's files at planning
        time, so a concurrent job replacing a sibling date (dynamic
        overwrite deletes the old files after this listing) fails the read
        with FileNotFound. Reading the partition path confines both the
        listing and the read to this job's own date — sibling-date jobs
        can never interfere — and skips the full-table file listing a
        100k-partition table would otherwise pay per stage.

        The schema comes from the day's parquet footer (``_read_day``), so
        building the frame launches no Spark job.
        """
        path = self.partition_path(tier, experiment, datatype, day)
        if not self.path_exists(spark, path):
            # Missing partition: fall back to the pruned root scan, which
            # yields a correctly-typed empty frame when the table exists.
            # A table directory that holds no data file (its last day was
            # deleted) has no schema to infer: that day is an empty frame
            # of just the date column.
            table = self.table_path(tier, experiment, datatype)
            if self.path_exists(spark, table) and not _has_data(spark, table):
                return local_df(spark, [], f"{DATE_COL} date")
            df = self.read(spark, tier, experiment, datatype)
            return df.filter(F.col(DATE_COL) == F.lit(day.isoformat()).cast("date"))
        return _read_day(spark, path, day)

    # -- writes -----------------------------------------------------------

    def append(self, df: DataFrame, tier: str, experiment: str, datatype: str) -> None:
        """WriteAppend into the partitioned layout (load path, T1).

        NOT safe under concurrent appends to the SAME table from multiple
        jobs: partitionBy-append stages every writer under the one shared
        ``<table>/_temporary/0`` directory (Hadoop FileOutputCommitter),
        and parallel commits delete each other's task files. Single-day
        loads — the pipeline's actual T1 shape — must use
        :meth:`append_day`, whose staging lives inside the day directory.
        """
        (
            df.write.mode("append")
            .partitionBy(DATE_COL)
            .parquet(self.table_path(tier, experiment, datatype))
        )

    def append_day(
        self, df: DataFrame, tier: str, experiment: str, datatype: str, day: Date
    ) -> None:
        """WriteAppend one day of data directly into its ``date=`` directory.

        Concurrent-job safe: each (datatype, date) writes — and stages —
        under its own partition path, so a backfill fanning out the dates
        of one datatype never shares committer state (concurrent
        partitionBy-appends to one table root corrupt each other's
        ``_temporary`` staging; see :meth:`append`). The ``date`` column
        is carried by the directory name, exactly as the partitioned
        writer would lay it out, so readers see one consistent table.
        """
        (
            df.drop(DATE_COL)
            .write.mode("append")
            .parquet(self.partition_path(tier, experiment, datatype, day))
        )

    def overwrite_partitions(
        self, df: DataFrame, tier: str, experiment: str, datatype: str
    ) -> None:
        """Replace exactly the day partitions present in ``df`` (T2/T3/T5).

        Dynamic partition-overwrite is forced per-write via the writer
        option (effective regardless of the session's global conf), so only
        the ``date=`` directories present in ``df`` are replaced —
        equivalent to BigQuery's partition decorator + WriteTruncate
        (cloud/bq/ops.go:171, tracker/job.go:48-50).
        """
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(DATE_COL)
            .parquet(self.table_path(tier, experiment, datatype))
        )

    def replace_partition(
        self,
        spark: SparkSession,
        df: DataFrame,
        tier: str,
        experiment: str,
        datatype: str,
        day: Date,
        op: str,
    ) -> int:
        """Replace one day partition with the rows of ``df`` and return
        how many there are (T2/T3/T5 and the curation stages).

        ``df`` (its ``date`` column dropped: the directory carries it) is
        written to ``_staged_path(partition, op)``, its rows counted by an
        observation on that same write job, and the staged directory is
        swapped into place (:func:`_swap_into_place`). ``df`` may read the
        partition it replaces: the live files are untouched until the
        write has committed, so no pinning copy is needed. A zero-row
        result drops the day instead, so no stale or empty day is left
        behind. Readers of other days never see the write; a crash is
        repaired by :func:`recover_staging`, and re-running the op
        redoes it from scratch.
        """
        path = self.partition_path(tier, experiment, datatype, day)
        staged = _staged_path(path, op)
        out, obs = _counting(df.drop(DATE_COL))
        # mode overwrite clears any stale staged dir before the job runs
        out.write.mode("overwrite").parquet(staged)
        n = int(obs.get["n"])
        if n:
            _swap_into_place(spark, staged, path)
        else:
            _hadoop_fs(spark, staged).delete(_hadoop_path(spark, staged), True)
            self.delete_partition(spark, tier, experiment, datatype, day)
        return n

    def delete_partition(
        self, spark: SparkSession, tier: str, experiment: str, datatype: str, day: Date
    ) -> bool:
        """Drop one day partition (T4, cloud/bq/ops.go:221-228).

        Returns True if the partition existed. Metadata-only (a directory
        delete) — no data is read or shuffled, matching the reference's
        O(1) table-partition delete.
        """
        path = self.partition_path(tier, experiment, datatype, day)
        fs = _hadoop_fs(spark, path)
        p = _hadoop_path(spark, path)
        if not fs.exists(p):
            return False
        fs.delete(p, True)
        return True

    def cluster_partition(
        self,
        spark: SparkSession,
        tier: str,
        experiment: str,
        datatype: str,
        day: Date,
        sort_cols: list[str],
        n_files: int | None = None,
        zorder: bool = False,
    ) -> dict:
        """Sort-cluster one day partition on ``sort_cols`` (data layout):
        rewrite the day via ``repartitionByRange`` (globally disjoint key
        ranges across files) + ``sortWithinPartitions``, so every output
        file and every parquet row group carries tight, non-overlapping
        min/max statistics on the cluster key.

        With ``zorder=True`` (numeric ``sort_cols``, typically 2), rows
        are ordered along a Z-curve instead: each column is min/max
        scaled to 16 bits (bounds from one tiny aggregate) and the bits
        interleaved into one JVM-expression key — no UDF, no shuffle
        beyond the range partition itself. Files then hold compact
        MULTI-dimensional bounding boxes: a predicate on ANY of the
        z-ordered columns skips most files, where lexicographic sort
        helps only its leading column. This is the plain-Parquet analogue
        of Delta OPTIMIZE ZORDER.

        Why it matters at 100 TB: a point or range predicate on the
        cluster key then skips all but ~one file at the reader level
        (parquet row-group stats filtering) — without clustering, a key
        that appears all over the day forces a full-partition scan even
        with perfect partition pruning. This is the scan-side complement
        of compact_partition's file-count hygiene.

        Same staged-write + atomic-swap discipline as compact_partition:
        readers never observe a partial partition; rerunning is
        idempotent. Returns {files, rows, ranges} where ranges is the
        per-file (min, max) of the leading sort column (z-key order is
        not leading-column order under zorder) — callers and tests verify
        skipping potential directly from parquet footers.
        """
        import pyarrow.parquet as pq

        path = self.partition_path(tier, experiment, datatype, day)
        if not self.path_exists(spark, path):
            return {"files": 0, "rows": 0, "ranges": []}
        df = _read_day(spark, path, day).drop(DATE_COL)
        if n_files is None:
            total = sum(s.getLen() for s in _data_files(spark, path))
            n_files = max(1, -(-total // (128 * 1024 * 1024)))
        if zorder:
            bounds = df.agg(
                *[F.min(c).cast("double").alias(f"__min_{c}") for c in sort_cols],
                *[F.max(c).cast("double").alias(f"__max_{c}") for c in sort_cols],
            ).collect()[0]
            scaled = []
            for c in sort_cols:
                lo, hi = bounds[f"__min_{c}"], bounds[f"__max_{c}"]
                span = (hi - lo) or 1.0
                scaled.append(
                    F.least(
                        F.lit(65535),
                        F.floor(
                            (F.col(c).cast("double") - F.lit(lo))
                            / F.lit(span)
                            * 65536.0
                        ),
                    ).cast("long")
                )
            k = len(scaled)
            zbits = F.lit(0).cast("long")
            for bit in range(16):
                for j, s in enumerate(scaled):
                    # bit `bit` of column j lands at position bit*k + (k-1-j)
                    zbits = zbits.bitwiseOR(
                        F.shiftleft(
                            F.shiftright(s, bit).bitwiseAND(F.lit(1)),
                            bit * k + (k - 1 - j),
                        )
                    )
            df = df.withColumn("__z", zbits)
            clustered = (
                df.repartitionByRange(int(n_files), F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            clustered = df.repartitionByRange(
                int(n_files), *sort_cols
            ).sortWithinPartitions(*sort_cols)
        # Range boundaries come from reservoir sampling; the default 100
        # samples/partition leaves visible jitter in file bounding boxes.
        # 4x sampling costs microseconds per task and tightens boundaries.
        sample_conf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
        prev_sample = spark.conf.get(sample_conf, "100")
        spark.conf.set(sample_conf, "400")
        try:
            rows = self.replace_partition(
                spark, clustered, tier, experiment, datatype, day, "clustering"
            )
        finally:
            spark.conf.set(sample_conf, prev_sample)
        out = [s.getPath() for s in _data_files(spark, path)] if rows else []
        lead = sort_cols[0]
        ranges = []
        for op in out:
            local = op.toUri().getPath()
            md = pq.ParquetFile(local).metadata
            schema_names = md.schema.to_arrow_schema().names
            ci = schema_names.index(lead)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            if mins:
                ranges.append((min(mins), max(maxs)))
        return {"files": len(out), "rows": int(rows), "ranges": sorted(ranges)}

    def compact_partition(
        self,
        spark: SparkSession,
        tier: str,
        experiment: str,
        datatype: str,
        day: Date,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """OPTIMIZE-style small-file compaction of one day partition.

        A day that accumulated many appends (the reference's T1 loads one
        GCS listing per job, up to ~900k files/day per its metrics
        histogram, metrics/metrics.go:152-165) degrades every later scan:
        file-open overhead, tiny row groups, no effective column-statistics
        skipping. Compaction rewrites the partition into
        ceil(bytes / target) files via a staged write + atomic directory
        swap: readers of sibling days never see a partial partition, and
        the operation is idempotent (rerun compacts again or no-ops).

        Returns {files_before, files_after, bytes, rows} so an orchestrator
        action can threshold on files_before (skip already-compact days).
        """
        path = self.partition_path(tier, experiment, datatype, day)
        if not self.path_exists(spark, path):
            return {"files_before": 0, "files_after": 0, "bytes": 0, "rows": 0}
        statuses = _data_files(spark, path)
        files_before = len(statuses)
        total_bytes = sum(s.getLen() for s in statuses)
        n_out = max(1, -(-total_bytes // int(target_file_bytes)))
        # coalesce, not repartition: narrowing file count needs no shuffle
        rows = self.replace_partition(
            spark,
            _read_day(spark, path, day).coalesce(int(n_out)),
            tier,
            experiment,
            datatype,
            day,
            "compacting",
        )
        return {
            "files_before": files_before,
            "files_after": len(_data_files(spark, path)) if rows else 0,
            "bytes": int(total_bytes),
            "rows": int(rows),
        }

    def upsert_partition(
        self,
        spark: SparkSession,
        tier: str,
        experiment: str,
        datatype: str,
        day: Date,
        updates: DataFrame,
        key_cols: list[str],
    ) -> dict:
        """MERGE INTO one day partition: rows whose key matches an update
        are replaced, unmatched updates are inserted, everything else is
        untouched (upsert — the WriteTruncate-only reference cannot
        express this; it is the natural extension of T2/T3's
        replace-partition semantics to row-grain corrections).

        Plain Parquet has no row-level DML, so the merge is a rewrite of
        exactly one day: survivors = current LEFT ANTI updates on the key,
        then survivors ∪ updates, staged write + atomic directory swap
        (same crash-safety discipline as compact_partition — readers never
        observe a partial partition, rerunning the same merge is
        idempotent). Only the one partition's data is read or written; the
        anti-join broadcasts the (small) update key set, so the merge cost
        is one scan of one day regardless of table size.

        Returns {rows_before, n_updates, matched, inserted, rows_after}.
        """
        path = self.partition_path(tier, experiment, datatype, day)
        upd = updates.drop(DATE_COL)
        if not self.path_exists(spark, path):
            n = self.replace_partition(
                spark, upd, tier, experiment, datatype, day, "upserting"
            )
            return {
                "rows_before": 0,
                "n_updates": n,
                "matched": 0,
                "inserted": n,
                "rows_after": n,
            }
        cur = _read_day(spark, path, day).drop(DATE_COL)
        rows_before = _footer_rows(spark, path)
        keys = F.broadcast(upd.select(*key_cols).distinct())
        survivors = cur.join(keys, key_cols, "left_anti")
        merged = survivors.select(*cur.columns).unionByName(
            upd.select(*cur.columns)
        )
        n_updates = upd.count()
        rows_after = self.replace_partition(
            spark, merged, tier, experiment, datatype, day, "upserting"
        )
        matched = rows_before + n_updates - rows_after
        return {
            "rows_before": int(rows_before),
            "n_updates": int(n_updates),
            "matched": int(matched),
            "inserted": int(n_updates - matched),
            "rows_after": int(rows_after),
        }

    def save_bucketed(
        self,
        df: DataFrame,
        tier: str,
        experiment: str,
        datatype: str,
        bucket_cols: list[str],
        num_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Write a bucketed (and bucket-sorted) table; returns its catalog
        name. Buckets pre-partition the data by the join/agg key at WRITE
        time, so repeated joins and aggregations on that key run with ZERO
        hash exchanges — the shuffle is paid once, at load, instead of per
        query (asserted in tests/test_bucketing.py). This is the
        co-located-join strategy for fact tables that are joined on the
        same key constantly (e.g. id for the annotation join). Files land
        under the warehouse root (external table); the catalog carries the
        bucketing metadata Spark needs to elide the exchange.
        """
        name = f"{tier}_{experiment}__{datatype}"
        # Pre-shuffle onto the bucket key so each bucket is written by ONE
        # task: without this, every task emits its own file per bucket
        # (tasks x buckets small files — measured 514 files for 8 buckets
        # on a 32-thread write; 8 after).
        df = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        writer = (
            df.write.mode("overwrite")
            .option("path", self.table_path(tier, experiment, datatype) + "_bucketed")
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)
        return name

    def forget_keys(
        self,
        spark: SparkSession,
        tier: str,
        experiment: str,
        datatype: str,
        keys: DataFrame,
        key_col: str,
    ) -> dict:
        """Right-to-be-forgotten: remove every row whose ``key_col`` is in
        ``keys`` (a one-column key set), rewriting ONLY the day partitions
        that actually contain those keys.

        Two passes, both broadcast-joined against the (small) key set:

        1. **Locate** — one scan left-SEMI-joined to the keys finds the
           distinct affected dates (a days-sized driver list). Partitions
           without any target key are never rewritten — on a
           100k-partition table the deletion cost is O(partitions touched
           by the user), not O(table).
        2. **Rewrite** — exactly those day directories are re-read,
           LEFT ANTI-joined to the keys, and rewritten through
           :meth:`replace_partition`. A partition whose every row is
           forgotten is deleted outright, without a write job.

        Returns {"dates": [...], "rows_removed": N}. Idempotent: a rerun
        finds no affected dates. Deletion is physical (partition rewrite
        via the staged-write + swap discipline shared with
        compact/upsert — readers never observe a partial partition, and
        there is no self-overwrite read/write conflict), matching this
        warehouse's plain-parquet posture — no tombstone layer to leak
        the key.
        """
        key_df = keys.select(F.col(key_col)).distinct().localCheckpoint(
            eager=True
        )
        full = self.read(spark, tier, experiment, datatype)
        # One locate scan yields per-day totals AND per-day hit counts
        # (left join against the deduped key set cannot fan out), so the
        # rewrite loop below runs zero count jobs.
        marked = full.join(
            F.broadcast(key_df.withColumn("__hit", F.lit(1))), key_col, "left"
        )
        per_day = {
            r[0]: (r[1], r[2] or 0)
            for r in marked.groupBy(DATE_COL)
            .agg(F.count(F.lit(1)), F.sum("__hit"))
            .collect()
        }
        affected = sorted(d for d, (_, hits) in per_day.items() if hits > 0)
        if not affected:
            return {"dates": [], "rows_removed": 0}
        def _rewrite(day) -> None:
            total, hits = per_day[day]
            if hits == total:
                # every row forgotten: drop the partition outright, no
                # write job needed
                self.delete_partition(spark, tier, experiment, datatype, day)
                return
            kept = self.read_partition(
                spark, tier, experiment, datatype, day
            ).join(F.broadcast(key_df), key_col, "left_anti")
            self.replace_partition(
                spark, kept, tier, experiment, datatype, day, "forgetting"
            )

        # Days are independent partitions; rewrite several concurrently
        # (Spark job submission is thread-safe — same discipline as the
        # orchestrator's concurrent backfill days): each rewrite is one
        # small job, and FS swaps touch disjoint paths.
        run_jobs([lambda day=day: _rewrite(day) for day in affected])
        return {
            "dates": [str(d) for d in affected],
            "rows_removed": int(sum(per_day[d][1] for d in affected)),
        }

    def path_exists(self, spark: SparkSession, path: str) -> bool:
        fs = _hadoop_fs(spark, path)
        return bool(fs.exists(_hadoop_path(spark, path)))

    def partition_exists(
        self, spark: SparkSession, tier: str, experiment: str, datatype: str, day: Date
    ) -> bool:
        path = self.partition_path(tier, experiment, datatype, day)
        fs = _hadoop_fs(spark, path)
        return bool(fs.exists(_hadoop_path(spark, path)))

    def partition_rows(
        self, spark: SparkSession, tier: str, experiment: str, datatype: str, day: Date
    ) -> int:
        """Rows of one existing day, from its parquet footers
        (:func:`_footer_rows`, no Spark job)."""
        return _footer_rows(spark, self.partition_path(tier, experiment, datatype, day))

    def recover_partition(
        self, spark: SparkSession, tier: str, experiment: str, datatype: str, day: Date
    ) -> bool:
        """Whether one day exists, after finishing a swap of it that was
        cut between deleting the day and renaming its committed staged
        copy into place: :func:`recover_staging`'s completion rule, for
        one day. An op whose input day is missing asks this, not
        :meth:`partition_exists`. A swap that failed with a transient
        error is retried in the same process, long before the next
        start-up recovery, and reading the day as empty would drop every
        downstream day. A failed rename raises ``OSError`` and keeps the
        staged copy."""
        path = self.partition_path(tier, experiment, datatype, day)
        fs = _hadoop_fs(spark, path)
        target = _hadoop_path(spark, path)
        if fs.exists(target):
            return True
        staging = _hadoop_path(spark, _staged_path(path, "_")).getParent()
        if not fs.exists(staging):
            return False
        prefix = path.rsplit("/", 1)[1] + ".__"
        for st in fs.listStatus(staging):
            name = st.getPath().getName()
            if not (
                st.isDirectory()
                and name.startswith(prefix)
                and _STAGED_NAME.match(name)
                and _committed(spark, fs, st.getPath())
            ):
                continue
            if not fs.rename(st.getPath(), target):
                raise OSError(
                    f"rename {st.getPath()} -> {path} failed; the staged "
                    "copy is kept for recover_staging"
                )
            return True
        return False


def affected_dates(
    df: DataFrame, date_col: str = DATE_COL, *, max_dates: int = 1000
) -> list:
    """Distinct dates of a (late/incremental) batch, collected to the
    driver to address partition refreshes — with a CAP, mirroring
    ``require_partition_filter``'s role on the read side.

    The distinct-dates collect is the warehouse API's real refresh shape
    (see plans/queries.refresh_rollup_days): cost is O(affected days),
    which is fine precisely while "affected days" is a handful. A
    pathological batch (a replay that touches years of history, a
    corrupted timestamp column spraying dates across decades) would turn
    the downstream per-day rewrite into an unbounded driver loop, so the
    helper refuses above ``max_dates`` and tells the caller to use a
    full-table rebuild instead. The cap check collects at most
    ``max_dates + 1`` date values (``collect_bounded``: the limit runs on
    the executors, over the aggregated distinct relation).
    """
    try:
        rows = collect_bounded(
            df.select(date_col).distinct(), max_dates, "affected dates"
        )
    except TooManyRows as exc:
        raise ValueError(
            f"batch touches more than {max_dates} distinct {date_col!r} "
            "partitions; per-day refresh would be an unbounded driver "
            "loop — rebuild the derived table with a full overwrite, or "
            "raise max_dates deliberately"
        ) from exc
    return sorted(r[0] for r in rows)


def _staged_dirs(spark: SparkSession, root: str):
    """Yield ``(staged_status, target_path)`` for every staged day
    directory ``<root>/_staging/<tier_exp>/<datatype>/date=….__<op>__``
    (the layout of :func:`_staged_path`), whatever the op. Driver-side
    listing only, O(staged directories)."""
    fs = _hadoop_fs(spark, root)
    staging_root = _hadoop_path(spark, f"{root}/_staging")
    if not fs.exists(staging_root):
        return
    for tierexp in fs.listStatus(staging_root):
        if not tierexp.isDirectory():
            continue
        for datatype in fs.listStatus(tierexp.getPath()):
            if not datatype.isDirectory():
                continue
            for staged in fs.listStatus(datatype.getPath()):
                name = staged.getPath().getName()
                if not (staged.isDirectory() and _STAGED_NAME.match(name)):
                    continue
                date_part = name.split(".__", 1)[0]
                yield staged, (
                    f"{root}/{tierexp.getPath().getName()}/"
                    f"{datatype.getPath().getName()}/{date_part}"
                )


def vacuum_staging(spark: SparkSession, root: str, min_age_sec: float = 3600.0) -> list[str]:
    """Remove orphaned staging directories (``date=….__<op>__`` under
    ``<root>/_staging``, for any op) left behind when a staged write
    crashed between write and swap.

    Crash-safety of the staged-swap discipline means orphans are
    harmless — the live partition was never touched, and the next run of
    the same op deletes its own stale staging dir before writing — but
    they hold disk until someone sweeps. This is that sweep, the plain-
    Parquet analogue of Delta's VACUUM: driver-side directory listing
    only (no data read), age-gated so an in-flight op's staging dir
    (younger than ``min_age_sec``) is never yanked out from under it.
    Returns the deleted paths.

    Listing and deletion go through the Hadoop FS API like every other
    warehouse path operation, so the sweep works on hdfs:// / s3a://
    roots too (an os.walk sweep would silently no-op there).
    """
    import time as _time

    removed: list[str] = []
    now_ms = _time.time() * 1000.0
    fs = _hadoop_fs(spark, root)

    def _newest_mtime_ms(path) -> float:
        """Newest mtime anywhere in the staging tree: an in-flight write
        touches task files under _temporary/ without refreshing the top
        directory's own mtime, so the top-level stat alone would age-out
        a long-running op mid-write. Metadata-only listing, bounded by
        the staging dir's size."""
        try:
            newest = float(fs.getFileStatus(path).getModificationTime())
            for st in fs.listStatus(path):
                newest = max(newest, float(st.getModificationTime()))
                if st.isDirectory():
                    newest = max(newest, _newest_mtime_ms(st.getPath()))
            return newest
        except Exception:  # dir vanished (op just committed its swap)
            return float("inf")

    for staged, _target in _staged_dirs(spark, root):
        p = staged.getPath()
        if now_ms - _newest_mtime_ms(p) >= min_age_sec * 1000.0:
            fs.delete(p, True)
            removed.append(p.toUri().getPath())
    return removed


def recover_staging(spark: SparkSession, root: str) -> dict:
    """Complete or abort interrupted staged swaps after a crash — run at
    service startup, BEFORE serving reads or claiming jobs.

    The staged-swap protocol (stage under ``<root>/_staging``, then
    :func:`_swap_into_place`: ``delete(target); rename(staged, target)``)
    has one vulnerable window: a crash between the delete and the rename
    leaves the partition's ONLY copy in the staging dir — the table is
    missing a day, and a naive job retry reads the table, sees no rows
    for the day, and cannot restore it. This routine closes that window using
    the commit marker Spark's committer already writes:

    * staged dir has ``_SUCCESS`` and the target partition is MISSING —
      the crash hit the delete-to-rename window; the staged data is the
      complete committed result, so finish the swap (rename into place).
    * staged dir has ``_SUCCESS`` but the target still EXISTS — the
      crash hit after staging but before the delete; the pre-op
      partition is intact, so ABORT (delete the staged dir) and let the
      op-level retry redo the work against live data.
    * no ``_SUCCESS`` — a mid-write crash; the staged dir is garbage
      regardless of the target's state: abort.

    Idempotent and safe to run concurrently with vacuum_staging (which
    only touches age-expired dirs). Returns ``{"completed": [target...],
    "aborted": [staged...], "failed": [staged...]}``. Driver-side FS
    metadata ops only — no data is read or copied; the ``rename`` is the
    same single same-FS move the op itself would have done. Hadoop
    ``FileSystem.rename`` signals failure (permissions, missing target
    parent, cross-FS move) by returning FALSE rather than raising, so
    the return value is checked: a failed completion leaves the staged
    dir in place — it is the partition's only copy — and lands in
    ``failed`` for the operator to surface instead of being silently
    recorded as completed while the data stays stranded.
    """
    completed: list[str] = []
    aborted: list[str] = []
    failed: list[str] = []
    fs = _hadoop_fs(spark, root)
    for staged, target_path in _staged_dirs(spark, root):
        target = _hadoop_path(spark, target_path)
        if _committed(spark, fs, staged.getPath()) and not fs.exists(target):
            if fs.rename(staged.getPath(), target):
                completed.append(target.toUri().getPath())
            else:
                # rename reported failure: the staged dir still
                # holds the day's only copy — keep it and report.
                failed.append(staged.getPath().toUri().getPath())
        else:
            fs.delete(staged.getPath(), True)
            aborted.append(staged.getPath().toUri().getPath())
    return {"completed": completed, "aborted": aborted, "failed": failed}


def partition_report(
    spark: SparkSession, wh: Warehouse, tier: str, experiment: str, datatype: str
) -> list[dict]:
    """Maintenance report: one dict per day partition with file count,
    total bytes, and newest-file mtime (ms) — the input an orchestrator
    compaction action thresholds on (``files > N`` -> compact_partition;
    the reference's analogous signal is its files-per-date histogram,
    metrics/metrics.go:152-165).

    Pure Hadoop-FS metadata listing — no data read, no Spark job — so it
    costs O(partitions + files) namenode calls at any data size, and it
    works on hdfs:// / s3a:// roots like every other warehouse path op.
    """
    table = wh.table_path(tier, experiment, datatype)
    fs = _hadoop_fs(spark, table)
    tp = _hadoop_path(spark, table)
    if not fs.exists(tp):
        return []
    out: list[dict] = []
    for part in fs.listStatus(tp):
        name = part.getPath().getName()
        if not (part.isDirectory() and name.startswith(f"{DATE_COL}=")):
            continue
        files = [
            s
            for s in fs.listStatus(part.getPath())
            if s.isFile() and not s.getPath().getName().startswith("_")
        ]
        out.append(
            {
                "date": name.split("=", 1)[1],
                "n_files": len(files),
                "bytes": int(sum(s.getLen() for s in files)),
                "newest_mtime_ms": int(
                    max((s.getModificationTime() for s in files), default=0)
                ),
            }
        )
    return sorted(out, key=lambda r: r["date"])


def export_partition(
    spark: SparkSession,
    wh: Warehouse,
    tier: str,
    experiment: str,
    datatype: str,
    day: Date,
    out_path: str,
    fmt: str = "jsonl",
    single_file: bool = False,
) -> int:
    """Export one day partition to an interchange format (``jsonl`` /
    ``csv`` / ``orc`` / ``parquet``) — the outbound twin of the T1
    loaders, for handing data to systems that don't read the warehouse
    layout. Returns the exported row count (observed on the write job
    itself — no second scan).

    ``single_file=True`` coalesces to one output file (the common ask for
    a downstream consumer); leave False at scale so the export
    parallelizes like any other write.
    """
    from etl_gardener_spark.sources.jsonl import TIMESTAMP_FORMAT

    df, obs = _counting(
        wh.read_partition(spark, tier, experiment, datatype, day).drop(DATE_COL)
    )
    if single_file:
        df = df.coalesce(1)
    writer = df.write.mode("overwrite")
    if fmt == "jsonl":
        writer.option("timestampFormat", TIMESTAMP_FORMAT).json(out_path)
    elif fmt == "csv":
        writer.option("header", "true").option(
            "timestampFormat", TIMESTAMP_FORMAT
        ).csv(out_path)
    elif fmt == "orc":
        writer.orc(out_path)
    elif fmt == "parquet":
        writer.parquet(out_path)
    else:
        raise ValueError(f"unsupported export format {fmt!r}")
    return int(obs.get["n"])
