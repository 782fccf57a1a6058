"""TableOps — the reference's five per-job table operations, on Spark.

Reference: ``cloud/bq/ops.go`` defines a ``TableOps`` struct bound to one Job
(bucket, experiment, datatype, date) with methods LoadToTmp / Dedup /
CopyToRaw / DeleteTmp / Join, each submitting a BigQuery job. Here the same
five stages are DataFrame programs against a :class:`~.warehouse.Warehouse`:

    T1 LoadToTmp   read JSONL day prefix -> append tmp partition
                   (cloud/bq/ops.go:130-155)
    T2 Dedup       keep-best window over tmp partition -> replace it
                   (cloud/bq/ops.go:105-127, template 184-218)
    T3 CopyToRaw   tmp partition -> replace raw partition
                   (cloud/bq/ops.go:158-176)
    T4 DeleteTmp   drop tmp partition (cloud/bq/ops.go:221-228)
    T5 Join        raw ⟕ annotation window -> replace join partition
                   (cloud/bq/ops.go:256-295, template 234-253)

T2, T3 and T5 write through ``Warehouse.replace_partition``: one staged
write of the day, swapped into place, with the output row count observed
on that write job. T2's input row count is summed from the tmp day's
parquet footers, and a day's reads take their schema from the first
footer, so an op is its write job and nothing else: dedup 2 Spark jobs (the window's
shuffle), copy 1, join 2 (the annotation side and the write; 1 with no
annotation table).

Every op takes ``dry_run`` (T8, cloud/bq/ops.go:105-127): instead of
executing, it returns the formatted physical plan — the Spark analogue of
BigQuery's dry-run query validation, and what the integration tests assert
on (cloud/bq/ops_test.go:38-127).

Every op returns an :class:`OpStats` mirroring what the reference extracts
from BigQuery job statistics for metrics (ops/actions.go:150-170, 290-309:
SlotMillis, NumDMLAffectedRows, input files/bytes, output rows).

Idempotence & restartability: each stage is a pure function of its input
partition and replaces its output partition by a staged swap (repaired
after a crash by ``warehouse.recover_staging``), so a stage can be re-run
without double-applying — the property the reference gets from "no leases
survive restart" (ops/ops.go:33-40) plus WriteTruncate. An empty result
drops the output day, so a day that became empty leaves no stale
partition behind.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import date as Date
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_gardener_spark.operators.dedup import DedupSpec, active_spec, dedup_keep_best
from etl_gardener_spark.operators.join import join_annotate
from etl_gardener_spark.plans.explain import explain_str
from etl_gardener_spark.sources.jsonl import read_jsonl_observed
from etl_gardener_spark.warehouse import DATE_COL, Warehouse


@dataclass
class OpStats:
    """Per-op statistics, the Spark analogue of BigQuery job statistics the
    reference records (ops/actions.go:150-170, 290-309)."""

    op: str
    rows_out: int = 0
    rows_deleted: int = 0
    input_files: int = 0
    input_bytes: int = 0
    corrupt_rows: int = 0
    elapsed_sec: float = 0.0
    dry_run_plan: str | None = None
    detail: dict = field(default_factory=dict)


@dataclass(frozen=True)
class JobSpec:
    """One unit of work: all data for one datatype on one UTC day
    (reference Job, tracker/job.go:28-45)."""

    experiment: str
    datatype: str
    date: Date
    annotation_datatype: str = "annotation2"


class TableOps:
    """The five table operations bound to one JobSpec (cloud/bq/ops.go)."""

    def __init__(
        self,
        spark: SparkSession,
        wh: Warehouse,
        job: JobSpec,
        dedup_spec: DedupSpec | None = None,
    ):
        self.spark = spark
        self.wh = wh
        self.job = job
        if dedup_spec is None:
            try:
                dedup_spec = active_spec(job.datatype)
            except ValueError:
                # Same shape as every active datatype (cloud/bq/ops.go:74-79)
                dedup_spec = DedupSpec(
                    partition_keys={"id": "id"}, order_keys=[("parser.Time", False)]
                )
        self.dedup_spec = dedup_spec

    def _empty_day(self, src: str, dst: str) -> bool:
        """True when the job's day has no ``src`` partition: an earlier op
        dropped the day because it held no rows. The ``dst`` day is then
        dropped too, so a re-run whose result became empty leaves no
        stale output behind. A ``src`` day whose swap was cut after its
        delete is restored first (``Warehouse.recover_partition``): it is
        not empty, and taking it for empty would drop ``dst``."""
        j = self.job
        if self.wh.recover_partition(
            self.spark, src, j.experiment, j.datatype, j.date
        ):
            return False
        self.wh.delete_partition(self.spark, dst, j.experiment, j.datatype, j.date)
        return True

    # -- T1 ---------------------------------------------------------------

    def load_to_tmp(
        self, source_prefix: str, schema: T.StructType, dry_run: bool = False
    ) -> OpStats:
        """Append JSONL under ``source_prefix`` into the tmp day partition,
        stamping the job date (cloud/bq/ops.go:130-155; WriteAppend).

        Row/corrupt counts ride the write job itself (``df.observe``
        accumulators — sources/jsonl.read_jsonl_observed): ONE pass over
        the day's batch, no cache, matching how BigQuery's load job
        reports LoadStatistics as a side effect of the load.

        The dry-run path builds its plan WITHOUT the observation: an
        Observation registers a session-wide listener that only detaches
        after an action delivers its metrics, so observing a plan that
        is never executed would leak one listener per dry run on a
        long-lived session. (A write that raises leaks one too — bounded
        by the monitor's retry pacing, and the job fails loudly.)"""
        t0 = time.monotonic()
        if dry_run:
            from etl_gardener_spark.sources.jsonl import CORRUPT_COL, read_jsonl

            plan_df = (
                read_jsonl(self.spark, source_prefix, schema, drop_corrupt=False)
                .filter(F.col(CORRUPT_COL).isNull())
                .drop(CORRUPT_COL)
                .withColumn(
                    DATE_COL, F.lit(self.job.date.isoformat()).cast("date")
                )
            )
            return OpStats(op="load_to_tmp", dry_run_plan=explain_str(plan_df))
        df, finish = read_jsonl_observed(self.spark, source_prefix, schema)
        df = df.withColumn(DATE_COL, F.lit(self.job.date.isoformat()).cast("date"))
        # append_day, not append: jobs for different dates of one datatype
        # run concurrently and must not share committer staging state.
        self.wh.append_day(
            df, "tmp", self.job.experiment, self.job.datatype, self.job.date
        )
        load = finish()
        return OpStats(
            op="load_to_tmp",
            rows_out=load.output_rows,
            input_files=load.input_files,
            input_bytes=load.input_bytes,
            corrupt_rows=load.corrupt_rows,
            elapsed_sec=time.monotonic() - t0,
        )

    # -- T2 ---------------------------------------------------------------

    def dedup(self, dry_run: bool = False) -> OpStats:
        """Keep-best dedup of the tmp day partition, in place
        (cloud/bq/ops.go:105-127; template 184-218).

        Parquet has no in-place DELETE, so the survivors replace the day
        (``replace_partition``). ``rows_deleted`` mirrors
        NumDMLAffectedRows (ops/actions.go:160-165): the input count is
        summed from the tmp day's parquet footers and the output count
        rides the one write job.
        """
        j = self.job
        if not dry_run and self._empty_day("tmp", "tmp"):
            return OpStats(op="dedup")
        df = self.wh.read_partition(self.spark, "tmp", j.experiment, j.datatype, j.date)
        if dry_run:
            return OpStats(
                op="dedup", dry_run_plan=explain_str(dedup_keep_best(df, self.dedup_spec))
            )
        t0 = time.monotonic()
        before = self.wh.partition_rows(
            self.spark, "tmp", j.experiment, j.datatype, j.date
        )
        after = self.wh.replace_partition(
            self.spark,
            dedup_keep_best(df, self.dedup_spec),
            "tmp",
            j.experiment,
            j.datatype,
            j.date,
            "deduping",
        )
        return OpStats(
            op="dedup",
            rows_out=after,
            rows_deleted=before - after,
            elapsed_sec=time.monotonic() - t0,
        )

    # -- T3 ---------------------------------------------------------------

    def copy_to_raw(self, dry_run: bool = False) -> OpStats:
        """Replace the raw day partition with the tmp day partition
        (cloud/bq/ops.go:158-176; WriteTruncate on ``raw$YYYYMMDD``).

        A copy, not a move: tmp stays intact until DeleteTmp, so a crash
        between Copy and Delete loses nothing."""
        j = self.job
        if not dry_run and self._empty_day("tmp", "raw"):
            return OpStats(op="copy_to_raw")
        df = self.wh.read_partition(self.spark, "tmp", j.experiment, j.datatype, j.date)
        if dry_run:
            return OpStats(op="copy_to_raw", dry_run_plan=explain_str(df))
        t0 = time.monotonic()
        rows = self.wh.replace_partition(
            self.spark, df, "raw", j.experiment, j.datatype, j.date, "copying"
        )
        return OpStats(op="copy_to_raw", rows_out=rows, elapsed_sec=time.monotonic() - t0)

    # -- T4 ---------------------------------------------------------------

    def delete_tmp(self) -> OpStats:
        """Drop the tmp day partition (cloud/bq/ops.go:221-228)."""
        t0 = time.monotonic()
        existed = self.wh.delete_partition(
            self.spark, "tmp", self.job.experiment, self.job.datatype, self.job.date
        )
        return OpStats(
            op="delete_tmp",
            detail={"existed": existed},
            elapsed_sec=time.monotonic() - t0,
        )

    # -- T5 ---------------------------------------------------------------

    def join(self, dry_run: bool = False) -> OpStats:
        """Materialize the annotated table for the day
        (cloud/bq/ops.go:256-295; template 234-253).

        raw.<datatype> at date=d  ⟕  raw.annotation2 over [d-1, d], USING(id),
        into the join dataset's day partition (WriteTruncate). Jobs with no
        join dataset configured short-circuit upstream
        (ops/actions.go:371-374).
        """
        j = self.job
        if not dry_run and self._empty_day("raw", "join"):
            return OpStats(op="join")
        fact = self.wh.read_partition(self.spark, "raw", j.experiment, j.datatype, j.date)
        ann_path = self.wh.table_path("raw", j.experiment, j.annotation_datatype)
        if self.wh.path_exists(self.spark, ann_path):
            # date BETWEEN d-1 AND d (ops.go:247), read via the day
            # directories directly — listing confined to the two days.
            ann = self.wh.read_days(
                self.spark,
                "raw",
                j.experiment,
                j.annotation_datatype,
                j.date - timedelta(days=1),
                j.date,
            )
            out = join_annotate(fact, ann, on="id", leading=["date", "parser"])
        else:
            # Annotation table absent: the join gate admits this case
            # (ops/actions.go:31-54 — "or absent"); materialize the fact
            # partition unannotated rather than failing the job.
            out = fact
        if dry_run:
            return OpStats(op="join", dry_run_plan=explain_str(out))
        t0 = time.monotonic()
        rows = self.wh.replace_partition(
            self.spark, out, "join", j.experiment, j.datatype, j.date, "joining"
        )
        return OpStats(op="join", rows_out=rows, elapsed_sec=time.monotonic() - t0)
