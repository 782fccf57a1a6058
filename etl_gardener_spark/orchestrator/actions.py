"""Standard action chain: the post-processing pipeline as Monitor Actions.

Reference: ops/actions.go — the chain wiring (:68-91):

    postProcessing → Loading   (pure transition, :23-27, 68-71)
    Loading        → Deduplicating  via LoadToTmp  (:267-312)
    Deduplicating  → Copying        via Dedup      (:173-202)
    Copying        → Deleting       via CopyToRaw  (:315-349)
    Deleting       → Joining        via DeleteTmp  (:352-368)
    Joining        → Complete       via Join, gated on the annotation2 jobs
                                    dated d-1 and d being Complete or
                                    absent (:31-54 gates on day d only);
                                    jobs with no join dataset
                                    short-circuit (:371-374)

Error classification (:97-138, 204-247): transient conditions map to the
Retry outcome (RetryError); schema-mismatch load warnings ("No such field:")
are tolerated; anything else fails the job.

Each action records the reference's job-statistics analogues in its detail
string (rows, files, elapsed — ops/actions.go:150-170, 290-309).
"""

from __future__ import annotations

from datetime import timedelta
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from etl_gardener_spark.orchestrator import job as J
from etl_gardener_spark.orchestrator import metrics
from etl_gardener_spark.orchestrator.monitor import Action, Monitor, RetryError
from etl_gardener_spark.orchestrator.tracker import Tracker
from etl_gardener_spark.table_ops import JobSpec, OpStats, TableOps
from etl_gardener_spark.warehouse import Warehouse

# Spark exceptions that indicate transient executor/FS trouble → Retry;
# AnalysisException (plan/schema errors) is permanent → Failed. The analogue
# of the reference's streaming-buffer-400 → Retry rule (ops/actions.go:101-110).
_TRANSIENT_MARKERS = (
    "FetchFailed",
    "ExecutorLostFailure",
    "Connection refused",
    "Connection reset",
    "Timeout",
)


def classify(exc: Exception) -> Exception:
    """Map an execution error to Retry or Failure (ops/actions.go:97-138)."""
    msg = str(exc)
    if any(m in msg for m in _TRANSIENT_MARKERS):
        return RetryError(msg[:500])
    return exc


def run_costed(
    spark: SparkSession, job: J.Job, query: str, fn: Callable[[], OpStats]
) -> OpStats:
    """Run a query-shaped op, classifying its errors, and record its
    slot-seconds analogue (the executor task time of exactly the Spark jobs
    it launched) in the reference's query_cost_seconds histogram
    (ops/actions.go:150-170)."""
    try:
        with metrics.spark_cost(spark) as cost:
            st = fn()
    except Exception as e:  # noqa: BLE001 — classified below
        raise classify(e) from e
    metrics.QUERY_COST.observe(job.datatype, query, value=cost.task_s)
    return st


class StandardActions:
    """Binds a SparkSession + Warehouse to the reference's action chain for
    a set of jobs sharing one landing root and one JSON schema resolver."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        landing_root: str,
        schema_for: Callable[[J.Job], T.StructType],
        tracker: Tracker,
    ):
        self.spark = spark
        self.wh = warehouse
        self.landing_root = landing_root
        self.schema_for = schema_for
        self.tracker = tracker

    def _ops(self, job: J.Job) -> TableOps:
        spec = JobSpec(
            experiment=job.experiment, datatype=job.datatype, date=job.date
        )
        return TableOps(self.spark, self.wh, spec)

    @staticmethod
    def _detail(st: OpStats) -> str:
        return (
            f"{st.op}: rows_out={st.rows_out} deleted={st.rows_deleted} "
            f"files={st.input_files} corrupt={st.corrupt_rows} "
            f"elapsed={st.elapsed_sec:.2f}s"
        )

    # -- per-state actions --------------------------------------------------

    def load(self, job: J.Job) -> str:
        prefix = f"{self.landing_root}/{job.prefix()}"
        try:
            st = self._ops(job).load_to_tmp(prefix, self.schema_for(job))
        except Exception as e:  # noqa: BLE001 — classified below
            raise classify(e) from e
        # files/bytes-per-date histograms (metrics/metrics.go:152-191;
        # recorded from LoadStatistics in ops/actions.go:290-309). Both
        # come from the ONE prefix listing the observed load already did —
        # at ~900k files/day a second recursive listing would double the
        # load's metadata I/O.
        metrics.FILES_PER_DATE.observe(
            job.experiment, job.datatype, value=st.input_files
        )
        metrics.BYTES_PER_DATE.observe(
            job.experiment, job.datatype, value=float(st.input_bytes)
        )
        return self._detail(st)

    def dedup(self, job: J.Job) -> str:
        st = run_costed(self.spark, job, "dedup", self._ops(job).dedup)
        return self._detail(st)

    def copy(self, job: J.Job) -> str:
        try:
            st = self._ops(job).copy_to_raw()
        except Exception as e:  # noqa: BLE001
            raise classify(e) from e
        return self._detail(st)

    def delete(self, job: J.Job) -> str:
        st = self._ops(job).delete_tmp()
        return self._detail(st)

    def join(self, job: J.Job) -> str:
        if not job.datasets.join:
            return "join skipped: no join dataset"  # actions.go:371-374
        st = run_costed(self.spark, job, "join", self._ops(job).join)
        return self._detail(st)

    def join_ready(self, job: J.Job) -> bool:
        """Join-dependency gate (ops/actions.go:31-54): the annotation2 jobs
        for the same (bucket, experiment) dated d-1 and d must each be
        Complete — or not tracked at all (absent = nothing to wait for).
        The reference waits for day d only; both days gate here because the
        join reads annotations dated d-1..d (TableOps.join)."""
        if not job.datasets.join:
            return True
        if job.datatype == "annotation2":
            return True
        for day in (job.date - timedelta(days=1), job.date):
            ann_key = J.Job(
                bucket=job.bucket,
                experiment=job.experiment,
                datatype="annotation2",
                date=day,
            ).key()
            st = self.tracker.get_status(ann_key)
            if st is not None and st.state != J.COMPLETE:
                return False
        return True

    # -- wiring (ops/actions.go:68-91) --------------------------------------

    def install(self, monitor: Monitor) -> None:
        monitor.add_action(
            Action(J.PARSE_COMPLETE, J.LOADING, None, None, "Changing state")
        )
        monitor.add_action(Action(J.LOADING, J.DEDUPLICATING, self.load))
        monitor.add_action(Action(J.DEDUPLICATING, J.COPYING, self.dedup))
        monitor.add_action(Action(J.COPYING, J.DELETING, self.copy))
        monitor.add_action(Action(J.DELETING, J.JOINING, self.delete))
        monitor.add_action(
            Action(J.JOINING, J.COMPLETE, self.join, self.join_ready)
        )
