"""Observability — Prometheus-compatible metrics without prometheus_client.

Reference: metrics/metrics.go:16-209. The same metric families are exposed
(started/completed/failed/warning counters, jobs gauge, tasks in flight,
state-date gauge, state-time / files / bytes histograms, query cost), with
the reference's names, so existing dashboards would keep working. The
exposition format is the Prometheus text format v0.0.4 — what
``promhttp.Handler`` serves — implemented in ~100 lines because
prometheus_client isn't available in this environment.

Spark analogue of "slot seconds": the executor task time of exactly the
Spark jobs an operation launched, read by :func:`spark_cost` and recorded
per query in ``QUERY_COST``.
"""

from __future__ import annotations

import threading
import uuid
from bisect import bisect_left
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

from py4j.protocol import Py4JJavaError


class _Labeled:
    """Base: one child per label-value tuple."""

    def __init__(self, name: str, help_: str, labels: tuple[str, ...] = ()):
        self.name = name
        self.help = help_
        self.label_names = labels
        self._lock = threading.Lock()
        REGISTRY.register(self)

    def _key(self, label_values: tuple) -> tuple:
        if len(label_values) != len(self.label_names):
            raise ValueError(
                f"{self.name}: expected labels {self.label_names}, got {label_values}"
            )
        return tuple(str(v) for v in label_values)

    @staticmethod
    def _fmt_labels(names, values) -> str:
        if not names:
            return ""
        inner = ",".join(f'{n}="{v}"' for n, v in zip(names, values))
        return "{" + inner + "}"


class Counter(_Labeled):
    def __init__(self, name, help_, labels=()):
        super().__init__(name, help_, labels)
        self._values: dict[tuple, float] = {}

    def inc(self, *label_values, amount: float = 1.0) -> None:
        k = self._key(label_values)
        with self._lock:
            self._values[k] = self._values.get(k, 0.0) + amount

    def value(self, *label_values) -> float:
        return self._values.get(self._key(label_values), 0.0)

    def expose(self) -> list[str]:
        out = [f"# HELP {self.name} {self.help}", f"# TYPE {self.name} counter"]
        for k, v in sorted(self._values.items()):
            out.append(f"{self.name}{self._fmt_labels(self.label_names, k)} {v}")
        return out


class Gauge(Counter):
    def set(self, *label_values, value: float) -> None:
        with self._lock:
            self._values[self._key(label_values)] = value

    def dec(self, *label_values, amount: float = 1.0) -> None:
        self.inc(*label_values, amount=-amount)

    def expose(self) -> list[str]:
        out = [f"# HELP {self.name} {self.help}", f"# TYPE {self.name} gauge"]
        for k, v in sorted(self._values.items()):
            out.append(f"{self.name}{self._fmt_labels(self.label_names, k)} {v}")
        return out


class Histogram(_Labeled):
    def __init__(self, name, help_, buckets: list[float], labels=()):
        super().__init__(name, help_, labels)
        self.buckets = sorted(buckets)
        self._counts: dict[tuple, list[int]] = {}
        self._sums: dict[tuple, float] = {}
        self._totals: dict[tuple, int] = {}

    def observe(self, *label_values, value: float) -> None:
        k = self._key(label_values)
        with self._lock:
            counts = self._counts.setdefault(k, [0] * len(self.buckets))
            # cumulative buckets: value counts toward every le >= value
            for j in range(bisect_left(self.buckets, value), len(self.buckets)):
                counts[j] += 1
            self._sums[k] = self._sums.get(k, 0.0) + value
            self._totals[k] = self._totals.get(k, 0) + 1

    def expose(self) -> list[str]:
        out = [f"# HELP {self.name} {self.help}", f"# TYPE {self.name} histogram"]
        for k in sorted(self._totals):
            for b, c in zip(self.buckets, self._counts[k]):
                lbl = self._fmt_labels(self.label_names + ("le",), k + (repr(b),))
                out.append(f"{self.name}_bucket{lbl} {c}")
            inf = self._fmt_labels(self.label_names + ("le",), k + ("+Inf",))
            out.append(f"{self.name}_bucket{inf} {self._totals[k]}")
            out.append(
                f"{self.name}_sum{self._fmt_labels(self.label_names, k)} {self._sums[k]}"
            )
            out.append(
                f"{self.name}_count{self._fmt_labels(self.label_names, k)} {self._totals[k]}"
            )
        return out


class Registry:
    def __init__(self):
        self._metrics: list[_Labeled] = []
        self._lock = threading.Lock()

    def register(self, m: _Labeled) -> None:
        with self._lock:
            self._metrics.append(m)

    def expose_text(self) -> str:
        lines: list[str] = []
        with self._lock:
            for m in self._metrics:
                lines.extend(m.expose())
        return "\n".join(lines) + "\n"


REGISTRY = Registry()

# -- The reference's metric families (metrics/metrics.go:16-209) ------------

STARTED = Counter(
    "gardener_started_total", "Number of date tasks started.", ("experiment", "datatype")
)
COMPLETED = Counter(
    "gardener_completed_total", "Number of date tasks completed.", ("experiment", "datatype")
)
FAILED = Counter(
    "gardener_failed_total", "Number of date tasks failed.", ("experiment", "datatype")
)
WARNINGS = Counter(
    "gardener_warning_total", "Warnings logged.", ("experiment", "datatype", "type")
)
JOBS_TOTAL = Gauge("gardener_jobs_total", "Number of jobs currently tracked.")
TASKS_IN_FLIGHT = Gauge(
    "gardener_tasks_in_flight", "Actions currently executing."
)
STATE_DATE = Gauge(
    "gardener_state_date", "Date (epoch sec) of the job in each state.",
    ("experiment", "datatype", "state"),
)
# Bucket ranges follow metrics/metrics.go:130-209 / ops/ops.go:46-60.
STATE_TIME = Histogram(
    "gardener_state_time_histogram", "Time spent in each state (sec).",
    [0.1, 1, 10, 60, 600, 3600, 4 * 3600, 12 * 3600], ("state",)
)
ACTION_DURATION = Histogram(
    "gardener_action_duration", "Action duration (sec).",
    [0.1, 1, 10, 100, 1000, 10000, 72000], ("action", "outcome")
)
FILES_PER_DATE = Histogram(
    "gardener_files", "Input files per date.",
    [1, 10, 100, 1000, 10000, 100000, 900000], ("experiment", "datatype")
)
BYTES_PER_DATE = Histogram(
    "gardener_bytes", "Input bytes per date.",
    [1e5, 1e6, 1e7, 1e8, 1e9, 1e10, 8e10], ("experiment", "datatype")
)
QUERY_COST = Histogram(
    "gardener_query_cost_seconds",
    "Executor task-seconds per query (slot-seconds analogue).",
    [1, 10, 100, 1000, 10000, 1e5, 1e6, 4.64e7], ("datatype", "query")
)


@dataclass
class SparkCost:
    """Executor cost of the Spark jobs launched inside one ``spark_cost``
    block: task time (``executorRunTime``), CPU time (``executorCpuTime``),
    and how many jobs and distinct stages they ran."""

    task_s: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0
    stages: int = 0


@contextmanager
def spark_cost(spark) -> Iterator[SparkCost]:
    """Measure the Spark work launched inside the block — the slot-seconds
    analogue (the reference records each job's BigQuery SlotMillis,
    ops/actions.go:150-170): task time is how long tasks occupied executor
    slots, which is exactly what a slot-second measures.

    The block runs under a unique SparkContext job tag. The tag is a
    thread-local property, so only jobs launched by this thread (and by
    threads that inherit its properties, e.g. ``parallel.run_jobs``) carry
    it; cost stays exact while other threads run actions concurrently. On a
    normal exit the listener bus is drained, then task and CPU time are
    summed over every attempt of every stage of the tagged jobs, each stage
    counted once. (Per-stage ``executorRunTime``, not
    ``ExecutorSummary.totalDuration``: on local-mode sessions that field
    reads executor uptime — SCALE.md "task-seconds metric" note.)

    The read is a driver-side status-store lookup costing O(the block's
    jobs); it launches no Spark job. The yielded :class:`SparkCost` is
    filled in on exit (left at zero if the block raises). Jobs evicted
    from the status store (``spark.ui.retainedJobs``) before the block
    ends are not counted.
    """
    sc = spark.sparkContext
    tag = f"gardener-cost-{uuid.uuid4().hex}"
    cost = SparkCost()
    sc.addJobTag(tag)
    try:
        yield cost
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Py4JJavaError:  # bus still busy after its 10 s wait: read what landed
        pass
    store = jsc.statusStore()
    job_ids = jsc.statusTracker().getJobIdsForTag(tag)
    stage_ids: set[int] = set()
    for job_id in job_ids:
        ids = store.job(job_id).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    jvm = sc._jvm
    any_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    task_ms = cpu_ns = 0
    for stage_id in stage_ids:
        attempts = store.stageData(stage_id, False, any_status, False, no_quantiles)
        for i in range(attempts.size()):
            a = attempts.apply(i)
            task_ms += a.executorRunTime()
            cpu_ns += a.executorCpuTime()
    cost.task_s = task_ms / 1000.0
    cost.cpu_s = cpu_ns / 1e9
    cost.jobs = len(job_ids)
    cost.stages = len(stage_ids)
