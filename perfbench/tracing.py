"""Layer tracing for the benchmark's traced runs.

Spans are recorded from outside the package, by wrapping its public entry
points (Tracker/Monitor/Warehouse methods, the installed action callables,
the JSONL load, the Jobs API client and registry query calls). Each span
that can launch Spark work sets its own Spark job tag, so a job's cost is
attributed exactly to the spans that were open in the thread that launched
it (the innermost one and those enclosing it), even while other monitor
workers run jobs at the same time.
The tag is a SparkContext job tag (a thread-local property): unlike the
session tags of ``spark.addTag``, which only reach jobs run inside a SQL
execution, it also reaches the jobs Spark runs while building a
DataFrame, such as parquet schema inference. Spans stay in memory and are
written out once, when the run ends. Spans named ``bench.*`` are the
benchmark's own work (output checks); their jobs count in no layer and no
Spark total.

Untraced runs never construct a :class:`Tracer`, so they install nothing.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, replace

TAG_PREFIX = "pbspan-"
_TAG_RE = re.compile(r"pbspan-(\d+)$")

# Tracker methods that make up the tracker layer (every public method).
TRACKER_METHODS = (
    "add_job",
    "set_status",
    "set_detail",
    "heartbeat",
    "set_job_error",
    "get_status",
    "get_state",
    "job_count",
    "cleanup",
    "save",
)
WAREHOUSE_WRITES = ("append", "append_day", "overwrite_partitions")
WAREHOUSE_READS = ("read", "read_days", "read_partition")
_DELETED_RE = re.compile(r"deleted=(\d+)")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    job_key: str | None
    tagged: bool


@dataclass
class StageCost:
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def spark_jobs_since(spark, min_job_id: int) -> list[tuple[int, list[str], list[int], str]]:
    """(job id, tags, stage ids, call site) of every job with id >
    ``min_job_id`` still held by the status store."""
    store = spark._jsparkSession.sparkContext().statusStore()
    jobs = store.jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= min_job_id:
            continue
        tags = j.jobTags()
        stage_ids = j.stageIds()
        out.append(
            (
                j.jobId(),
                [tags.apply(k) for k in range(tags.size())],
                [stage_ids.apply(k) for k in range(stage_ids.size())],
                j.name(),
            )
        )
    return out


def max_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def stage_costs(spark, stage_ids: set[int]) -> dict[int, StageCost]:
    """Summed metrics of every attempt of the given stages."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = spark._jsparkSession.sparkContext().statusStore()
    empty = jvm.java.util.ArrayList()
    stages = store.stageList(empty, False, False, sc._gateway.new_array(jvm.double, 0), empty)
    out: dict[int, StageCost] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        if sid not in stage_ids:
            continue
        c = out.setdefault(sid, StageCost())
        c.task_s += s.executorRunTime() / 1000.0
        c.cpu_s += s.executorCpuTime() / 1e9
        c.gc_s += s.jvmGcTime() / 1000.0
        c.tasks += s.numCompleteTasks()
        c.shuffle_write_bytes += s.shuffleWriteBytes()
        c.spill_bytes += s.diskBytesSpilled()
        c.output_bytes += s.outputBytes()
    return out


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._restore: list[tuple[object, str, object]] = []
        self._untraced: dict[tuple[type, str], object] = {}
        self.untagged_sites: dict[str, int] = defaultdict(int)

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _tags(self) -> list[str]:
        tags = getattr(self._local, "tags", None)
        if tags is None:
            tags = self._local.tags = []
        return tags

    def call(self, name: str, fn, *args, job_key: str | None = None, tag: bool = True, **kw):
        """Run ``fn`` inside a span; with ``tag`` its Spark jobs carry the
        span's job tag."""
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._stack()
        parent = stack[-1] if stack else None
        stack.append(sid)
        tag_name = f"{TAG_PREFIX}{sid}"
        if tag:
            self.spark.sparkContext.addJobTag(tag_name)
            self._tags().append(tag_name)
        t0 = time.monotonic()
        try:
            return fn(*args, **kw)
        finally:
            t1 = time.monotonic()
            if tag:
                self._tags().pop()
                self.spark.sparkContext.removeJobTag(tag_name)
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, job_key, tag))

    def count(self, name: str, amount: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += amount

    # -- installing wrappers ------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def untraced(self, cls: type, attr: str):
        """The original (unwrapped) method, for the benchmark's own polling,
        so that it does not show up as load on the traced layer."""
        return self._untraced.get((cls, attr), getattr(cls, attr))

    def wrap_method(self, cls: type, attr: str, name: str, tag: bool = True) -> None:
        orig = getattr(cls, attr)
        self._untraced[(cls, attr)] = orig
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            return tracer.call(name, orig, *args, tag=tag, **kw)

        self._patch(cls, attr, wrapper)

    def install_layers(self) -> None:
        """Wrap the class-level entry points of tracker, monitor, warehouse
        and the JSONL load as ``table_ops`` calls it."""
        from etl_gardener_spark import table_ops
        from etl_gardener_spark.orchestrator.monitor import Monitor
        from etl_gardener_spark.orchestrator.tracker import Tracker
        from etl_gardener_spark.warehouse import Warehouse

        for m in TRACKER_METHODS:
            self.wrap_method(Tracker, m, f"tracker.{m}", tag=False)
        self.wrap_method(Monitor, "tick", "monitor.tick", tag=False)
        for m in WAREHOUSE_WRITES:
            self.wrap_method(Warehouse, m, f"warehouse.write.{m}")
        self.wrap_method(Warehouse, "delete_partition", "warehouse.delete")
        for m in WAREHOUSE_READS:
            self.wrap_method(Warehouse, m, f"warehouse.read.{m}")

        orig_load = table_ops.read_jsonl_observed
        tracer = self

        def read_jsonl_observed(*args, **kw):
            df, finish = orig_load(*args, **kw)

            def traced_finish():
                st = finish()
                tracer.count("load.rows", st.output_rows)
                tracer.count("load.input_bytes", st.input_bytes)
                tracer.count("load.corrupt_rows", st.corrupt_rows)
                return st

            return df, traced_finish

        self._patch(table_ops, "read_jsonl_observed", read_jsonl_observed)

        # Queries fan independent arms out to a thread pool; the pool's
        # threads carry the submitting span's tags and stack, so their
        # jobs are attributed to the query that launched them.
        from etl_gardener_spark import parallel
        from etl_gardener_spark.plans import queries_llm

        orig_run_jobs = parallel.run_jobs

        def run_jobs(thunks):
            stack, tags = list(self._stack()), list(self._tags())

            def carry(thunk):
                def run():
                    self._local.stack, self._local.tags = list(stack), list(tags)
                    for t in tags:
                        self.spark.sparkContext.addJobTag(t)
                    try:
                        return thunk()
                    finally:
                        for t in tags:
                            self.spark.sparkContext.removeJobTag(t)
                        self._local.stack, self._local.tags = [], []

                return run

            return orig_run_jobs([carry(t) for t in thunks])

        self._patch(parallel, "run_jobs", run_jobs)
        self._patch(queries_llm, "run_jobs", run_jobs)

    def instrument_monitor(self, monitor, tracker, layer_of) -> None:
        """Replace every installed action callable with a traced one.
        ``layer_of(state)`` names the span (e.g. ``actions.load``). The
        wrapper also records the monitor's dispatch wait (state entry to
        action start) and retries."""
        from etl_gardener_spark.orchestrator import job as J
        from etl_gardener_spark.orchestrator.curation import STAGE_ORDER, state_for
        from etl_gardener_spark.orchestrator.monitor import RetryError
        from etl_gardener_spark.orchestrator.tracker import Tracker

        get_status = self.untraced(Tracker, "get_status")
        tracer = self
        states = (J.LOADING, J.DEDUPLICATING, J.COPYING, J.DELETING, J.JOINING)
        for state in states + tuple(state_for(s) for s in STAGE_ORDER):
            action = monitor.get_action(state)
            if action is None or action.action is None:
                continue
            name = layer_of(state)
            fn = action.action

            def traced(job, _fn=fn, _name=name):
                key = job.key()
                st = get_status(tracker, key)
                if st is not None and st.history:
                    tracer.count("monitor.wait_s", time.time() - st.history[-1].start)
                try:
                    detail = tracer.call(_name, _fn, job, job_key=key)
                except RetryError:
                    tracer.count("monitor.retries")
                    raise
                m = _DELETED_RE.search(detail or "")
                if m:
                    tracer.count(f"{_name}.rows_deleted", int(m.group(1)))
                return detail

            monitor.add_action(replace(action, action=traced))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- reading the trace --------------------------------------------------

    def attribute(self, min_job_id: int) -> tuple[dict[str, dict], dict[str, float]]:
        """Spark cost per span name and the totals over every job launched
        after ``min_job_id``. A span name's cost covers the jobs that carry
        the tag of one of its spans, each stage counted once."""
        jobs = spark_jobs_since(self.spark, min_job_id)
        with self._lock:
            by_sid = {s.sid: s for s in self.spans}
        attributed = []
        for _jid, tags, sids, site in jobs:
            ids = [int(m.group(1)) for t in tags if (m := _TAG_RE.search(t))]
            ids = [i for i in ids if i in by_sid]
            if any(by_sid[i].name.startswith("bench.") for i in ids):
                continue
            attributed.append((ids, sids, site))
        costs = stage_costs(self.spark, {s for _i, sids, _s in attributed for s in sids})
        per_name: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        totals: dict[str, float] = defaultdict(float)
        totals["spark.jobs"] = len(attributed)
        totals["spark.stages"] = len(costs)
        for c in costs.values():
            totals["spark.tasks"] += c.tasks
            totals["spark.task_s"] += c.task_s
            totals["spark.cpu_s"] += c.cpu_s
            totals["spark.gc_s"] += c.gc_s
            totals["spark.shuffle_write_bytes"] += c.shuffle_write_bytes
            totals["spark.spill_bytes"] += c.spill_bytes
        untagged = 0
        stages_of: dict[str, set[int]] = defaultdict(set)
        for ids, sids, site in attributed:
            if not ids:
                untagged += 1
                self.untagged_sites[site] += 1
                continue
            for n in {by_sid[i].name for i in ids}:
                per_name[n]["spark_jobs"] += 1
                stages_of[n].update(sids)
        for n, sids in stages_of.items():
            for c in (costs[s] for s in sids if s in costs):
                per_name[n]["task_s"] += c.task_s
                per_name[n]["cpu_s"] += c.cpu_s
                per_name[n]["output_bytes"] += c.output_bytes
        totals["trace.untagged_jobs"] = untagged
        return per_name, totals

    def span_table(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total wall and self time (wall minus
        the part of it covered by child spans)."""
        with self._lock:
            spans = list(self.spans)
        by_sid = {s.sid: s for s in spans}

        def own(s: Span) -> bool:  # not the benchmark's own work
            while s is not None:
                if s.name.startswith("bench."):
                    return False
                s = by_sid.get(s.parent)
            return True

        spans = [s for s in spans if own(s)]
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        table: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in spans:
            covered = 0.0
            cur_end = s.start
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            row = table[s.name]
            row["calls"] += 1
            row["wall_s"] += s.end - s.start
            row["self_s"] += s.end - s.start - covered
        return table

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s.__dict__) + "\n")
