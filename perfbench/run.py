"""Pipeline benchmark for etl_gardener_spark.

    python3 perfbench/run.py --workload day_backfill --seed 1 --seconds 12 --trace 0

Runs one workload (see perfbench/README.md) from the root of a checkout:
lands the seeded inputs (cached per seed under .perfbench/), sets up
(SparkSession on local[<cores>], the workload's long-lived objects and one
warm-up pass), then repeats timed passes until ``--seconds`` have passed,
checking every pass's output against an expected result computed without
the program. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs untraced
passes for the first half of the window (at least one) and traced passes
for the second (at least one), and reports the per-layer metrics (Spark
cost attributed by job tag).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _environment() -> None:
    """Keep every file Spark and the JVM write inside the checkout and run
    Spark on every core this process may use."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.pop("OMP_NUM_THREADS", None)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every 250 ms."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2 :].split()
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, ()))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _adopt_orphans() -> None:
    """Make this process the child subreaper (Linux prctl), so that the
    Python workers the JVM forks come back to it, not to init, if they
    outlive the JVM, and stop_processes can wait for them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rfind(")") + 2 :].split()[1]) == me:
            kids.append(int(name))
    return kids


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, then the JVM that pyspark launched (``spark.stop()``
    leaves it running until this interpreter exits), then every process
    still under this one, and wait until each has ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # the JVM may already be gone
            print(f"perfbench: spark.stop failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        _reap()
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _spark():
    from etl_gardener_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        extra_conf={
            # keep every job and stage of a pass for tag attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def cpu_probe_ms() -> float:
    """Median time of a fixed single-threaded Python loop: a gauge of how
    fast the machine runs at this moment, printed with each run's figures
    (other tenants of a shared host move it)."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _per_layer(tracer, passes: int, traced_runs: list[float], untraced_runs: list[float], costs, totals, wl) -> dict:
    """Per-pass per-layer metrics from the spans and tagged Spark cost of
    the traced passes. Every workload reports the same names (0 where it
    does not reach a layer), plus the curation stages only it runs."""
    table = tracer.span_table()
    n = max(passes, 1)
    m: dict[str, float] = {}

    def spans(prefix):
        return [(k, v) for k, v in table.items() if k.startswith(prefix)]

    api = spans("api.")
    m["api.requests"] = sum(v["calls"] for _k, v in api) / n
    m["api.busy_s"] = sum(v["wall_s"] for _k, v in api) / n
    trk = spans("tracker.")
    m["tracker.calls"] = sum(v["calls"] for _k, v in trk) / n
    m["tracker.busy_s"] = sum(v["wall_s"] for _k, v in trk) / n
    tick = table.get("monitor.tick", {})
    m["monitor.ticks"] = tick.get("calls", 0) / n
    m["monitor.tick_s"] = tick.get("wall_s", 0.0) / n
    m["monitor.wait_s"] = tracer.counts.get("monitor.wait_s", 0.0) / n
    m["monitor.retries"] = tracer.counts.get("monitor.retries", 0.0) / n
    for layer, stages in (
        ("actions", ("load", "dedup", "copy", "delete", "join")),
        ("curation", curation_stages(wl)),
    ):
        for st in stages:
            name = f"{layer}.{st}"
            row, cost = table.get(name, {}), costs.get(name, {})
            m[f"{name}.wall_s"] = row.get("wall_s", 0.0) / n
            m[f"{name}.task_s"] = cost.get("task_s", 0.0) / n
            m[f"{name}.cpu_s"] = cost.get("cpu_s", 0.0) / n
            m[f"{name}.spark_jobs"] = cost.get("spark_jobs", 0.0) / n
            if layer == "curation":
                m[f"{name}.rows_deleted"] = tracer.counts.get(f"{name}.rows_deleted", 0.0) / n
    for k in ("load.rows", "load.input_bytes", "load.corrupt_rows"):
        m[k] = tracer.counts.get(k, 0.0) / n
    # warehouse: top-level calls only (its methods call one another)
    sids = {s.sid: s for s in tracer.spans}
    top = [
        s
        for s in tracer.spans
        if s.name.startswith("warehouse.")
        and not (s.parent in sids and sids[s.parent].name.startswith("warehouse."))
    ]
    writes = [s for s in top if s.name.startswith("warehouse.write.")]
    m["warehouse.writes"] = len(writes) / n
    m["warehouse.write_s"] = sum(s.end - s.start for s in writes) / n
    m["warehouse.delete_s"] = sum(s.end - s.start for s in top if s.name == "warehouse.delete") / n
    m["warehouse.files"] = tracer.counts.get("warehouse.files", 0.0) / n
    m["warehouse.bytes"] = sum(
        v.get("output_bytes", 0.0) for k, v in costs.items() if k.startswith("warehouse.write.")
    ) / n
    from perfbench.workloads import EmbSearch

    for q in EmbSearch.QUERIES:
        name = f"emb.{q}"
        row, cost = table.get(name, {}), costs.get(name, {})
        m[f"{name}.wall_s"] = row.get("wall_s", 0.0) / n
        m[f"{name}.task_s"] = cost.get("task_s", 0.0) / n
        m[f"{name}.cpu_s"] = cost.get("cpu_s", 0.0) / n
        m[f"{name}.spark_jobs"] = cost.get("spark_jobs", 0.0) / n
    for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s", "spark.gc_s",
        "spark.shuffle_write_bytes", "spark.spill_bytes", "trace.untagged_jobs",
    ):
        m[k] = totals.get(k, 0.0) / n
    m["trace.overhead_ratio"] = _median(traced_runs) / _median(untraced_runs)
    return m


def curation_stages(wl) -> tuple[str, ...]:
    """The webdocs chain, which the workloads in BENCHMARK.json run, then
    any further stage of the workload's own sources."""
    from perfbench.workloads import CURATION

    stages = CURATION["webdocs"][0]
    for source in getattr(wl, "SOURCES", ()):
        stages += tuple(st for st in CURATION[source][0] if st not in stages)
    return stages


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def _print_layer_table(tracer, passes: int) -> None:
    table = tracer.span_table()
    n = max(passes, 1)
    print(f"{'span':44s} {'calls':>8s} {'wall_s':>9s} {'self_s':>9s}  (per traced pass)")
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:44s} {row['calls'] / n:8.1f} {row['wall_s'] / n:9.3f} {row['self_s'] / n:9.3f}")
    for site, count in sorted(tracer.untagged_sites.items(), key=lambda kv: -kv[1]):
        print(f"untagged Spark jobs: {count / n:.1f} per pass at {site}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environment()
    # import the benchmark as a package from the checkout root, never its
    # modules from the script directory
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(os.path.abspath(__file__))]
    sys.path.insert(0, ROOT)
    try:
        import etl_gardener_spark  # noqa: F401 — the program under test
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload](WORK, args.seed)
    wl.prepare()  # seeded inputs + expected results, cached, never timed

    import signal

    def _terminated(signum, _frame):
        raise SystemExit(128 + signum)

    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, _terminated)
    _adopt_orphans()
    probe_before = cpu_probe_ms()
    spark = None
    try:
        with RssSampler() as rss:
            # set-up: the SparkSession, the workload's long-lived object and
            # one cold pass on the warm-up input (JIT, codegen, Python workers)
            t0 = time.monotonic()
            spark = _spark()
            session_s = time.monotonic() - t0
            wl.setup(spark)
            t1 = time.monotonic()
            warm = [wl.warm_up(spark)]
            warmup_s = time.monotonic() - t1
            setup_s = time.monotonic() - t0

            from perfbench.tracing import Tracer, max_job_id

            results, traced = [], []
            tracer = None
            costs: dict = {}
            totals: dict = {}
            t_start = time.monotonic()
            while True:
                elapsed = time.monotonic() - t_start
                # a traced run keeps at least one pass for the tracer
                if args.trace and tracer is None and results and (elapsed >= args.seconds / 2 or wl.passes_left() == 1):
                    tracer = Tracer(spark)
                    tracer.install_layers()
                    wl.attach(tracer)
                if (results or traced) and elapsed >= args.seconds and (traced or not args.trace):
                    break
                if not wl.passes_left():
                    break
                mark = max_job_id(spark)
                res = wl.run_pass(spark)
                if tracer is None:
                    results.append(res)
                    continue
                traced.append(res)
                per, tot = tracer.attribute(mark)
                for k, v in per.items():
                    agg = costs.setdefault(k, {})
                    for kk, vv in v.items():
                        agg[kk] = agg.get(kk, 0.0) + vv
                for k, v in tot.items():
                    totals[k] = totals.get(k, 0.0) + v
            if tracer is not None:
                tracer.uninstall()
                spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
                tracer.dump(spans_path)
    finally:
        try:
            wl.teardown()
        finally:
            stop_processes(spark)
    probe_after = cpu_probe_ms()

    every = warm + results + traced
    attempted = sum(r.attempted for r in every)
    failed = sum(r.failed for r in every)
    for r in every:
        for e in r.errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
    timed = results
    lat = [x for r in timed for x in r.latencies]
    run_s = [r.run_s for r in timed]
    rows_per_s = [r.rows / r.run_s for r in timed]
    print(
        f"workload={args.workload} seed={args.seed} passes={len(results)} traced_passes={len(traced)} "
        f"setup_s={setup_s:.2f} (session {session_s:.2f} + warm-up {warmup_s:.2f}) "
        f"peak_rss_mb={rss.peak_bytes / 2**20:.0f} run_s={['%.2f' % x for x in run_s]} "
        f"job_samples={len(lat)} rows_per_pass={timed[0].rows} "
        f"cpu_probe_ms={probe_before:.1f}/{probe_after:.1f}"
    )
    if args.trace and not traced:
        print("perfbench: the run ended before a traced pass", file=sys.stderr)
        return 1
    if args.trace:
        _print_layer_table(tracer, len(traced))
        layer = _per_layer(tracer, len(traced), [r.run_s for r in traced], run_s, costs, totals, wl)
        print(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
        metrics["peak_rss_mb"] = {"value": rss.peak_bytes / 2**20, "unit": "MiB"}
        metrics["rows_per_s"] = {"value": _median(rows_per_s), "unit": "rows/s"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": _median(run_s), "unit": "s"},
            "job_p50_s": {"value": _median(lat), "unit": "s"},
        }
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
            allow_nan=False,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
