"""The benchmark's workloads, driven through the package's public entry
points.

A workload is used in this order: ``prepare`` (seeded inputs, cached, never
timed), ``setup`` (build the long-lived objects on a SparkSession),
``warm_up`` (one pass on a small input), ``run_pass`` (one timed pass,
followed by its output check; may be called while ``passes_left()``),
``teardown``. Every pass returns a :class:`PassResult`.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import date, timedelta

from perfbench import inputs as I

# Monitor pacing, pinned short as in the package's end-to-end tests.
POLL_PERIOD_S = 0.05
RETRY_DELAY_S = 0.1
JOB_TIMEOUT_S = 100.0
# Timed passes a run can make; each pass processes fresh days.
MAX_PASSES = 3


@dataclass
class PassResult:
    run_s: float
    latencies: list[float]
    rows: int
    attempted: int
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def _fp_col(canon):
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.sha2(canon, 256), 1, 15), 16, 10).cast("decimal(38,0)")


def _data_files(root: str) -> int:
    """Data files in a warehouse (hidden and ``_``-prefixed files excluded)."""
    return sum(
        1 for _d, _sub, files in os.walk(root) for f in files if not f.startswith((".", "_"))
    )


def _load_or_build(path: str, build):
    """JSON at ``path``, built by ``build()`` on first use."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


# -- orchestrated workloads (Gardener + Jobs API) -----------------------------


class _Orchestrated:
    """Workloads whose jobs run through one long-lived Gardener. A
    simulated parser fetches every job of a pass through ``/v2/job/next``
    and reports ``postProcessing`` through ``/v2/job/update`` (Flask test
    client: one client, closed loop, no sockets); the Gardener's monitor
    then drives every job to a terminal state. The warm-up day comes first
    and each pass takes the next block of days, in the order the Jobs API
    hands them out."""

    name = ""
    DAYS_PER_PASS = 1

    def __init__(self, work: str, seed: int, small: bool = False):
        self.work = work
        self.seed = seed
        self.small = small
        self.tracer = None
        self.g = None
        self._passes = 0
        self.cache = os.path.join(work, "cache", f"{self.name}-{seed}{'-small' if small else ''}")
        self.landing = os.path.join(self.cache, "landing")

    # subclass hooks: config(start), schema_for(job), ready(job, state),
    # jobs_for(block), land(block) -> expected, check(...)

    def _day(self, block: int) -> date:
        """First day of a block: block 0 is the warm-up, block p is pass p."""
        return self.START + timedelta(days=block * self.DAYS_PER_PASS)

    def _expected(self, block: int) -> dict:
        return _load_or_build(
            os.path.join(self.cache, f"expected-{block}.json"), lambda: self.land(block)
        )

    def prepare(self) -> None:
        self._expected(0)
        self._expected(1)

    def setup(self, spark) -> None:
        from etl_gardener_spark.orchestrator.gardener import Gardener

        self.root = os.path.join(self.work, "run", f"{self.name}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.g = Gardener(
            spark,
            self.config(self._day(0)),
            warehouse_root=os.path.join(self.root, "wh"),
            landing_root=self.landing,
            schema_for=self.schema_for,
            state_dir=os.path.join(self.root, "state"),
            poll_period_sec=POLL_PERIOD_S,
            retry_delay_sec=RETRY_DELAY_S,
        )
        self.g.start()
        self.spark = spark

    def attach(self, tracer) -> None:
        self.tracer = tracer
        tracer.instrument_monitor(self.g.monitor, self.g.tracker, self.layer_of)

    def teardown(self) -> None:
        if self.g is not None:
            self.g.stop()
            # Gardener.stop does not join its daemon threads; the tracker
            # saver writes once more into the state dir before it ends
            for t in self.g._threads:
                t.join(timeout=10)
            self.g = None
        shutil.rmtree(self.root, ignore_errors=True)

    def warm_up(self, spark) -> PassResult:
        return self._drive(0)

    @staticmethod
    def layer_of(state: str) -> str:
        from etl_gardener_spark.orchestrator import job as J

        if state.startswith("curating:"):
            return "curation." + state.split(":", 1)[1]
        return {
            J.LOADING: "actions.load",
            J.DEDUPLICATING: "actions.dedup",
            J.COPYING: "actions.copy",
            J.DELETING: "actions.delete",
            J.JOINING: "actions.join",
        }.get(state, f"actions.{state}")

    def passes_left(self) -> int:
        return MAX_PASSES - self._passes

    def run_pass(self, spark) -> PassResult:
        self._passes += 1
        return self._drive(self._passes)

    def _drive(self, block: int) -> PassResult:
        from etl_gardener_spark.orchestrator import job as J
        from etl_gardener_spark.orchestrator.tracker import Tracker

        expected = self._expected(block)
        g = self.g
        get_status = self.tracer.untraced(Tracker, "get_status") if self.tracer else Tracker.get_status
        client = g.app.test_client()
        post = client.post
        if self.tracer is not None:
            post = lambda path, **kw: self.tracer.call(  # noqa: E731
                "api.request", client.post, path, tag=False, **kw
            )

        def state(key):
            st = get_status(g.tracker, key)
            return st.state if st is not None else None

        # a day without a source's files answers "no job"; ask again
        jobs, asks = [], 0
        while len(jobs) < self.jobs_for(block):
            r = post("/v2/job/next")
            asks += 1
            if r.status_code == 200:
                jobs.append(r.get_json())
            elif asks > 4 * self.jobs_for(block):
                raise RuntimeError(f"/v2/job/next -> {r.status_code}: {r.get_data(as_text=True)}")
        got = {j["date"][:10] for j in jobs}
        if got != set(expected["days"]):
            raise RuntimeError(f"Jobs API handed out days {sorted(got)}, expected {expected['days']}")
        pending = list(jobs)
        t_fetched = time.time()
        deadline = time.monotonic() + JOB_TIMEOUT_S
        while time.monotonic() < deadline:
            for j in list(pending):
                if self.ready(j, state):
                    r = post("/v2/job/update", data={"id": j["id"], "state": J.PARSE_COMPLETE})
                    if r.status_code != 200:
                        raise RuntimeError(f"/v2/job/update -> {r.status_code}")
                    pending.remove(j)
            if not pending and all(state(j["id"]) in J.TERMINAL_STATES for j in jobs):
                break
            time.sleep(0.01)
        # a job that did not complete counts with the time it took to fail,
        # or until the pass gave up on it
        gave_up = time.time()
        lat, starts, ends, failed, errors = [], [], [], 0, []
        for j in jobs:
            st = get_status(g.tracker, j["id"])
            hist = {si.state: si.start for si in st.history}
            t_in = hist.get(J.PARSE_COMPLETE)
            t_out = st.last().start if st.state in J.TERMINAL_STATES else gave_up
            if st.state != J.COMPLETE:
                failed += 1
                errors.append(f"{j['id']}: ended {st.state}: {st.last().detail[:300]}")
            if t_in is not None:
                starts.append(t_in)
                ends.append(t_out)
                lat.append(t_out - t_in)
        check = self.check
        if self.tracer is not None:
            check = lambda *a: self.tracer.call("bench.check", self.check, *a)  # noqa: E731
        bad = [] if failed else check(self.spark, g.warehouse_root, expected)
        if self.tracer is not None:
            self.tracer.count("warehouse.files", _data_files(g.warehouse_root))
        return PassResult(
            run_s=max(ends) - min(starts) if starts else gave_up - t_fetched,
            latencies=lat,
            rows=expected["input_rows"],
            attempted=len(jobs),
            failed=failed + min(len(bad), len(jobs) - failed),
            errors=errors + bad,
        )


# -- documents under curation (shared by both orchestrated workloads) ----------

WEB = "web"  # experiment of the document sources
CURATION = {
    "webdocs": (
        ("scrub", "quality_gate", "exact_dedup", "near_dedup"),
        (("bands", 4), ("jaccard_threshold", 0.5), ("min_quality", 0.25), ("num_hashes", 12)),
    ),
    "websem": (
        ("scrub", "quality_gate", "exact_dedup", "semantic_dedup"),
        (("min_quality", 0.25), ("semdedup_k", 8), ("semdedup_n_iter", 2), ("semdedup_threshold", 0.4)),
    ),
}


def _doc_source(datatype: str, daily_only: bool = False):
    from etl_gardener_spark.orchestrator.config import SourceConfig
    from etl_gardener_spark.orchestrator.job import Datasets

    stages, params = CURATION[datatype]
    return SourceConfig(
        bucket=I.BUCKET, experiment=WEB, datatype=datatype, full_history=True, daily_only=daily_only,
        datasets=Datasets(tmp="tmp_web", raw="raw_web", join="web"),
        curation=stages, curation_params=params,
    )


def _doc_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("parser", T.StructType([T.StructField("Time", T.TimestampType())])),
            T.StructField("text", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )


def _land_docs(wl: _Orchestrated, sf: str, block: int, datatypes: tuple[str, ...]) -> tuple[int, dict]:
    """Land the seed-permuted ``sf`` corpus as one day of JSONL per
    datatype on the block's first day; returns the rows landed and the
    expected survivors (the registry oracles)."""
    corpus = os.path.join(wl.cache, f"corpus-{sf}")
    if not os.path.exists(os.path.join(corpus, "embeddings.parquet")):
        I.corpus_copy(corpus, sf, wl.seed)
    rows = I.land_docs(corpus, wl.landing, wl.seed * 100 + block, wl._day(block), datatypes, WEB)
    return rows, _curation_oracle(wl.work, sf)


def _check_webdocs(spark, wh, day: date, want: list[int]) -> list[str]:
    """webdocs survivors = the curation-pipeline oracle's doc ids."""
    docs = wh.read_partition(spark, "join", WEB, "webdocs", day)
    got = sorted(r[0] for r in docs.select("id").collect())
    if got == want:
        return []
    return [
        f"webdocs survivors: {len(got)} ids vs oracle {len(want)} (missing "
        f"{sorted(set(want) - set(got))[:5]}, extra {sorted(set(got) - set(want))[:5]})"
    ]


class DayBackfill(_Orchestrated):
    """Days x {ndt7, annotation2} through Load -> Dedup -> Copy -> Delete ->
    Join -> Complete, and on the first day of each block the documents
    corpus as ``webdocs`` through the same chain and then its curation
    chain, all on one Gardener (monitor pool of 8 workers)."""

    name = "day_backfill"
    START = date(2024, 3, 1)
    DAY_IDS = (600, 1200, 2100, 3700)
    SMALL_IDS = (300,)
    WARM_IDS = (600,)

    def __init__(self, work, seed, small=False):
        self.day_ids = self.SMALL_IDS if small else self.DAY_IDS
        self.DAYS_PER_PASS = len(self.day_ids)
        self.sf = "sf0.01" if small else "sf0.1"
        super().__init__(work, seed, small)

    def _ids(self, block: int) -> tuple[int, ...]:
        if block:
            return self.day_ids
        return self.SMALL_IDS if self.small else self.WARM_IDS

    def jobs_for(self, block: int) -> int:
        return 2 * len(self._ids(block)) + 1

    def _day(self, block: int) -> date:
        # the warm-up block is one day, right before the first pass
        return self.START + timedelta(days=max(0, block - 1) * self.DAYS_PER_PASS + (block > 0))

    def land(self, block: int) -> dict:
        expected = I.land_days(self.landing, self.seed * 100 + block, self._day(block), self._ids(block))
        rows, oracle = _land_docs(self, self.sf, block, ("webdocs",))
        expected["input_rows"] += rows
        expected["webdocs"] = oracle["webdocs"]
        return expected

    def schema_for(self, job):
        from pyspark.sql import types as T

        if job.experiment == WEB:
            return _doc_schema()

        def struct(*fields):
            return T.StructType([T.StructField(n, t) for n, t in fields])

        ts = struct(("Time", T.TimestampType()))
        if job.datatype == I.ANN:
            net = struct(("ASNumber", T.LongType()))
            geo = struct(("CountryCode", T.StringType()), ("City", T.StringType()))
            return struct(
                ("id", T.StringType()),
                ("parser", ts),
                ("client", struct(("Geo", geo), ("Network", net))),
                ("server", struct(("Geo", struct(("CountryCode", T.StringType()))), ("Network", net))),
            )
        return struct(
            ("id", T.StringType()),
            ("parser", ts),
            ("a", struct(("MeanThroughputMbps", T.DoubleType()), ("MinRTT", T.DoubleType()))),
            ("raw", T.StringType()),
        )

    def config(self, start: date):
        from etl_gardener_spark.orchestrator.config import GardenerConfig, SourceConfig
        from etl_gardener_spark.orchestrator.job import Datasets

        # annotation2 first: the Jobs API hands out each day's annotation
        # job before its fact job. webdocs is landed on one day per block
        # only and the Jobs API skips the days without its files; daily_only
        # keeps the historical sweep, which would restart at the first day,
        # from filling in for a skipped job
        return GardenerConfig(
            start_date=start,
            sources=(
                SourceConfig(
                    bucket=I.BUCKET, experiment=I.EXPERIMENT, datatype=I.ANN, full_history=True,
                    daily_only=True, datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join=""),
                ),
                SourceConfig(
                    bucket=I.BUCKET, experiment=I.EXPERIMENT, datatype=I.FACT, full_history=True,
                    daily_only=True, datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join="ndt"),
                ),
                _doc_source("webdocs", daily_only=True),
            ),
        )

    @staticmethod
    def ready(job: dict, state) -> bool:
        """The parser reports a fact day only once the previous day's
        annotations are final: the join reads annotations dated d-1..d but
        the monitor's join gate only waits for day d."""
        from etl_gardener_spark.orchestrator import job as J

        if job["datatype"] != I.FACT:
            return True
        prev = date.fromisoformat(job["date"][:10]) - timedelta(days=1)
        prev_state = state(f"{job['bucket']}/{job['experiment']}/{I.ANN}/{prev:%Y%m%d}")
        return prev_state is None or prev_state in J.TERMINAL_STATES

    def check(self, spark, wh_root: str, expected) -> list[str]:
        """Raw and join partitions of the pass's days must match the
        generator's survivors exactly; their tmp partitions must be gone.
        The webdocs survivors must equal the curation oracle's."""
        from pyspark.sql import functions as F

        from etl_gardener_spark.warehouse import Warehouse

        wh = Warehouse(wh_root)
        days = expected["days"]
        first, last = date.fromisoformat(days[0]), date.fromisoformat(days[-1])
        us = F.unix_micros(F.col("parser.Time")).cast("string")
        asn = F.col("client.Network.ASNumber")
        tables = {
            I.FACT: ("raw", I.FACT, F.concat_ws("|", "id", us, "raw"), F.lit(0)),
            I.ANN: ("raw", I.ANN, F.concat_ws("|", "id", us, asn.cast("string")), F.lit(0)),
            "join": (
                "join",
                I.FACT,
                F.concat_ws("|", "id", us, F.coalesce(asn, F.lit(-1)).cast("string"), "raw"),
                F.col("client").isNull().cast("int"),
            ),
        }
        errors = []
        for name, (tier, datatype, canon, null) in tables.items():
            rows = (
                wh.read_days(spark, tier, I.EXPERIMENT, datatype, first, last)
                .groupBy("date")
                .agg(F.count(F.lit(1)).alias("n"), F.sum(_fp_col(canon)).alias("fp"), F.sum(null).alias("nulls"))
                .collect()
            )
            got = {r["date"].isoformat(): [r["n"], str(r["fp"]), r["nulls"]] for r in rows}
            for day, want in expected[name].items():
                have = got.get(day)
                if have is None or have[: len(want)] != want:
                    errors.append(f"{name} {day}: expected {want}, got {have}")
        for datatype in (I.FACT, I.ANN):
            for day in days:
                if os.path.exists(wh.partition_path("tmp", I.EXPERIMENT, datatype, date.fromisoformat(day))):
                    errors.append(f"tmp {datatype} {day} still present")
        return errors + _check_webdocs(spark, wh, first, expected["webdocs"])


class DocCuration(_Orchestrated):
    """One day of the documents corpus under two sources, each through the
    standard chain and then its curation chain on the same monitor."""

    name = "doc_curation"
    START = date(2024, 4, 1)
    SOURCES = ("webdocs", "websem")

    def __init__(self, work, seed, small=False):
        super().__init__(work, seed, small)
        self.sf = "sf0.01" if small else "sf0.1"

    def jobs_for(self, block: int) -> int:
        return len(self.SOURCES)

    def schema_for(self, job):
        return _doc_schema()

    def config(self, start: date):
        from etl_gardener_spark.orchestrator.config import GardenerConfig

        return GardenerConfig(start_date=start, sources=tuple(_doc_source(d) for d in self.SOURCES))

    @staticmethod
    def ready(job: dict, state) -> bool:
        return True

    def land(self, block: int) -> dict:
        """Both sources land the seed-permuted corpus, the warm-up day too:
        a smaller warm-up leaves plan compilation for the full-size
        partitions to the first timed pass."""
        rows, oracle = _land_docs(self, self.sf, block, self.SOURCES)
        return {"days": [self._day(block).isoformat()], "input_rows": rows, **oracle}

    def check(self, spark, wh_root: str, expected) -> list[str]:
        """webdocs survivors = the curation-pipeline oracle's doc ids;
        websem's scored survivors = the semdedup oracle's keep=true ids,
        and no keep=false id survives."""
        from pyspark.sql import functions as F

        from etl_gardener_spark.warehouse import Warehouse

        wh = Warehouse(wh_root)
        day = date.fromisoformat(expected["days"][0])
        errors = _check_webdocs(spark, wh, day, expected["webdocs"])
        sem = wh.read_partition(spark, "join", WEB, "websem", day)
        vec = F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        rows = sem.select("id", vec.alias("v")).collect()
        scored = sorted(r[0] for r in rows if r[1])
        if scored != expected["websem_keep"]:
            errors.append(
                f"websem scored survivors: {len(scored)} ids vs oracle keep=true {len(expected['websem_keep'])}"
            )
        leaked = {r[0] for r in rows} & set(expected["websem_drop"])
        if leaked:
            errors.append(f"websem: {len(leaked)} keep=false ids survived, e.g. {sorted(leaked)[:5]}")
        return errors


def _curation_oracle(work: str, sf: str) -> dict:
    """Expected survivor ids from the DuckDB oracles of the two curation
    compositions, over the bundled rung. Row order does not enter the
    oracle SQL, so one evaluation serves every seed's permutation."""

    def build():
        from etl_gardener_spark.plans import queries as Q

        corpus = os.path.join(I.DATA_DIR, sf)
        cols, docs = I.oracle_rows(corpus, Q.REGISTRY["corpus_curation_pipeline"].oracle)
        i = cols.index("doc_id")
        cols, sem = I.oracle_rows(corpus, Q.REGISTRY["corpus_curation_with_semdedup"].oracle)
        j, k = cols.index("doc_id"), cols.index("keep")
        return {
            "webdocs": sorted(r[i] for r in docs),
            "websem_keep": sorted(r[j] for r in sem if r[k]),
            "websem_drop": sorted(r[j] for r in sem if not r[k]),
        }

    return _load_or_build(os.path.join(work, "cache", f"oracle-curation-{sf}.json"), build)


# -- embedding fit / search ----------------------------------------------------


class EmbSearch:
    """The embedding fit and search chain as registry queries, one client
    calling them serially in a closed loop; each result is collected and
    checked against the query's DuckDB oracle (row count + value hash).
    ``emb_ann_topk_ivfpq_trained`` fits its coarse quantizer with k-means
    (operators.similarity), trains product-quantizer codebooks and
    searches (operators.pq). A pass makes CALLS_PER_PASS calls, so that
    ``job_p50_s`` is a median of like calls and ``run_s`` spans more than
    one call."""

    name = "emb_search"
    QUERIES = ("emb_ann_topk_ivfpq_trained",)
    CALLS_PER_PASS = 3

    def __init__(self, work, seed, small=False):
        self.work = work
        self.seed = seed
        self.sf = "sf0.01" if small else "sf0.1"
        self.tracer = None
        self.cache = os.path.join(work, "cache", f"{self.name}-{seed}")

    def _corpus(self, sf: str) -> str:
        corpus = os.path.join(self.cache, f"corpus-{sf}")
        if not os.path.exists(os.path.join(corpus, "embeddings.parquet")):
            I.corpus_copy(corpus, sf, self.seed)
        return corpus

    def _oracle(self, sf: str) -> dict:
        """(row count, value hash, columns) per query over the bundled rung;
        the oracle SQL does not depend on row order."""

        def build():
            from etl_gardener_spark.plans import queries as Q

            corpus = os.path.join(I.DATA_DIR, sf)
            exp = {}
            for q in self.QUERIES:
                cols, rows = I.oracle_rows(corpus, Q.REGISTRY[q].oracle)
                exp[q] = [len(rows), I.value_hash(rows, cols), sorted(cols)]
            return exp

        return _load_or_build(os.path.join(self.work, "cache", f"oracle-emb-{sf}.json"), build)

    def prepare(self) -> None:
        self.corpus, self.expected = self._corpus(self.sf), self._oracle(self.sf)

    def setup(self, spark) -> None:
        self.spark = spark

    def attach(self, tracer) -> None:
        self.tracer = tracer

    def teardown(self) -> None:
        pass

    def passes_left(self) -> int:
        return 1_000_000

    def _pass(self, corpus: str, expected: dict, calls: int = CALLS_PER_PASS) -> PassResult:
        import pyarrow.parquet as pq

        from etl_gardener_spark.plans import queries as Q

        lat, errors, failed = [], [], 0
        for q in self.QUERIES * calls:
            fn = Q.REGISTRY[q].fn

            def call(fn=fn):
                df = fn(self.spark, corpus)
                return df.columns, [tuple(r) for r in df.collect()]

            t0 = time.monotonic()
            try:
                if self.tracer is not None:
                    cols, out = self.tracer.call(f"emb.{q}", call)
                else:
                    cols, out = call()
            except Exception as e:  # noqa: BLE001 — a query that raises is a failed operation
                lat.append(time.monotonic() - t0)
                failed += 1
                errors.append(f"{q} raised {type(e).__name__}: {str(e)[:300]}")
                continue
            lat.append(time.monotonic() - t0)
            got = [len(out), I.value_hash(out, cols), sorted(cols)]
            if got != expected[q]:
                failed += 1
                errors.append(f"{q}: {len(out)} rows vs oracle {expected[q][0]}; value hash or columns differ")
        rows = pq.read_metadata(os.path.join(corpus, "embeddings.parquet")).num_rows
        return PassResult(
            run_s=sum(lat),
            latencies=lat,
            rows=rows * len(lat),
            attempted=len(lat),
            failed=failed,
            errors=errors,
        )

    def warm_up(self, spark) -> PassResult:
        # one call on the same input: the cold cost does not shrink with
        # the input, and a smaller one would leave plan compilation for
        # full-size inputs to the first timed pass
        return self._pass(self.corpus, self.expected, calls=1)

    def run_pass(self, spark) -> PassResult:
        return self._pass(self.corpus, self.expected)


WORKLOADS = {w.name: w for w in (DayBackfill, DocCuration, EmbSearch)}
