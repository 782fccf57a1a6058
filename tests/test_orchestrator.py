"""Orchestration-layer tests, mirroring the reference's test strategy
(SURVEY.md §5): iterator semantics with a fake clock
(job-service/iterators_test.go:36-285), tracker CRUD + persistence
round-trip + expiration GC (tracker/tracker_test.go:70-325), monitor loop
driving no-op actions Init→Complete (ops/ops_test.go:38-79), HTTP handler
method/param matrices (tracker/handler_test.go:90-290), and config parsing
(config/config_test.go:19-71)."""

from __future__ import annotations

import threading
from datetime import date as Date
from datetime import datetime, timedelta, timezone

import pytest

from etl_gardener_spark.orchestrator import job as J
from etl_gardener_spark.orchestrator.actions import StandardActions
from etl_gardener_spark.orchestrator.api import MSG_NO_JOB, create_app
from etl_gardener_spark.orchestrator.config import load_config, parse_duration
from etl_gardener_spark.orchestrator.iterators import (
    DailyIterator,
    HistoricalIterator,
    JobIterator,
)
from etl_gardener_spark.orchestrator.job import Datasets, Job
from etl_gardener_spark.orchestrator.job_service import JobService
from etl_gardener_spark.orchestrator.monitor import Action, Monitor, RetryError
from etl_gardener_spark.orchestrator.tracker import (
    JobExistsError,
    Tracker,
)


def ts(y, m, d, h=0, mi=0) -> float:
    return datetime(y, m, d, h, mi, tzinfo=timezone.utc).timestamp()


class FakeClock:
    def __init__(self, t0: float):
        self.t = t0

    def __call__(self) -> float:
        return self.t


def mkjob(day=Date(2024, 3, 1), datatype="ndt7") -> Job:
    return Job(
        bucket="b",
        experiment="ndt",
        datatype=datatype,
        date=day,
        datasets=Datasets(tmp="tmp_ndt", raw="raw_ndt", join="ndt"),
    )


# -- Job model --------------------------------------------------------------


def test_job_key_and_prefix():
    j = mkjob()
    assert j.key() == "b/ndt/ndt7/20240301"
    assert j.prefix() == "b/ndt/ndt7/2024/03/01/"
    assert j.partition_suffix() == "$20240301"
    assert Job.from_dict(j.to_dict()) == j


# -- Iterators (job-service/iterators_test.go) ------------------------------


def test_daily_iterator_gates_on_delay():
    # Date D ripe at D+1 + 10h30m (README.md:13-15)
    clock = FakeClock(ts(2024, 3, 2, 10, 29))
    it = DailyIterator(delay_sec=10.5 * 3600, start=Date(2024, 3, 1), clock=clock)
    assert it.next() is None  # 10:29 < 10:30 gate
    clock.t = ts(2024, 3, 2, 10, 30)
    assert it.next() == Date(2024, 3, 1)
    assert it.next() is None  # next date not ripe for another day
    clock.t = ts(2024, 3, 3, 10, 30)
    assert it.next() == Date(2024, 3, 2)


def test_daily_iterator_cursor_recovery(tmp_path):
    cursor = str(tmp_path / "cursors.json")
    clock = FakeClock(ts(2024, 3, 5, 12))
    it = DailyIterator(cursor_path=cursor, start=Date(2024, 3, 1), clock=clock)
    assert it.next() == Date(2024, 3, 1)
    assert it.next() == Date(2024, 3, 2)
    # "crash": a new iterator resumes from the persisted cursor
    it2 = DailyIterator(cursor_path=cursor, start=Date(2024, 3, 1), clock=clock)
    assert it2.next() == Date(2024, 3, 3)


def test_historical_iterator_sweeps_and_restarts():
    clock = FakeClock(ts(2024, 3, 10))
    it = HistoricalIterator(Date(2024, 3, 6), clock=clock)
    got = [it.next() for _ in range(5)]
    # 36h gate at 2024-03-10 00:00 → dates >= 2024-03-08 restart the sweep
    assert got == [
        Date(2024, 3, 6),
        Date(2024, 3, 7),
        Date(2024, 3, 6),  # 3/8 >= gate → restart
        Date(2024, 3, 7),
        Date(2024, 3, 6),
    ]


def test_job_iterator_round_robin():
    clock = FakeClock(ts(2024, 3, 10))
    hist = HistoricalIterator(Date(2024, 3, 1), clock=clock)
    specs = [mkjob(datatype="ndt7"), mkjob(datatype="pcap")]
    it = JobIterator(hist, specs)
    j1, j2, j3 = it.next(), it.next(), it.next()
    assert (j1.datatype, j1.date) == ("ndt7", Date(2024, 3, 1))
    assert (j2.datatype, j2.date) == ("pcap", Date(2024, 3, 1))
    assert (j3.datatype, j3.date) == ("ndt7", Date(2024, 3, 2))


def test_job_service_priority_and_skips():
    clock = FakeClock(ts(2024, 3, 10))
    daily_inner = DailyIterator(
        delay_sec=0, start=Date(2024, 3, 8), clock=clock
    )
    daily = JobIterator(daily_inner, [mkjob()])
    hist = JobIterator(
        HistoricalIterator(Date(2020, 1, 1), clock=clock), [mkjob()]
    )
    svc = JobService(daily, hist, clock=clock)
    j = svc.next_job()
    assert j.date == Date(2024, 3, 8)  # daily wins
    j = svc.next_job()
    assert j.date == Date(2024, 3, 9)
    # daily exhausted → historical; 2020 dates are older than 1y → skipped,
    # one bounded round of specs yields nothing
    assert svc.next_job() is None

    # full_history exempts the datatype from the cutoff
    hist2 = JobIterator(
        HistoricalIterator(Date(2020, 1, 1), clock=clock), [mkjob()]
    )
    svc2 = JobService(None, hist2, full_history={"ndt7"}, clock=clock)
    assert svc2.next_job().date == Date(2020, 1, 1)


def test_job_service_has_files_gate():
    clock = FakeClock(ts(2024, 3, 10))
    hist = JobIterator(
        HistoricalIterator(Date(2024, 3, 5), clock=clock), [mkjob()]
    )
    seen = []

    def probe(job):
        seen.append(job.date)
        return job.date != Date(2024, 3, 5)  # first date has no files

    svc = JobService(None, hist, has_files=probe, clock=clock)
    # One bounded round per call (job-service.go:56-67): the empty 3/5
    # prefix consumes the first call; the client simply asks again.
    assert svc.next_job() is None
    assert svc.next_job().date == Date(2024, 3, 6)
    assert seen[0] == Date(2024, 3, 5)


# -- Tracker (tracker/tracker_test.go) --------------------------------------


def test_tracker_crud_and_terminal_readd(tmp_path):
    clock = FakeClock(1000.0)
    tr = Tracker(
        saver_path=str(tmp_path / "state.json"), clock=clock
    )
    j = mkjob()
    tr.add_job(j)
    with pytest.raises(JobExistsError):
        tr.add_job(j)  # active duplicate rejected (tracker.go:230-236)
    tr.set_status(j.key(), J.PARSING, "parsing...")
    tr.set_status(j.key(), J.PARSE_COMPLETE)
    st = tr.get_status(j.key())
    assert st.state == J.PARSE_COMPLETE
    assert [si.state for si in st.history] == [
        J.INIT,
        J.PARSING,
        J.PARSE_COMPLETE,
    ]
    # same-state update only sets detail, no new history entry
    tr.set_status(j.key(), J.PARSE_COMPLETE, "still here")
    assert len(tr.get_status(j.key()).history) == 3
    assert tr.get_status(j.key()).detail == "still here"
    # terminal state → job may be re-added (reprocessing, tracker.go:221-246)
    tr.set_status(j.key(), J.COMPLETE)
    tr.add_job(j)
    assert tr.get_status(j.key()).state == J.INIT


def test_tracker_persistence_roundtrip(tmp_path):
    path = str(tmp_path / "state.json")
    clock = FakeClock(1000.0)
    tr = Tracker(saver_path=path, clock=clock)
    j = mkjob()
    tr.add_job(j)
    tr.set_status(j.key(), J.LOADING, "loading day")
    tr.heartbeat(j.key())
    assert tr.save() is True
    assert tr.save() is False  # skip-if-unmodified (tracker.go:174-204)

    tr2 = Tracker(saver_path=path, clock=clock)
    st = tr2.get_status(j.key())
    assert st.state == J.LOADING
    assert st.detail == "loading day"
    assert tr2.get_state()[j.key()][0] == j


def test_tracker_recovers_reference_saver_struct_v2(tmp_path):
    """Golden-file parity with the reference's persisted tracker state:
    a fixture shaped exactly like tracker/testdata/saver-struct-v2.json
    (capitalized Go field names, RFC3339 times, Go zero-time heartbeat,
    a datasets-less job that the migration guard must prune,
    cmd/gardener/gardener.go:188-202) recovers into live Job/Status
    state."""
    import json

    fixture = {
        "SaveTime": "2022-07-22T16:56:00.586307-04:00",
        "Statuses": {
            "bucket/exp/type/20110101": {
                "HeartbeatTime": "0001-01-01T00:00:00Z",
                "UpdateCount": 3,
                "History": [
                    {
                        "State": "init",
                        "Start": "2022-07-22T16:56:00.577268-04:00",
                        "DetailTime": "2022-07-22T16:56:00.577268-04:00",
                        "Detail": "",
                    },
                    {
                        "State": "parsing",
                        "Start": "2022-07-22T16:57:00.1-04:00",
                        "DetailTime": "2022-07-22T16:57:30.2-04:00",
                        "Detail": "42 files",
                    },
                ],
            },
            "bucket/exp2/type2/20110102": {
                "HeartbeatTime": "0001-01-01T00:00:00Z",
                "UpdateCount": 0,
                "History": [
                    {
                        "State": "init",
                        "Start": "2022-07-22T16:56:00.577268-04:00",
                        "DetailTime": "2022-07-22T16:56:00.577268-04:00",
                        "Detail": "",
                    }
                ],
            },
        },
        "Jobs": {
            "bucket/exp/type/20110101": {
                "Bucket": "bucket",
                "Experiment": "exp",
                "Datatype": "type",
                "Datasets": {"Tmp": "tmp_ndt", "Raw": "raw_ndt", "Join": ""},
                "Date": "2011-01-01T00:00:00Z",
            },
            # datasets-less job: pruned on recovery like the reference's
            # migration guard
            "bucket/exp2/type2/20110102": {
                "Bucket": "bucket",
                "Experiment": "exp2",
                "Datatype": "type2",
                "Datasets": {"Tmp": "", "Raw": "", "Join": ""},
                "Date": "2011-01-02T00:00:00Z",
            },
        },
    }
    path = tmp_path / "saver-struct-v2.json"
    path.write_text(json.dumps(fixture))

    tr = Tracker(saver_path=str(path), clock=FakeClock(2000.0))
    assert tr.job_count() == 1  # datasets-less job pruned
    key = "bucket/exp/type/20110101"
    job, st = tr.get_state()[key]
    assert (job.bucket, job.experiment, job.datatype) == ("bucket", "exp", "type")
    assert job.date == Date(2011, 1, 1)
    assert (job.datasets.tmp, job.datasets.raw, job.datasets.join) == (
        "tmp_ndt",
        "raw_ndt",
        "",
    )
    assert st.state == J.PARSING
    assert st.detail == "42 files"
    assert st.update_count == 3
    assert st.heartbeat_time == 0.0  # Go zero time -> unset
    assert [si.state for si in st.history] == [J.INIT, J.PARSING]
    # recovered state is live: the job can be driven and re-persisted in
    # the tracker's own format
    tr.set_status(key, J.COMPLETE)
    assert tr.save() is True
    tr2 = Tracker(saver_path=str(path), clock=FakeClock(3000.0))
    assert tr2.get_status(key).state == J.COMPLETE


def test_tracker_expiration_gc():
    clock = FakeClock(0.0)
    tr = Tracker(expiration_sec=100.0, cleanup_delay_sec=50.0, clock=clock)
    stale, done = mkjob(Date(2024, 3, 1)), mkjob(Date(2024, 3, 2))
    tr.add_job(stale)
    tr.add_job(done)
    tr.set_status(done.key(), J.COMPLETE)
    clock.t = 60.0
    assert sorted(tr.cleanup()) == [done.key()]  # terminal past cleanup_delay
    clock.t = 160.0
    assert tr.cleanup() == [stale.key()]  # no updates past expiration
    assert tr.job_count() == 0


# -- Monitor (ops/ops_test.go:38-79) ----------------------------------------


def test_monitor_drives_noop_chain_to_complete():
    clock = FakeClock(0.0)
    tr = Tracker(clock=clock)
    mon = Monitor(tr, clock=clock)
    for a, b in [
        (J.INIT, J.PARSING),
        (J.PARSING, J.PARSE_COMPLETE),
        (J.PARSE_COMPLETE, J.LOADING),
        (J.LOADING, J.COMPLETE),
    ]:
        mon.add_action(Action(a, b, None))
    jobs = [mkjob(Date(2024, 3, d)) for d in (1, 2, 3)]
    for j in jobs:
        tr.add_job(j)
    assert mon.drain(timeout_sec=10.0)
    for j in jobs:
        assert tr.get_status(j.key()).state == J.COMPLETE
    mon.shutdown()


def test_monitor_retry_then_success_and_failure():
    clock = FakeClock(0.0)
    tr = Tracker(clock=clock)
    mon = Monitor(tr, retry_delay_sec=5.0, clock=clock)
    attempts = {"n": 0}

    def flaky(job):
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise RetryError("transient")
        return "ok"

    def boom(job):
        raise ValueError("permanent problem")

    mon.add_action(Action(J.INIT, J.COMPLETE, flaky))
    good = mkjob(Date(2024, 3, 1))
    tr.add_job(good)
    mon.tick()
    mon.drain(timeout_sec=1.0)
    st = tr.get_status(good.key())
    assert st.state == J.INIT and "retry" in st.detail
    # still inside the backoff window → not re-dispatched
    assert mon.tick() == 0
    clock.t = 10.0  # past retry_delay
    assert mon.drain(timeout_sec=2.0)
    assert tr.get_status(good.key()).state == J.COMPLETE

    bad = mkjob(Date(2024, 3, 2))
    mon.add_action(Action(J.INIT, J.COMPLETE, boom))
    tr.add_job(bad)
    mon.drain(timeout_sec=2.0)
    st = tr.get_status(bad.key())
    assert st.state == J.FAILED and "permanent problem" in st.detail
    mon.shutdown()


def test_monitor_condition_gates_action():
    tr = Tracker()
    mon = Monitor(tr)
    ready = threading.Event()
    mon.add_action(
        Action(J.INIT, J.COMPLETE, None, condition=lambda j: ready.is_set())
    )
    j = mkjob()
    tr.add_job(j)
    mon.tick()
    mon.drain(timeout_sec=0.3)
    assert tr.get_status(j.key()).state == J.INIT  # gated
    ready.set()
    assert mon.drain(timeout_sec=5.0)
    assert tr.get_status(j.key()).state == J.COMPLETE
    mon.shutdown()


def test_join_gate_waits_for_prior_day_annotation():
    """The join reads annotations dated d-1..d, so a tracked, unfinished
    annotation2 job for d-1 must hold back the fact day's join, like the
    same-day one; untracked annotation days gate nothing."""
    tr = Tracker()
    actions = StandardActions(None, None, "", None, tr)
    day = Date(2024, 3, 2)
    fact = mkjob(day)
    prev = mkjob(day - timedelta(days=1), "annotation2")
    same = mkjob(day, "annotation2")
    assert actions.join_ready(fact)
    tr.add_job(same)
    assert not actions.join_ready(fact)
    tr.set_status(same.key(), J.COMPLETE)
    assert actions.join_ready(fact)
    tr.add_job(prev)
    tr.set_status(prev.key(), J.LOADING)
    assert not actions.join_ready(fact)
    tr.set_status(prev.key(), J.COMPLETE)
    assert actions.join_ready(fact)


# -- Jobs API (tracker/handler_test.go) -------------------------------------


@pytest.fixture()
def api_client():
    clock = FakeClock(ts(2024, 3, 10))
    tr = Tracker(clock=clock)
    hist = JobIterator(
        HistoricalIterator(Date(2024, 3, 5), clock=clock), [mkjob()]
    )
    svc = JobService(None, hist, clock=clock)
    app = create_app(tr, svc)
    return app.test_client(), tr


def test_api_next_update_heartbeat_error(api_client):
    client, tr = api_client
    r = client.post("/v2/job/next")
    assert r.status_code == 200
    job_id = r.get_json()["id"]
    assert job_id == "b/ndt/ndt7/20240305"
    assert tr.get_status(job_id).state == J.INIT

    assert client.post(
        "/v2/job/update", data={"id": job_id, "state": "parsing"}
    ).status_code == 200
    assert tr.get_status(job_id).state == "parsing"

    assert client.post("/v2/job/heartbeat", data={"id": job_id}).status_code == 200
    assert client.post(
        "/v2/job/error", data={"id": job_id, "error": "bad archive"}
    ).status_code == 200
    assert tr.get_status(job_id).state == J.PARSE_ERROR


def test_api_status_codes(api_client):
    client, _ = api_client
    # wrong method → 405 (handler.go:33-35)
    assert client.get("/v2/job/update").status_code == 405
    # missing id → 422
    assert client.post("/v2/job/update", data={"state": "x"}).status_code == 422
    # missing state → 424
    assert client.post("/v2/job/update", data={"id": "x"}).status_code == 424
    # unknown id → 410 Gone
    assert (
        client.post(
            "/v2/job/update", data={"id": "nope", "state": "parsing"}
        ).status_code
        == 410
    )
    assert client.post("/v2/job/heartbeat", data={"id": "nope"}).status_code == 410
    assert client.post("/v2/job/error", data={"id": "x"}).status_code == 424


def test_api_no_job_and_pages(api_client):
    client, _ = api_client
    # Sweep window is 2024-03-05..07 (36h restart gate before 03-10): three
    # dispatches succeed, then the sweep wraps onto already-tracked jobs →
    # 500 with the reference's "Job already exists" message.
    for _ in range(3):
        assert client.post("/v2/job/next").status_code == 200
    r = client.post("/v2/job/next")
    assert r.status_code == 500 and b"already exists" in r.data
    assert client.get("/alive").status_code == 200
    assert client.get("/ready").status_code == 200
    page = client.get("/")
    assert page.status_code == 200 and b"Jobs" in page.data
    m = client.get("/metrics")
    assert m.status_code == 200
    assert b"gardener_jobs_total" in m.data


# -- Config (config/config_test.go) -----------------------------------------


def test_parse_duration():
    assert parse_duration("5m") == 300.0
    assert parse_duration("1h30m") == 5400.0
    assert parse_duration("90s") == 90.0
    assert parse_duration(None, 7.0) == 7.0
    with pytest.raises(ValueError):
        parse_duration("bogus")


def test_load_config(tmp_path):
    p = tmp_path / "config.yml"
    p.write_text(
        """
start_date: 2019-03-20
tracker:
  timeout: 5h
monitor:
  polling_interval: 5m
sources:
  - bucket: archive-bucket
    experiment: ndt
    datatype: ndt7
    datasets: {tmp: tmp_ndt, raw: raw_ndt, join: ndt}
  - bucket: archive-bucket
    experiment: ndt
    datatype: annotation2
    daily_only: true
    full_history: true
    datasets: {tmp: tmp_ndt, raw: raw_ndt, join: ""}
  - bucket: archive-bucket
    experiment: corpus
    datatype: webdocs
    datasets: {tmp: tmp_c, raw: raw_c, join: c}
    curation: [scrub, quality_gate, pack]
    curation_params: {min_quality: 0.3, pack_capacity: 512}
"""
    )
    cfg = load_config(str(p))
    assert cfg.start_date == Date(2019, 3, 20)
    assert cfg.tracker_timeout_sec == 5 * 3600
    assert cfg.polling_interval_sec == 300
    assert len(cfg.sources) == 3
    assert cfg.sources[0].datasets.join == "ndt"
    assert cfg.historical_sources == (cfg.sources[0], cfg.sources[2])
    assert cfg.sources[1].full_history is True
    # curation extension round-trip (orchestrator/curation.py)
    assert cfg.sources[0].curation_spec() is None
    spec = cfg.sources[2].curation_spec()
    assert spec.stages == ("scrub", "quality_gate", "pack")
    assert spec.min_quality == 0.3 and spec.pack_capacity == 512
