"""Job, state machine vocabulary, and per-job Status history.

Reference: tracker/job.go — ``Job`` (:28-45), partition addressing (:48-50),
state constants (:191-205), ``StateInfo``/``Status`` append-only history
(:208-245), key format (:158-161), GCS path helpers (:100-107).
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field, replace
from datetime import date as Date

# -- States (tracker/job.go:191-205) ---------------------------------------

INIT = "init"
PARSING = "parsing"
PARSE_ERROR = "parseError"
PARSE_COMPLETE = "postProcessing"  # named for the next phase, job.go:196
LOADING = "loading"
DEDUPLICATING = "deduplicating"
COPYING = "copying"
DELETING = "deleting"
JOINING = "joining"
FAILED = "failed"
COMPLETE = "complete"

TERMINAL_STATES = frozenset({COMPLETE, FAILED})


@dataclass(frozen=True)
class Datasets:
    """Dataset tier names for one job (tracker/job.go:41-45): tmp landing,
    raw deduped archive, join annotated output ('' = no join stage)."""

    tmp: str = ""
    raw: str = ""
    join: str = ""


@dataclass(frozen=True)
class Job:
    """All data for one datatype on one UTC day (tracker/job.go:28-45)."""

    bucket: str
    experiment: str
    datatype: str
    date: Date
    filter: str = ""  # archive-name regex, applied by parsers (job.go:33-35)
    datasets: Datasets = field(default_factory=Datasets)

    def key(self) -> str:
        """Map key ``bucket/exp/type/YYYYMMDD`` (tracker/job.go:158-161)."""
        return (
            f"{self.bucket}/{self.experiment}/{self.datatype}/"
            f"{self.date.strftime('%Y%m%d')}"
        )

    def partition_suffix(self) -> str:
        """BigQuery-style day-partition decorator ``$YYYYMMDD``
        (tracker/job.go:48-50); our warehouse's ``date=YYYY-MM-DD``."""
        return "$" + self.date.strftime("%Y%m%d")

    def prefix(self) -> str:
        """Source path ``<bucket>/<exp>/<datatype>/YYYY/MM/DD/``
        (tracker/job.go:100-107)."""
        return (
            f"{self.bucket}/{self.experiment}/{self.datatype}/"
            f"{self.date.strftime('%Y/%m/%d')}/"
        )

    def with_date(self, d: Date) -> "Job":
        return replace(self, date=d)

    def to_dict(self) -> dict:
        return {
            "bucket": self.bucket,
            "experiment": self.experiment,
            "datatype": self.datatype,
            "date": self.date.isoformat(),
            "filter": self.filter,
            "datasets": {
                "tmp": self.datasets.tmp,
                "raw": self.datasets.raw,
                "join": self.datasets.join,
            },
        }

    @staticmethod
    def from_dict(d: dict) -> "Job":
        ds = d.get("datasets") or {}
        return Job(
            bucket=d["bucket"],
            experiment=d["experiment"],
            datatype=d["datatype"],
            date=Date.fromisoformat(d["date"]),
            filter=d.get("filter", ""),
            datasets=Datasets(
                tmp=ds.get("tmp", ""), raw=ds.get("raw", ""), join=ds.get("join", "")
            ),
        )


@dataclass
class StateInfo:
    """One entry of a job's state history (tracker/job.go:208-218):
    state name, entry time, and the latest detail + its timestamp."""

    state: str
    start: float  # epoch seconds, state entry time
    detail_time: float = 0.0
    detail: str = ""

    def set_detail(self, detail: str, now: float | None = None) -> None:
        self.detail = detail
        self.detail_time = _time.time() if now is None else now

    def to_dict(self) -> dict:
        return {
            "state": self.state,
            "start": self.start,
            "detail_time": self.detail_time,
            "detail": self.detail,
        }

    @staticmethod
    def from_dict(d: dict) -> "StateInfo":
        return StateInfo(
            state=d["state"],
            start=d["start"],
            detail_time=d.get("detail_time", 0.0),
            detail=d.get("detail", ""),
        )


@dataclass
class Status:
    """Append-only state history + heartbeat (tracker/job.go:221-245)."""

    history: list[StateInfo] = field(default_factory=list)
    heartbeat_time: float = 0.0
    update_count: int = 0

    def last(self) -> StateInfo:
        return self.history[-1]

    @property
    def state(self) -> str:
        return self.history[-1].state if self.history else INIT

    @property
    def detail(self) -> str:
        return self.history[-1].detail if self.history else ""

    def new_state(self, state: str, now: float | None = None) -> StateInfo:
        """Append a state entry (tracker/job.go:237-245)."""
        si = StateInfo(state=state, start=_time.time() if now is None else now)
        self.history.append(si)
        self.update_count += 1
        return si

    def set_detail(self, detail: str, now: float | None = None) -> None:
        if not self.history:
            self.new_state(INIT, now)
        self.history[-1].set_detail(detail, now)
        self.update_count += 1

    def is_terminal(self) -> bool:
        return self.state in TERMINAL_STATES

    def started(self) -> float:
        return self.history[0].start if self.history else 0.0

    def updated(self) -> float:
        if not self.history:
            return 0.0
        last = self.history[-1]
        return max(last.start, last.detail_time, self.heartbeat_time)

    def to_dict(self) -> dict:
        return {
            "history": [si.to_dict() for si in self.history],
            "heartbeat_time": self.heartbeat_time,
            "update_count": self.update_count,
        }

    @staticmethod
    def from_dict(d: dict) -> "Status":
        return Status(
            history=[StateInfo.from_dict(x) for x in d.get("history", [])],
            heartbeat_time=d.get("heartbeat_time", 0.0),
            update_count=d.get("update_count", 0),
        )


def new_status(now: float | None = None) -> Status:
    st = Status()
    st.new_state(INIT, now)
    return st
