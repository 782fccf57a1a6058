"""Self-test of the benchmark at minimal size.

    python3 perfbench/selftest.py [--workload NAME ...]

Runs each workload end to end on its small input (one small day for
day_backfill, the sf0.01 corpus for doc_curation and emb_search) and
requires every output check to pass. Then it feeds each checker
deliberately wrong expected results, and a warehouse with a leftover tmp
partition, and requires every one to be rejected, so that no check
passes vacuously. Exits 0 only if all of that holds.
"""

from __future__ import annotations

import argparse
import copy
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wrong_day_backfill(exp: dict) -> list[tuple[str, dict]]:
    day = exp["days"][0]
    out = []
    for table, idx, label in (
        ("ndt7", 0, "raw ndt7 row count"),
        ("ndt7", 1, "raw ndt7 fingerprint"),
        ("annotation2", 1, "raw annotation2 fingerprint"),
        ("join", 1, "join fingerprint"),
        ("join", 2, "join NULL-annotation count"),
    ):
        bad = copy.deepcopy(exp)
        v = bad[table][day][idx]
        bad[table][day][idx] = str(int(v) + 1) if isinstance(v, str) else v + 1
        out.append((label, bad))
    missing = copy.deepcopy(exp)
    missing["webdocs"] = missing["webdocs"][1:]
    out.append(("webdocs survivor set", missing))
    return out


def _wrong_doc_curation(exp: dict) -> list[tuple[str, dict]]:
    missing = copy.deepcopy(exp)
    missing["webdocs"] = missing["webdocs"][1:]
    extra = copy.deepcopy(exp)
    extra["websem_keep"] = sorted(extra["websem_keep"] + [-1])
    leaked = copy.deepcopy(exp)
    survivor = leaked["websem_keep"].pop(0)
    leaked["websem_drop"].append(survivor)
    return [
        ("webdocs survivor set", missing),
        ("websem scored survivors", extra),
        ("websem keep=false id survives", leaked),
    ]


def _check(name: str, ok: bool, failures: list[str]) -> None:
    print(f"{'PASS' if ok else 'FAIL'}  {name}")
    if not ok:
        failures.append(name)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(os.path.abspath(__file__))]
    sys.path.insert(0, ROOT)
    from perfbench import run as R

    R._environment()
    from perfbench.workloads import WORKLOADS

    failures: list[str] = []
    R._adopt_orphans()
    spark = R._spark()
    try:
        _run(spark, args.workload or list(WORKLOADS), args.seed, failures)
    finally:
        R.stop_processes(spark)
    print("self-test:", "FAILED " + ", ".join(failures) if failures else "all checks passed")
    return 1 if failures else 0


def _run(spark, names, seed, failures) -> None:
    from perfbench import run as R
    from perfbench.workloads import WORKLOADS, DayBackfill, DocCuration

    for name in names:
        wl = WORKLOADS[name](R.WORK, seed, small=True)
        wl.prepare()
        wl.setup(spark)
        try:
            for label, res in (("warm-up", wl.warm_up(spark)), ("pass", wl.run_pass(spark))):
                for e in res.errors:
                    print(f"      {e}")
                _check(f"{name}: {label} passes its output check", res.failed == 0 and res.attempted > 0, failures)
            if isinstance(wl, (DayBackfill, DocCuration)):
                exp = wl._expected(1)
                wrong = _wrong_day_backfill(exp) if isinstance(wl, DayBackfill) else _wrong_doc_curation(exp)
                wh = wl.g.warehouse_root
                for label, bad in wrong:
                    _check(f"{name}: check rejects a wrong {label}", bool(wl.check(spark, wh, bad)), failures)
                if isinstance(wl, DayBackfill):
                    from datetime import date

                    from etl_gardener_spark.warehouse import Warehouse

                    leftover = Warehouse(wh).partition_path("tmp", "ndt", "ndt7", date.fromisoformat(exp["days"][0]))
                    os.makedirs(leftover)
                    _check(f"{name}: check rejects a leftover tmp partition", bool(wl.check(spark, wh, exp)), failures)
                    os.rmdir(leftover)
            else:
                bad = copy.deepcopy(wl.expected)
                for q in bad:
                    bad[q][1] = "0" * 64
                res = wl._pass(wl.corpus, bad, calls=1)
                _check(f"{name}: check rejects a wrong value hash", res.failed == res.attempted, failures)
        finally:
            wl.teardown()


if __name__ == "__main__":
    sys.exit(main())
