"""Local replica of the driver's correctness gate: run every queries() entry
and its oracle side-by-side, compare row count + column set + value hash.

Usage: python tools/compare.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

import __spark_entry__ as entrymod
from etl_gardener_spark.session import get_spark
from tests.conftest import TABLES, value_hash, _canon


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="compare")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            continue
        dt_spark = time.monotonic() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only check, {len(s_rows)} rows ({dt_spark:.1f}s)")
            continue
        try:
            rel = con.execute(oracles[name])
            d_cols = [d[0] for d in rel.description]
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if not problems and value_hash(s_rows, s_cols) != value_hash(d_rows, d_cols):
            s_set = {"\x1f".join(map(_canon, r)) for r in s_rows}
            d_set = {"\x1f".join(map(_canon, r)) for r in d_rows}
            extra_s = sorted(s_set - d_set)[:3]
            extra_d = sorted(d_set - s_set)[:3]
            problems.append(f"hash; spark-only={extra_s} duck-only={extra_d}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"PASS  {name}: {len(s_rows)} rows ({dt_spark:.1f}s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
