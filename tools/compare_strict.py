"""Strict replica of the driver's correctness gate.

The driver's canonicalization is unknown (round-2 verdict: two queries
passed the lenient local replica yet failed the driver's hash). This tool
assumes the WORST reasonable driver: it compares

1. **types** — the oracle's Arrow schema vs Spark's schema. DuckDB quirks
   like SUM(INTEGER) -> HUGEINT (float64 under a pandas fetch) or
   DECIMAL outputs against Spark doubles change the rendered value even
   when fetchall()'s Python natives coincide, so any number-class
   mismatch (int vs float vs decimal vs bool) is an error;
2. **values** — bit-exact floats (``repr``, not the lenient ``%.6g`` of
   tools/compare.py), so a last-ulp divergence between engines is caught
   here instead of by the driver.

A query that passes BOTH this and tools/compare.py should be green under
any plausible driver canonicalization.

Usage: python tools/compare_strict.py [sf_dir] [name ...]
       (no names = the first 50 registry entries, i.e. the driver window)
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pyarrow as pa

import __spark_entry__ as entrymod
from etl_gardener_spark.session import get_spark
from tests.conftest import TABLES


def arrow_kind(t: pa.DataType) -> str:
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_kind(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct"
    return str(t)


def spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, (T.TimestampNTZType,)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_kind(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        return "struct"
    return str(dt)


def strict_canon(v) -> str:
    """Type-sensitive canonical string: int 3 != float 3.0 != Decimal('3')."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:" + repr(v)
    if isinstance(v, Decimal):
        return "d:" + str(v)
    if isinstance(v, datetime):
        return "t:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return "D:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(strict_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{strict_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return "s:" + str(v)


def row_lines(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(strict_canon(r[i]) for i in order) for r in rows)


def compare_frames(sdf, con, oracle) -> tuple[list[str], int]:
    """Strict (type + bit-exact value) comparison of a Spark DataFrame
    against a DuckDB oracle query; returns (problem strings, spark row
    count) — empty problems = PASS. Reused by the boundary-fixture tests
    so adversarial fixtures get exactly the certification-grade
    comparison. ``oracle`` is a SQL string, or a callable(con) returning
    an Arrow table (PY_ORACLES — linear references for the queries whose
    SQL oracle is super-linear)."""
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = sdf.columns
    s_kinds = {f.name: spark_kind(f.dataType) for f in sdf.schema.fields}
    tbl = oracle(con) if callable(oracle) else con.execute(oracle).arrow()
    d_cols = tbl.schema.names
    d_kinds = {f.name: arrow_kind(f.type) for f in tbl.schema}
    problems: list[str] = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
    else:
        for c in s_cols:
            if s_kinds[c] != d_kinds[c]:
                problems.append(
                    f"type[{c}]: spark {s_kinds[c]} vs oracle {d_kinds[c]}"
                )
    d_rows = [tuple(row[c] for c in d_cols) for row in tbl.to_pylist()]
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
    if not problems:
        sl = row_lines(s_rows, s_cols)
        dl = row_lines(d_rows, d_cols)
        if sl != dl:
            diff_s = [x for x in sl if x not in set(dl)][:2]
            diff_d = [x for x in dl if x not in set(sl)][:2]
            problems.append(f"values; spark-only={diff_s} duck-only={diff_d}")
    return problems, len(s_rows)


def _pack_sequences_reference(con) -> pa.Table:
    """Linear next-fit reference for doc_pack_sequences (round-6 verdict
    item 6): the registry's recursive-CTE oracle replays the fold
    rank-by-rank and re-scans the token table on every recursion step —
    quadratic, which had excluded this one query from the sf1 sweep.
    This reference uses the IDENTICAL tokenization SQL for n_tokens,
    then performs the next-fit fold in plain Python (one pass), so the
    strict sweep covers the query at every SF with no exclusion.
    Semantics pinned equal to operators/packing.py by
    tests/test_packing_properties.py."""
    from etl_gardener_spark.plans.queries_llm import _DOCS_BODY, _PACK_CAPACITY

    rows = con.execute(
        "WITH "
        + _DOCS_BODY
        + " SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens"
        " FROM d ORDER BY lang NULLS LAST, doc_id"
    ).fetchall()
    out = {"doc_id": [], "lang": [], "n_tokens": [], "bin_id": []}
    cur = object()  # sentinel: never equal to a lang value
    bin_id = fill = 0
    for doc_id, lang, nt in rows:
        if lang != cur:  # new stratum
            cur, bin_id, fill = lang, 0, nt
        elif fill + nt > _PACK_CAPACITY:
            bin_id, fill = bin_id + 1, nt
        else:
            fill += nt
        out["doc_id"].append(doc_id)
        out["lang"].append(lang)
        out["n_tokens"].append(nt)
        out["bin_id"].append(bin_id)
    return pa.table(
        out,
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("lang", pa.string()),
                ("n_tokens", pa.int64()),
                ("bin_id", pa.int64()),
            ]
        ),
    )


# Linear Python references used IN PLACE of the registry oracle by this
# sweep. Keys must stay registered with a (driver-facing) SQL oracle —
# the driver certifies them at sf0.01 where the SQL cost is fine; the
# reference is what lets the LOCAL sweep run them at sf0.1/sf1 too.
def _minhash_auto_reference(con) -> "pa.Table":
    """Dynamic oracle for doc_minhash_lsh_auto_pairs: recompute the
    auto banding from the fixture's doc count (the registered static
    SQL pins (24, 8), exact for any corpus <= 100k docs — every local
    SF and fuzz fixture — but a >100k sweep fixture steps the rows
    schedule), then run the SAME parameterized SQL generator."""
    from etl_gardener_spark.operators.neardup import lsh_auto_params
    from etl_gardener_spark.plans.queries_llm import _minhash_oracle

    n = con.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    num_hashes, bands = lsh_auto_params(int(n), 0.5)
    return con.execute(_minhash_oracle(num_hashes, bands)).arrow()


def _pack_efficiency_reference(con) -> "pa.Table":
    """Linear reference for doc_pack_efficiency: reuse the next-fit
    fold above (identical tokenization + assignment), then aggregate
    the per-lang report with DuckDB over the in-memory assignment —
    the same SQL the registry oracle applies to its recursive pack
    CTE, minus the quadratic recursion."""
    from etl_gardener_spark.plans.queries_llm import _PACK_CAPACITY

    pack_tbl = _pack_sequences_reference(con)  # noqa: F841 (duckdb scans it)
    return con.execute(
        f"""
        WITH per_bin AS (SELECT lang, bin_id,
                                CAST(SUM(n_tokens) AS BIGINT) AS fill,
                                CAST(COUNT(*) AS BIGINT) AS n_docs_bin
                         FROM pack_tbl GROUP BY 1, 2)
        SELECT lang,
               CAST(SUM(n_docs_bin) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(fill) AS BIGINT) AS total_tokens,
               CAST(MAX(fill) AS BIGINT) AS max_bin_fill,
               CAST(SUM(CASE WHEN fill > {_PACK_CAPACITY} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_overflow_bins,
               FLOOR(CAST(SUM(fill) AS DOUBLE)
                     / (COUNT(*) * {_PACK_CAPACITY}) * 10000 + 0.5) / 10000
                 AS fill_rate
        FROM per_bin GROUP BY lang
        """
    ).arrow()


PY_ORACLES = {
    "doc_pack_sequences": _pack_sequences_reference,
    "doc_pack_efficiency": _pack_efficiency_reference,
    "doc_minhash_lsh_auto_pairs": _minhash_auto_reference,
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    spark = get_spark(app_name="compare-strict")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = only or list(qs)[:50]
    failures = 0
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?   {name}: no oracle (rows-only), {sdf.count()} rows")
            continue
        try:
            problems, n_rows = compare_frames(
                sdf, con, PY_ORACLES.get(name, oracles[name])
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"PASS  {name}: {n_rows} rows")
    print(f"{'ALL PASS' if not failures else f'{failures} FAILURES'} "
          f"({len(names)} checked)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
