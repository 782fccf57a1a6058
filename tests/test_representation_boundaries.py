"""Adversarial representation-boundary fixtures (round-3 verdict item 5).

The repo's fixed-point / integer-micros / rounded-threshold discipline
(see plans/queries.py module docstring) is what keeps ~30 statistical
queries bit-identical between Spark and the DuckDB oracle. These tests
pin that discipline AT ITS BOUNDARIES, where a careless edit would
silently reintroduce engine divergence:

  * session gaps at exactly 1800.000000 s vs 1800.000001 s (the
    microsecond compare that a seconds-truncating `cast(ts as long)`
    would mis-split);
  * money/average sums landing exactly on half-up rounding midpoints
    (where Spark's HALF_UP and DuckDB's half-even decimal casts answer
    differently unless the integer `(2x + d) div 2d` kernel is used);
  * approximate-distinct error ratios exactly AT the 5% sketch bound
    (the flag arithmetic that turns sketch queries oracle-checkable).

Each fixture is written as real parquet shaped like the driver testdata
tables, then the REAL registered query and its REAL oracle SQL run
through the strict (type + bit-exact) comparator from
tools/compare_strict.py — exactly the certification path, on data the
generator would never produce.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_gardener_spark.plans import queries as Q
from tools.compare_strict import compare_frames

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _write(dirpath: str, name: str, schema: pa.Schema, cols: dict) -> None:
    pq.write_table(
        pa.Table.from_pydict(cols, schema=schema),
        os.path.join(dirpath, f"{name}.parquet"),
    )


def _events(dirpath: str, rows: list[tuple[int, datetime, int, str, float]]):
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    _write(
        dirpath,
        "events",
        schema,
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
            "props": ["{}" for _ in rows],
        },
    )


def _duck(dirpath: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dirpath}/{t}.parquet'"
        )
    return con


def _run_strict(spark, name: str, dirpath: str, tables: list[str]):
    """Run registered query `name` on the fixture dir against its real
    oracle with the strict comparator; return the Spark rows."""
    qd = Q.REGISTRY[name]
    sdf = qd.fn(spark, dirpath)
    con = _duck(dirpath, tables)
    try:
        problems, _ = compare_frames(sdf, con, qd.oracle)
    finally:
        con.close()
    assert not problems, f"{name} on boundary fixture: {problems}"
    return sdf.collect()


def test_sessionize_gap_exactly_1800s_boundary(spark, tmp_path):
    """Gap == 1800.000000 s continues the session (strictly-greater
    compare); gap == 1800.000001 s starts a new one; a 1800.5 s gap
    splits too (a seconds-truncated compare would see 1800 and not
    split); equal timestamps tie-break on event_id."""
    us = timedelta(microseconds=1)
    e0 = T0
    e1 = e0 + timedelta(seconds=1800)            # exactly 1800 s: same
    e2 = e1 + timedelta(seconds=1800) + us       # 1800.000001 s: new
    e3 = e2 + timedelta(seconds=1799, microseconds=999_999)  # same
    e4 = e3 + timedelta(seconds=1800, microseconds=500_000)  # 1800.5: new
    e5 = e4                                       # equal ts: same session
    rows = [
        (i, t, 1, "click", 1.0)
        for i, t in enumerate((e0, e1, e2, e3, e4, e5))
    ]
    d = str(tmp_path)
    _events(d, rows)
    out = _run_strict(spark, "sessionize", d, ["events"])
    sessions = {
        r["session_id"]: (r["n_events"], r["session_start"], r["session_end"])
        for r in out
    }
    assert sessions == {
        1: (2, e0, e1),
        2: (2, e2, e3),
        3: (2, e4, e5),
    }


def test_brand_revenue_half_up_midpoints(spark, tmp_path):
    """Group sums crafted to land EXACTLY on rounding midpoints: revenue
    3.0050 must round to 3.01 (half-up; half-even would say 3.00) and
    avg retail 1.00005 must round to 1.0001 (half-even would say
    1.0000). Per-row inputs keep <= 4 decimal digits so the row-level
    decimal casts are unambiguous in both engines; only the SUM sits on
    the midpoint, which the integer `(2x + d) div 2d` kernel decides."""
    d = str(tmp_path)
    _write(
        d,
        "lineitem",
        pa.schema(
            [
                ("l_orderkey", pa.int64()),
                ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()),
                ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()),
                ("l_shipdate", pa.timestamp("us")),
            ]
        ),
        {
            "l_orderkey": [1, 1],
            "l_partkey": [1, 2],
            "l_suppkey": [1, 1],
            "l_linenumber": [1, 2],
            "l_quantity": [1.0, 1.0],
            # 2.01 * (1 - 0.5) = 1.005 and 2.00 * (1 - 0.0) = 2.00:
            # group revenue = 3.0050, exactly on the cent midpoint
            "l_extendedprice": [2.01, 2.00],
            "l_discount": [0.5, 0.0],
            "l_tax": [0.0, 0.0],
            "l_returnflag": ["N", "N"],
            "l_linestatus": ["O", "O"],
            "l_shipdate": [T0, T0],
        },
    )
    _write(
        d,
        "part",
        pa.schema(
            [
                ("p_partkey", pa.int64()),
                ("p_name", pa.string()),
                ("p_brand", pa.string()),
                ("p_type", pa.string()),
                ("p_size", pa.int32()),
                ("p_retailprice", pa.float64()),
            ]
        ),
        {
            "p_partkey": [1, 2],
            "p_name": ["a", "b"],
            "p_brand": ["Brand#1", "Brand#1"],
            "p_type": ["t", "t"],
            "p_size": [1, 1],
            # retail avg = (1.0001 + 1.0000) / 2 = 1.00005: exactly on
            # the 4th-decimal midpoint
            "p_retailprice": [1.0001, 1.0000],
        },
    )
    _write(
        d,
        "supplier",
        pa.schema(
            [
                ("s_suppkey", pa.int64()),
                ("s_name", pa.string()),
                ("s_nationkey", pa.int32()),
                ("s_acctbal", pa.float64()),
            ]
        ),
        {
            "s_suppkey": [1],
            "s_name": ["s"],
            "s_nationkey": [1],
            "s_acctbal": [0.0],
        },
    )
    _write(
        d,
        "nation",
        pa.schema(
            [
                ("n_nationkey", pa.int32()),
                ("n_name", pa.string()),
                ("n_regionkey", pa.int32()),
            ]
        ),
        {"n_nationkey": [1], "n_name": ["FRANCE"], "n_regionkey": [1]},
    )
    out = _run_strict(
        spark, "brand_revenue", d, ["lineitem", "part", "supplier", "nation"]
    )
    (row,) = out
    assert row["revenue"] == 3.01  # HALF_UP at the 3.0050 midpoint
    assert row["avg_retail"] == 1.0001  # HALF_UP at the 1.00005 midpoint
    assert row["n_items"] == 2


def test_sketch_bound_flag_at_exactly_five_percent(spark, tmp_path):
    """The sketch-certification flag |approx - exact| / exact <= 0.05
    must answer identically in both engines exactly AT the bound. The
    crafted pairs sit on (5/100), one ulp inside, and one count outside;
    both engines evaluate the same IEEE expression on the same longs, so
    the strict hash pins every boundary answer."""
    import pandas as pd
    from pyspark.sql import functions as F

    pairs = [
        (1, 105, 100),   # error == 0.05 exactly -> ok
        (2, 95, 100),    # error == 0.05 exactly from below -> ok
        (3, 106, 100),   # 0.06 -> not ok
        (4, 21, 20),     # 0.05 exactly at small count -> ok
        (5, 1_050_001, 1_000_000),  # 0.050001 -> not ok
        (6, 1, 1),       # zero error, exact==1 division edge -> ok
    ]
    sdf = (
        spark.createDataFrame(
            pairs, "grp long, approx_users long, exact_users long"
        )
        .select(
            "grp",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("sketch_ok"),
        )
    )
    con = duckdb.connect()
    try:
        con.register(
            "pairs",
            pd.DataFrame(
                pairs, columns=["grp", "approx_users", "exact_users"]
            ).astype("int64"),
        )
        problems, _ = compare_frames(
            sdf,
            con,
            """
            SELECT grp, CAST(exact_users AS BIGINT) AS exact_users,
                   ABS(approx_users - exact_users)
                     / CAST(exact_users AS DOUBLE) <= 0.05 AS sketch_ok
            FROM pairs
            """,
        )
    finally:
        con.close()
    assert not problems, problems
    flags = {r["grp"]: r["sketch_ok"] for r in sdf.collect()}
    assert flags == {1: True, 2: True, 3: False, 4: True, 5: False, 6: True}


def test_daily_approx_users_on_duplicate_heavy_boundary_days(spark, tmp_path):
    """daily_approx_users end-to-end on crafted days: a single-user day
    (exact == 1 division edge), a duplicate-heavy day (3 users x 400
    events — the sketch sees repeats, the distinct projection collapses
    them), and a wider day. The strict hash certifies the whole
    flag-bearing output on data the generator never produces."""
    rows = []
    eid = 0
    # day 1: one user, 5 repeated events
    for _ in range(5):
        rows.append((eid, T0, 7, "click", 1.0))
        eid += 1
    # day 2: 3 users x 400 duplicate events
    d2 = T0 + timedelta(days=1)
    for i in range(1200):
        rows.append((eid, d2 + timedelta(seconds=i), i % 3, "view", 0.5))
        eid += 1
    # day 3: 60 distinct users, one event each
    d3 = T0 + timedelta(days=2)
    for u in range(60):
        rows.append((eid, d3, 100 + u, "click", 2.0))
        eid += 1
    d = str(tmp_path)
    _events(d, rows)
    out = _run_strict(spark, "daily_approx_users", d, ["events"])
    by_day = {r["date"].isoformat(): r for r in out}
    assert by_day["2024-01-01"]["exact_users"] == 1
    assert by_day["2024-01-02"]["exact_users"] == 3
    assert by_day["2024-01-03"]["exact_users"] == 60
    assert all(r["sketch_ok"] for r in out)


def test_audio_mean_rounds_half_up_at_exact_midpoint(spark):
    """Byte means over power-of-two payload lengths land on exact 6-dp
    midpoints (odd_sum/128 always has a trailing ...5 at the 7th
    decimal): the stub must round HALF-UP like the SQL oracle, not
    Python round()'s half-even. 1/128 = 0.0078125 -> 0.007813."""
    from etl_gardener_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "\x00" * 127 + "\x01"), (2, "\x02" * 64)], ["doc_id", "text"]
    )
    media = MM.attach_binary(docs, "text", "doc_id", modality="audio")
    out = {
        r["doc_id"]: r
        for r in MM.extract_audio_features(media, "doc_id").collect()
    }
    assert out[1]["mean_amplitude"] == 0.007813  # half-up, not 0.007812
    assert out[2]["mean_amplitude"] == 2.0  # exact mean unperturbed
    assert out[1]["byte_len"] == 128 and out[1]["peak_amplitude"] == 1


def test_null_payload_decoder_robustness_contract(spark):
    """mm fuzz axis finding: the decoders crashed on a NULL payload
    (len(None) / np.frombuffer(None)). The pinned contract: an
    undecodable/absent payload is DATA, not an exception — NULL in ->
    NULL decoder outputs with the row surviving, no frames, no pHash —
    and stays distinct from the EMPTY payload (byte_len 0, literal
    silence, zero-dim 'image')."""
    from etl_gardener_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "abcd" * 8)], "doc_id long, text string"
    )
    media = MM.attach_binary(docs, "text", "doc_id", modality="image")

    img = {r["doc_id"]: r for r in MM.extract_image_features(media).collect()}
    assert set(img) == {1, 2, 3}  # the NULL-payload row survives
    assert all(img[1][c] is None for c in ("byte_len", "sha256", "width",
                                           "height", "channels"))
    assert img[2]["byte_len"] == 0 and img[2]["width"] == 0
    assert img[3]["byte_len"] == 32

    aud = {r["doc_id"]: r for r in MM.extract_audio_features(media).collect()}
    assert all(aud[1][c] is None
               for c in ("byte_len", "mean_amplitude", "peak_amplitude"))
    assert aud[2]["byte_len"] == 0 and aud[2]["mean_amplitude"] == 0.0

    rs = {r["doc_id"]: r for r in MM.resize_images(media).collect()}
    assert set(rs) == {1, 2, 3}
    assert rs[1]["resized_md5"] is None and rs[1]["width"] is None
    assert rs[1]["out_width"] == 64  # requested dims stand even on NULL
    assert rs[2]["resized_len"] == 64 * 48  # empty pads to target

    frames = MM.sample_frames(media).collect()
    assert not any(r["doc_id"] in (1, 2) for r in frames)  # no frames
    assert sum(r["doc_id"] == 3 for r in frames) == 1  # 32//16=2, stride 4


def test_decile_share_kernel_exact_beyond_int64_ceiling(spark):
    """The customer_value_deciles share kernel widened to DECIMAL(38,0)
    (round-5 advisor fix): 2 * cum_cents * 1e5 wraps int64 once total
    revenue passes ~4.6e13 cents, so the half-up-at-5dp integral
    division must stay exact ABOVE that ceiling. Spark's `div`
    (IntegralDivide) accepts decimal operands and returns an exact LONG
    — pinned here against Python big-int arithmetic at ~9e17-cent
    inputs where the narrow kernel returns garbage."""
    from pyspark.sql import functions as F

    # crev_e2 near the old overflow frontier and beyond it
    cases = [
        (9_000_000_000_000_000_000 // 10, 1_800_000_000_000_000_000),
        (4_611_686_018_427_387, 9_223_372_036_854_775),   # exactly at 2c*1e5 edge
        (123_456_789_012_345_678, 987_654_321_098_765_432),
    ]
    df = spark.createDataFrame(cases, ["c", "t"])
    got = df.select(
        F.expr(
            "(2 * cast(c as decimal(38,0)) * 100000 + cast(t as decimal(38,0)))"
            " div (2 * cast(t as decimal(38,0)))"
        ).alias("share_e5")
    ).collect()
    for (c, t), row in zip(cases, got):
        assert row["share_e5"] == (2 * c * 100000 + t) // (2 * t), (c, t)


def test_micro_display_sign_correct_half_up(spark):
    """Round-6 advisor fix: the display kernel misrounded NEGATIVE group
    sums toward zero by one last-digit unit (sum exactly -1.00 displayed
    as -0.99) on BOTH engines at once — truncating `div`/`//` agree on
    negatives, so the mirrored differential oracle could never see it.
    The kernel now emulates FLOOR division (half-up toward +infinity);
    this pins Spark's micro_sum/micro_display, DuckDB's micro_sum_sql,
    and a Python floor-division reference to the same displayed value on
    negative, midpoint, and positive sums."""
    from pyspark.sql import functions as F

    from etl_gardener_spark.functions.exact import (
        micro_display,
        micro_sum,
        micro_sum_sql,
    )

    # (group, per-row values): sums hit -1.00 exactly, the negative
    # 2-dp midpoint -0.005, the positive midpoint 1.005, plain values
    cases = {
        "neg_exact": [-0.6, -0.4],          # sum -1.00   -> -1.00 (not -0.99)
        "neg_mid": [-0.0025, -0.0025],      # sum -0.005  ->  0.00 (toward +inf)
        "neg_mid2": [-0.01, -0.005],        # sum -0.015  -> -0.01 (toward +inf)
        "neg_plain": [-2.37, -4.56],        # sum -6.93   -> -6.93
        "pos_mid": [0.5025, 0.5025],        # sum  1.005  ->  1.01 (half-up)
        "pos_plain": [1.23, 4.56],          # sum  5.79   ->  5.79
    }
    rows = [(k, v) for k, vals in cases.items() for v in vals]
    sdf = spark.createDataFrame(rows, ["g", "value"])
    got = {
        r["g"]: r["total"]
        for r in sdf.groupBy("g")
        .agg(micro_sum(F.col("value")).alias("__s"))
        .select("g", micro_display("__s", 2).alias("total"))
        .collect()
    }

    def ref(vals):  # Python // IS floor division: the reference semantics
        s = sum(int(__import__("math").floor(v * 1e6 + 0.5)) for v in vals)
        return ((2 * s + 10_000) // 20_000) / 100.0

    expected = {k: ref(v) for k, v in cases.items()}
    assert got == expected, (got, expected)
    assert expected["neg_exact"] == -1.00
    assert expected["neg_mid"] == 0.00
    assert expected["neg_mid2"] == -0.01
    assert expected["pos_mid"] == 1.01

    import duckdb

    con = duckdb.connect()
    con.register(
        "t", pa.Table.from_pylist([{"g": k, "value": v} for k, vals in cases.items() for v in vals])
    )
    oracle = {
        k: v
        for k, v in con.execute(
            f"SELECT g, {micro_sum_sql('value', 2)} AS total FROM t GROUP BY g"
        ).fetchall()
    }
    assert oracle == expected, (oracle, expected)


def test_floor_kernel_identical_across_catalyst_numpy_duckdb(spark):
    """The r8 kmeans-assignment fix rests on FLOOR(x*1e6 + 0.5) being
    the same IEEE expression tree in Catalyst, numpy, and DuckDB — so
    the assignment kernel (``_nearest``) and the SQL oracle pick
    identical argmax winners even on 6-dp midpoints, where Spark ROUND
    (shortest-repr half-up) vs np.round (binary half-even) diverge.
    Probe the adversarial set: exact dyadic midpoints (0.0078125 * 1e6
    = 7812.5), both signs, the -2.0 NULL sentinel, values an ulp off a
    midpoint, and a sweep of k + 0.5/1e6 constructions."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    xs = [0.0078125, -0.0078125, 2.0, -2.0, 0.9999995, -0.9999995,
          0.1234565, 0.123456499999999, 0.1234575, 1.5e-7, -1.5e-7]
    xs += [k / 1e6 + 5e-7 for k in range(-3, 4)]
    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "i long, x double"
    )
    got = {
        r["i"]: r["f"]
        for r in df.select(
            "i", F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).alias("f")
        ).collect()
    }
    np_vals = np.floor(np.array(xs, dtype=np.float64) * 1e6 + 0.5)
    con = duckdb.connect()
    for i, x in enumerate(xs):
        duck = con.execute(
            "SELECT FLOOR(CAST(? AS DOUBLE) * 1e6 + 0.5)", [x]
        ).fetchone()[0]
        assert got[i] == int(np_vals[i]) == int(duck), (
            x, got[i], np_vals[i], duck
        )
