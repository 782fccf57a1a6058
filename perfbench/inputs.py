"""Seeded inputs and the expected results the benchmark checks against.

Everything here is plain Python (plus DuckDB for the registry's SQL
oracles) and runs outside the timed passes; the workloads cache what it
lands per seed, so repeated runs of a seed land nothing new.

Expected results never come from the program under test:

* ``day_backfill``: survivors per (datatype, day) are the max
  ``parser.Time`` row per id, the join rows are the fact survivors left
  joined with annotation survivors dated d-1..d, computed here while the
  JSONL is generated. They are stored as (row count, fingerprint) pairs,
  where the fingerprint is the sum of a SHA-256 prefix of one canonical
  string per row, so the check compares exact multisets.
* ``doc_curation`` / ``emb_search``: the DuckDB oracle SQL that the
  query registry carries for each composition.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from datetime import date, datetime, timedelta, timezone

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# -- day_backfill -------------------------------------------------------------

EXPERIMENT = "ndt"
FACT = "ndt7"
ANN = "annotation2"
BUCKET = "pb"
FILES_PER_DAY = 4
DUP_SHARE = 0.20  # ids with 2-4 copies of different parser.Time
ANN_DUP_SHARE = 0.05
CORRUPT_SHARE = 0.001
ANN_SHARE = 0.90  # ids that get an annotation
ANN_PREV_SHARE = 0.10  # of annotated ids (day > 0): annotation dated d-1
REPEAT_SHARE = 0.01  # ids that reappear the next day (must not dedup)

_COUNTRIES = ("US", "DE", "BR", "IN", "JP", "ZA", "AU", "FR")


def fingerprint(canon: str) -> int:
    """The per-row fingerprint; Spark computes the same value with
    ``conv(substring(sha2(canon, 256), 1, 15), 16, 10)``."""
    return int(hashlib.sha256(canon.encode()).hexdigest()[:15], 16)


def _ts(day: date, offset_us: int) -> tuple[str, int]:
    base = datetime(day.year, day.month, day.day, tzinfo=timezone.utc)
    t = base + timedelta(microseconds=offset_us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ"), int(base.timestamp()) * 1_000_000 + offset_us


def _copies(rng: random.Random, share: float) -> int:
    return rng.randint(2, 4) if rng.random() < share else 1


def _write_files(rng: random.Random, dirpath: str, lines: list[str], extra_field_file: int | None) -> None:
    """Shuffle ``lines`` into FILES_PER_DAY files of equal line counts (so
    the seed moves rows between files but never skews the load's tasks)."""
    os.makedirs(dirpath, exist_ok=True)
    rng.shuffle(lines)
    bounds = [len(lines) * i // FILES_PER_DAY for i in range(FILES_PER_DAY + 1)]
    for i in range(FILES_PER_DAY):
        chunk = lines[bounds[i] : bounds[i + 1]]
        if i == extra_field_file:
            # an unknown field the load must ignore ("No such field")
            chunk = [ln[:-1] + ',"extra":{"note":"x"}}' if ln.endswith("}") else ln for ln in chunk]
        with open(os.path.join(dirpath, f"part-{i}.jsonl"), "w") as f:
            f.write("\n".join(chunk) + "\n")


def day_prefix(landing: str, datatype: str, day: date) -> str:
    return os.path.join(landing, BUCKET, EXPERIMENT, datatype, day.strftime("%Y/%m/%d"))


def land_days(landing: str, seed: int, day0: date, day_ids: tuple[int, ...]) -> dict:
    """Land ``len(day_ids)`` days of fact + annotation JSONL (FIXTURES F1/F2
    shape), day i with ``day_ids[i]`` distinct ids, and return the expected
    results. The seed draws ids, copies, times, payloads and row order; the
    day sizes stay in the given order, so every seed has the same job
    shape."""
    rng = random.Random(seed)
    sizes = list(day_ids)
    ndays = len(sizes)
    days = [day0 + timedelta(days=i) for i in range(ndays)]
    fact_lines: list[list[str]] = [[] for _ in days]
    ann_lines: list[list[str]] = [[] for _ in days]
    # survivors: (datatype, day index) -> {id: (time_us, payload)}
    fact_best: list[dict[str, tuple[int, str]]] = [{} for _ in days]
    ann_best: list[dict[str, tuple[int, int]]] = [{} for _ in days]
    prev_ids: list[str] = []
    for di, day in enumerate(days):
        ids = [f"{rng.getrandbits(64):016x}" for _ in range(sizes[di])]
        ids += rng.sample(prev_ids, int(len(prev_ids) * REPEAT_SHARE))
        for uid in ids:
            offsets = rng.sample(range(1, 86_000_000_000), _copies(rng, DUP_SHARE))
            for k, off in enumerate(offsets):
                ts, us = _ts(day, off)
                raw = f"r{k}-{rng.getrandbits(32):08x}"
                fact_lines[di].append(
                    f'{{"id":"{uid}","parser":{{"Time":"{ts}"}},'
                    f'"a":{{"MeanThroughputMbps":{rng.randint(1, 9000) / 8},'
                    f'"MinRTT":{rng.randint(1, 4000) / 16}}},"raw":"{raw}"}}'
                )
                best = fact_best[di].get(uid)
                if best is None or us > best[0]:
                    fact_best[di][uid] = (us, raw)
            if rng.random() >= ANN_SHARE:
                continue
            adi = di - 1 if di > 0 and rng.random() < ANN_PREV_SHARE else di
            aday = days[adi]
            for off in rng.sample(range(1, 86_000_000_000), _copies(rng, ANN_DUP_SHARE)):
                ts, us = _ts(aday, off)
                asn = rng.randint(1, 65000)
                cc = rng.choice(_COUNTRIES)
                ann_lines[adi].append(
                    f'{{"id":"{uid}","parser":{{"Time":"{ts}"}},'
                    f'"client":{{"Geo":{{"CountryCode":"{cc}","City":"c{asn % 97}"}},'
                    f'"Network":{{"ASNumber":{asn}}}}},'
                    f'"server":{{"Geo":{{"CountryCode":"{rng.choice(_COUNTRIES)}"}},'
                    f'"Network":{{"ASNumber":{asn + 7}}}}}}}'
                )
                best = ann_best[adi].get(uid)
                if best is None or us > best[0]:
                    ann_best[adi][uid] = (us, asn)
        prev_ids = ids
    input_rows = 0
    for di, day in enumerate(days):
        for datatype, lines in ((FACT, fact_lines[di]), (ANN, ann_lines[di])):
            for _ in range(max(1, round(len(lines) * CORRUPT_SHARE))):
                lines.append('{"id":"corrupt-%x","parser":{"Time":' % rng.getrandbits(32))
            input_rows += len(lines)
            _write_files(rng, day_prefix(landing, datatype, day), lines, extra_field_file=di % FILES_PER_DAY)

    def fp(rows):
        return [len(rows), str(sum(fingerprint(r) for r in rows))]

    expected: dict = {"days": [d.isoformat() for d in days], FACT: {}, ANN: {}, "join": {}}
    for di, day in enumerate(days):
        key = day.isoformat()
        expected[FACT][key] = fp([f"{i}|{us}|{raw}" for i, (us, raw) in fact_best[di].items()])
        expected[ANN][key] = fp([f"{i}|{us}|{asn}" for i, (us, asn) in ann_best[di].items()])
        window = [ann_best[di]] + ([ann_best[di - 1]] if di > 0 else [])
        join_rows, nulls = [], 0
        for i, (us, raw) in fact_best[di].items():
            matches = [w[i][1] for w in window if i in w]
            if not matches:
                nulls += 1
                matches = [-1]
            join_rows += [f"{i}|{us}|{asn}|{raw}" for asn in matches]
        expected["join"][key] = fp(join_rows) + [nulls]
    expected["input_rows"] = input_rows
    return expected


# -- documents / embeddings -----------------------------------------------------


def corpus_copy(dest: str, sf: str, seed: int) -> None:
    """Write ``documents`` and ``embeddings`` of the bundled ``sf`` rung to
    ``dest`` with their row order permuted by ``seed``."""
    import pyarrow.parquet as pq

    os.makedirs(dest, exist_ok=True)
    rng = random.Random(seed)
    for table in ("documents", "embeddings"):
        t = pq.read_table(os.path.join(DATA_DIR, sf, f"{table}.parquet"))
        order = list(range(t.num_rows))
        rng.shuffle(order)
        pq.write_table(t.take(order), os.path.join(dest, f"{table}.parquet"))


def land_docs(corpus_dir: str, landing: str, seed: int, day: date, datatypes: tuple[str, ...], experiment: str) -> int:
    """Land documents left-joined with embeddings as JSONL, one day per
    datatype, in seeded row order across FILES_PER_DAY files. Returns the
    number of rows landed (all datatypes)."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet")).to_pylist()
    embs = {
        r["vec_id"]: r["embedding"]
        for r in pq.read_table(os.path.join(corpus_dir, "embeddings.parquet")).to_pylist()
    }
    rng = random.Random(seed ^ 0x5EED)
    total = 0
    for datatype in datatypes:
        lines = []
        for r in docs:
            ts, _us = _ts(day, rng.randrange(1, 86_000_000_000))
            lines.append(
                json.dumps(
                    {
                        "id": r["doc_id"],
                        "parser": {"Time": ts},
                        "text": r["text"],
                        "embedding": embs.get(r["doc_id"]),
                    }
                )
            )
        total += len(lines)
        _write_files(
            rng,
            os.path.join(landing, BUCKET, experiment, datatype, day.strftime("%Y/%m/%d")),
            lines,
            extra_field_file=None,
        )
    return total


def oracle_rows(corpus_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in ("documents", "embeddings"):
            path = os.path.join(corpus_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        rel = con.execute(sql)
        return [d[0] for d in rel.description], rel.fetchall()
    finally:
        con.close()


# -- order-insensitive value hash (row count + hash, as the oracle gate) -----


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()
