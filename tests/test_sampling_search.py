"""Unit tests for deterministic sampling/splitting (operators/sampling.py),
BM25 + n-gram search (operators/search.py), PII scrubbing
(functions/scrub.py), and corpus line dedup (corpus.drop_duplicate_lines)
on crafted inputs with hand-computed answers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.functions import scrub as SC
from etl_gardener_spark.operators import corpus as CP
from etl_gardener_spark.operators import sampling as SP
from etl_gardener_spark.operators import search as SR


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 1000).withColumnRenamed("id", "doc_id")


# ---------------------------------------------------------------------------
# hash_split
# ---------------------------------------------------------------------------


def test_hash_split_total_coverage_and_fractions(ids):
    out = SP.hash_split(ids, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 1000
    # md5 buckets are uniform: 1000 draws, each split within generous CI
    assert 700 <= counts["train"] <= 900
    assert 50 <= counts["val"] <= 160
    assert 50 <= counts["test"] <= 160


def test_hash_split_deterministic_and_partition_independent(spark, ids):
    a = {r["doc_id"]: r["split"] for r in SP.hash_split(ids, "doc_id", {"a": 0.5, "b": 0.5}).collect()}
    shuffled = ids.repartition(17, "doc_id")
    b = {r["doc_id"]: r["split"] for r in SP.hash_split(shuffled, "doc_id", {"a": 0.5, "b": 0.5}).collect()}
    assert a == b
    # appending new rows never moves an existing id's split
    bigger = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    c = {r["doc_id"]: r["split"] for r in SP.hash_split(bigger, "doc_id", {"a": 0.5, "b": 0.5}).collect()}
    assert all(c[k] == v for k, v in a.items())


def test_hash_split_is_narrow_no_exchange(ids):
    plan = SP.hash_split(ids, "doc_id", {"a": 0.9, "b": 0.1})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_split_thresholds_normalize_and_cover():
    t = SP.split_thresholds({"x": 2.0, "y": 2.0})
    assert t == [("x", 500_000), ("y", 1_000_000)]
    with pytest.raises(ValueError):
        SP.split_thresholds({"x": 0.0})


# ---------------------------------------------------------------------------
# stratified_sample / sample_cap_per_key
# ---------------------------------------------------------------------------


def test_stratified_sample_exact_fraction(spark):
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = SP.stratified_sample(df, ["lang"], 0.1, "doc_id")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 90, "small": 10}  # exact ceil(frac*n)


def test_stratified_sample_min_rows_floor(spark):
    df = spark.createDataFrame([(1, "tiny"), (2, "tiny")], ["doc_id", "lang"])
    out = SP.stratified_sample(df, ["lang"], 0.01, "doc_id")
    assert out.count() == 1  # ceil(0.02)=1 == min_rows floor


def test_stratified_sample_membership_stable_under_append(spark):
    base = spark.createDataFrame([(i, "l") for i in range(100)], ["doc_id", "lang"])
    s1 = {r["doc_id"] for r in SP.stratified_sample(base, ["lang"], 0.2, "doc_id").collect()}
    # appending ids can only ADD members at the tail of the hash order if
    # their rank falls inside the enlarged quota; lowest-ranked existing
    # members stay. Verify the common case: same data twice -> same set.
    s2 = {r["doc_id"] for r in SP.stratified_sample(base.repartition(7), ["lang"], 0.2, "doc_id").collect()}
    assert s1 == s2


def test_sample_cap_per_key(spark):
    rows = [(i, f"s{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = SP.sample_cap_per_key(df, ["source"], 4, "doc_id")
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"s0": 4, "s1": 4, "s2": 4}
    with pytest.raises(ValueError):
        SP.sample_cap_per_key(df, ["source"], 0, "doc_id")


def test_mixture_sample_hits_target_shares(spark):
    # src a: 100 docs, b: 60, c: 10. Targets 50/30/20 -> binding stratum
    # is c (10/0.2 = 50): quotas floor(.5*50)=25, floor(.3*50)=15, 10.
    rows = (
        [(i, "a") for i in range(100)]
        + [(1000 + i, "b") for i in range(60)]
        + [(2000 + i, "c") for i in range(10)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = SP.mixture_sample(df, "source", {"a": 0.5, "b": 0.3, "c": 0.2}, "doc_id")
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 25, "b": 15, "c": 10}


def test_mixture_sample_excludes_unspecified_strata_and_is_stable(spark):
    rows = [(i, ["a", "b", "junk"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out1 = SP.mixture_sample(df, "source", {"a": 0.5, "b": 0.5}, "doc_id")
    assert out1.filter(F.col("source") == "junk").count() == 0
    got1 = {r["doc_id"] for r in out1.collect()}
    got2 = {r["doc_id"] for r in SP.mixture_sample(df.repartition(11), "source", {"a": 0.5, "b": 0.5}, "doc_id").collect()}
    assert got1 == got2
    with pytest.raises(ValueError):
        SP.mixture_sample(df, "source", {}, "doc_id")
    with pytest.raises(ValueError):
        SP.mixture_sample(df, "source", {"a": -1.0}, "doc_id")


def expected_counts(weights, total_rows, mod=SP.SPLIT_MOD):
    """Expected rows per split under perfectly uniform bucketing, from
    the quantized split thresholds."""
    out = {}
    prev = 0
    for name, hi in SP.split_thresholds(weights, mod):
        out[name] = math.ceil(total_rows * (hi - prev) / mod)
        prev = hi
    return out


def test_expected_counts_quantization():
    got = expected_counts({"train": 0.96, "val": 0.02, "test": 0.02}, 100)
    assert got == {"train": 96, "val": 2, "test": 2}


# ---------------------------------------------------------------------------
# BM25 / n-grams
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mini_corpus(spark):
    rows = [
        (1, "spark join spark join spark"),  # heavy on both terms
        (2, "spark window filter scan"),  # one term each
        (3, "filter scan shuffle sort"),  # no query terms
        (4, "join join join join join join"),  # heavy single term
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bm25_ranks_multi_term_docs_first(mini_corpus):
    out = SR.bm25_topk(mini_corpus, "text", "doc_id", ["spark", "join"], k=10).collect()
    ranked = [r["doc"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1  # both terms, high tf
    assert 3 not in ranked  # no hit terms -> absent
    by_doc = {r["doc"]: r for r in out}
    assert by_doc[1]["n_hit_terms"] == 2
    assert by_doc[4]["n_hit_terms"] == 1
    assert all(r["score"] > 0 for r in out)


def test_bm25_k_truncates(mini_corpus):
    out = SR.bm25_topk(mini_corpus, "text", "doc_id", ["spark", "join"], k=1).collect()
    assert len(out) == 1 and out[0]["rank"] == 1


def test_bm25_idf_downweights_common_terms(spark):
    # "the" in every doc, "rare" in one: the rare-term doc must outrank a
    # doc with the same tf of the common term.
    rows = [(i, "the filler text") for i in range(1, 10)] + [(10, "rare filler text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc"]: r["score"] for r in SR.bm25_topk(df, "text", "doc_id", ["the", "rare"], k=10).collect()}
    assert out[10] > max(v for k, v in out.items() if k != 10)


def test_bm25_plan_broadcasts_stats_no_smj_no_python(mini_corpus):
    """The postings side must join corpus stats and per-term df via
    broadcast (never a sort-merge shuffle of the postings), and the whole
    score pipeline stays JVM-side."""
    out = SR.bm25_topk(mini_corpus, "text", "doc_id", ["spark", "join"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # dfreq
    assert "BroadcastNestedLoopJoin" in plan  # one-row (N, avgdl)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_ngrams_counts_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")], ["doc_id", "text"]
    )
    out = {(r["ngram"]): (r["cnt"], r["rank"]) for r in SR.topk_ngrams(df, "text", n=2, k=10).collect()}
    # "a b": doc1 twice + doc2 once = 3; "b a": 1; "b c": 1; doc3 too short
    assert out["a b"] == (3, 1)
    assert out["b a"][0] == 1 and out["b c"][0] == 1
    # tie broken by ngram string: "b a" < "b c"
    assert out["b a"][1] < out["b c"][1]
    assert len(out) == 3


# ---------------------------------------------------------------------------
# scrub
# ---------------------------------------------------------------------------


def test_redact_all_kinds(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@x.org visit https://x.org/a?b=1 from 10.0.0.1 call +1 (555) 123-4567 end")],
        ["id", "t"],
    )
    got = df.select(SC.redact("t").alias("r")).collect()[0]["r"]
    assert "<EMAIL>" in got and "<URL>" in got and "<IP>" in got and "<PHONE>" in got
    assert "a.b@x.org" not in got and "10.0.0.1" not in got


def test_redact_url_wins_over_inner_email(spark):
    # userinfo-style URL: the email-shaped substring belongs to the URL
    df = spark.createDataFrame([(1, "see https://user@host.com/path ok")], ["id", "t"])
    got = df.select(SC.redact("t").alias("r")).collect()[0]["r"]
    assert got == "see <URL> ok"


def test_pii_counts(spark):
    df = spark.createDataFrame(
        [(1, "a@b.co c@d.io and http://e.fg plus 1.2.3.4")], ["id", "t"]
    )
    row = df.select(*SC.pii_counts("t")).collect()[0]
    assert (row["n_email"], row["n_url"], row["n_ip"]) == (2, 1, 1)
    assert row["n_phone"] == 0


# ---------------------------------------------------------------------------
# drop_duplicate_lines
# ---------------------------------------------------------------------------


def test_drop_duplicate_lines_removes_cross_doc_boilerplate(spark):
    boiler = "accept cookies"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha\n{boiler}\nunique beta"),
            (2, f"{boiler}\nonly here"),
            (3, "totally distinct"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in CP.drop_duplicate_lines(docs, "text", "doc_id").collect()}
    assert out[1]["text"] == "unique alpha\nunique beta"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_dropped"] == 1
    assert out[2]["text"] == "only here"
    assert out[3]["text"] == "totally distinct"
    assert out[3]["n_lines_dropped"] == 0


def test_drop_duplicate_lines_preserves_order_and_repeats_within_doc(spark):
    # a line repeated only WITHIN one doc is kept (countDistinct docs == 1)
    docs = spark.createDataFrame(
        [(1, "x\ny\nx\nz")], ["doc_id", "text"]
    )
    out = CP.drop_duplicate_lines(docs, "text", "doc_id").collect()[0]
    assert out["text"] == "x\ny\nx\nz"


def test_drop_duplicate_lines_empty_when_all_shared(spark):
    docs = spark.createDataFrame(
        [(1, "same"), (2, "same")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in CP.drop_duplicate_lines(docs, "text", "doc_id").collect()}
    assert out[1]["text"] == "" and out[1]["n_lines_kept"] == 0
    assert out[2]["text"] == ""


def test_drop_duplicate_lines_normalized_matching(spark):
    # normalization: case- and padding-insensitive dup detection, but the
    # ORIGINAL line text is what survives/drops
    docs = spark.createDataFrame(
        [(1, "Hello World\nmine"), (2, "  hello world \nyours")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in CP.drop_duplicate_lines(docs, "text", "doc_id").collect()}
    assert out[1]["text"] == "mine"
    assert out[2]["text"] == "yours"


def test_drop_duplicate_lines_null_text_round_trips_like_empty(spark):
    """A NULL-text doc must survive (as one blank kept line), exactly
    like an empty-string doc — split(NULL) yields no posexplode rows and
    used to silently drop the document from the output."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real content")], schema
    )
    out = {r["doc_id"]: r for r in CP.drop_duplicate_lines(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3}  # the NULL-text doc is NOT dropped
    # NULL round-trips identically to empty: one blank structural line
    for i in (1, 2):
        assert out[i]["text"] == ""
        assert out[i]["n_lines_kept"] == 1
        assert out[i]["n_lines_dropped"] == 0


def test_hash_split_on_group_key_is_group_atomic(spark):
    """Splitting on a GROUP column keeps every group member in one split
    (the leakage-prevention variant): the split is a pure function of
    the group key, so intra-group rows can never straddle train/test."""
    rows = [(i, f"g{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    out = SP.hash_split(df, "grp", {"train": 0.8, "test": 0.2})
    per_group = (
        out.groupBy("grp").agg(F.countDistinct("split").alias("k")).collect()
    )
    assert all(r["k"] == 1 for r in per_group)


def test_dsir_scores_match_python_reference(spark):
    """dsir_scores vs a transparent python reference: same md5 buckets,
    same add-1 smoothed ln ratio, same integer-micro quantization, same
    (score desc, id asc) ranking and ceil(frac*n) selection."""
    import hashlib

    docs = [
        (0, "good clean prose about spark", "t"),
        (1, "good clean prose", "t"),
        (2, "spam spam buy now", "c"),
        (3, "good prose about spark joins", "c"),
        (4, "buy now spam offer", "c"),
        (5, "", "c"),  # token-less candidate still ranks with score 0
        (6, "clean spark prose", "c"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, grp string")
    out = {
        r["doc_id"]: r
        for r in SP.dsir_scores(
            df, "text", "doc_id", F.col("grp") == "t", n_buckets=64,
            keep_frac=0.5,
        ).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 64

    ct, cs = {}, {}
    for _, text, grp in docs:
        for tok in text.split():
            d = ct if grp == "t" else cs
            d[bucket(tok)] = d.get(bucket(tok), 0) + 1
    nt, ns = sum(ct.values()), sum(cs.values())
    w = {
        b: math.floor(
            (
                math.log((ct.get(b, 0) + 1) / (nt + 64))
                - math.log((cs.get(b, 0) + 1) / (ns + 64))
            )
            * 1e6
            + 0.5
        )
        for b in set(ct) | set(cs)
    }
    exp = {
        i: sum(w[bucket(t)] for t in text.split())
        for i, text, grp in docs
        if grp == "c"
    }
    assert set(out) == set(exp)
    for i, s_e6 in exp.items():
        assert out[i]["dsir_score"] == s_e6 / 1e6, i
        assert out[i]["n_toks"] == len(docs[i][1].split()), i
    order = sorted(exp, key=lambda i: (-exp[i], i))
    n_sel = math.ceil(0.5 * len(exp))
    for rank, i in enumerate(order, start=1):
        assert out[i]["rank"] == rank
        assert out[i]["selected"] == (rank <= n_sel)
