"""Physical-plan quality gates: the properties that make these operators
scale are asserted, not assumed — filter/column pushdown into the parquet
scan, partition pruning on the warehouse date column, broadcast joins for
star dims, WindowGroupLimit for top-k, map-side partial aggregation.
These are the Spark analogues of the reference's cost discipline (every
query prunes to one day partition, cloud/bq/ops.go:192-207)."""

from __future__ import annotations

from datetime import date as Date
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.plans.explain import explain_str
from etl_gardener_spark.plans import queries as Q
from etl_gardener_spark.sources.tables import load_table
from etl_gardener_spark.warehouse import Warehouse

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return explain_str(df, "formatted")


def test_filter_and_column_pushdown_q1(spark):
    df = Q.REGISTRY["q1_pricing_summary"].fn(spark, SF)
    p = plan(df)
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]
    # column pruning: untouched wide columns never leave the scan
    read_schema = p.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema
    # map-side partial agg before the exchange
    assert "partial_sum" in p or "HashAggregate" in p


def test_partition_pruning_on_warehouse_date(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    events = load_table(spark, SF, "events").withColumn("date", F.to_date("ts"))
    wh.append(events, "tmp", "exp", "events")
    df = wh.read_partition(spark, "tmp", "exp", "events", Date(2024, 1, 15))
    p = plan(df)
    # the partition read is confined to the one date directory at plan
    # time (stronger than a PartitionFilters entry: no table-root listing
    # at all), and no other date's directory leaks into the scan
    assert "date=2024-01-15" in p
    assert "date=2024-01-16" not in p


def test_star_join_broadcasts_dims(spark):
    df = Q.REGISTRY["revenue_by_nation"].fn(spark, SF)
    p = plan(df)
    # customer, nation, region joins all plan as broadcasts (formatted
    # output mentions each node twice: tree + details)
    assert p.count("BroadcastHashJoin") >= 6


def test_topk_uses_window_group_limit(spark):
    df = Q.REGISTRY["topk_per_group"].fn(spark, SF)
    p = plan(df)
    # rank<=k pushes a per-key bounded heap below the full window sort
    assert "WindowGroupLimit" in p


def test_annotation_join_is_broadcast(spark):
    """Q2 shape: the deduped annotation side is small -> broadcast; the
    fact side must not shuffle for the join."""
    df = Q.REGISTRY["join_annotation_window"].fn(spark, SF)
    p = plan(df)
    assert "BroadcastHashJoin" in p


def test_dedup_single_shuffle(spark):
    """Keep-best dedup = one Exchange (the window partitioning); no extra
    shuffle creeps in between scan and filter."""
    df = Q.REGISTRY["dedup_keep_best"].fn(spark, SF)
    p = plan(df)
    # formatted output mentions the node twice (tree + details)
    assert p.count("Exchange") == 2


def test_jsonl_load_is_dropmalformed_no_corrupt_column(spark):
    df = Q.REGISTRY["load_jsonl"].fn(spark, SF)
    # count-only query over the JSON scan stays legal (no corrupt-record
    # column in the plan) — regression for QUERY_ONLY_CORRUPT_RECORD_COLUMN
    assert df.count() > 0
    assert "_corrupt_record" not in plan(df)


def test_gap_stats_window_and_agg_share_one_exchange(spark):
    """LAG window and the user-key groupBy use the same partitioning, so
    the whole query is a single shuffle of the filtered purchase rows."""
    df = Q.REGISTRY["purchase_gap_stats"].fn(spark, SF)
    p = plan(df)
    assert p.count("Exchange") == 2  # one node: tree + details
    # the event_type filter reaches the parquet scan
    assert "PushedFilters" in p and "event_type" in p.split("PushedFilters")[1][:200]


def test_postings_no_expand_single_exchange(spark):
    """df derives from the collected posting set, not COUNT(DISTINCT) —
    no Expand/double-aggregate pass; one term-key exchange."""
    df = Q.REGISTRY["doc_postings"].fn(spark, SF)
    p = plan(df)
    assert "Expand" not in p
    assert p.count("Exchange") == 2


def test_anti_join_pushes_price_filter(spark):
    df = Q.REGISTRY["customers_without_big_orders"].fn(spark, SF)
    p = plan(df)
    assert "LeftAnti" in p
    # the o_totalprice predicate is applied before the join build side
    assert "PushedFilters" in p and "o_totalprice" in p.split("PushedFilters", 2)[-1][:300]


def test_pivot_explicit_values_two_aggregated_exchanges(spark):
    """Explicit pivot values: no distinct-collect pre-job. The two-phase
    pivot plan shuffles twice, but both exchanges carry post-aggregation
    rows (|days| x |types|), with partial counts map-side before the
    first."""
    df = Q.REGISTRY["daily_type_pivot"].fn(spark, SF)
    p = plan(df)
    assert p.count("Exchange") == 4  # two nodes: tree + details each
    assert "partial_count" in p and "pivotfirst" in p
    assert "Expand" not in p


def test_gapfill_spine_is_broadcast(spark):
    """The minute spine joins the per-minute aggregate via broadcast —
    raw events are never shuffled by the spine join."""
    df = Q.REGISTRY["minute_gapfill_ffill"].fn(spark, SF)
    p = plan(df)
    assert "Broadcast" in p


def test_approx_distinct_error_bound(spark):
    """HLL++ at rsd=1% must land within 5% of exact on every day (loose
    bound: guards against wiring the wrong column, not sketch quality).
    The query itself emits the bound check as ``sketch_ok`` so the
    driver's oracle hash can see it; this test asserts the same flag."""
    df = Q.REGISTRY["daily_approx_users"].fn(spark, SF)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["exact_users"] > 0
        assert r["sketch_ok"], (r["date"], r["exact_users"])


def test_weekly_sketch_rollup_error_bound(spark):
    """HLL sketch union (lgK=14) weekly rollup within 5% of exact."""
    df = Q.REGISTRY["weekly_users_sketch_rollup"].fn(spark, SF)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["exact_users"] > 0 and r["n_days"] > 0
        assert r["sketch_ok"], (r["week"], r["exact_users"])


PARITY_ROWS = [
    "dedup_keep_best",
    "dedup_delete_set",
    "dedup_legacy_regex_key",
    "dedup_legacy_concat_key",
    "join_annotate",
    "join_annotation_window",
    "copy_partition",
    "delete_partition",
    "upsert_partition",
    "load_jsonl",
    "load_csv",
    "read_schema_evolved",
]


def test_driver_window_contract():
    """The driver oracle-checks the first 50 emitted queries: the window
    list must be exactly 50 known, distinct, oracle-backed names, the 12
    SURVEY.md §2 parity rows must lead (they never rotate), and
    queries()/oracle_sql() must emit them first."""
    assert len(Q.DRIVER_WINDOW) == 50
    assert len(set(Q.DRIVER_WINDOW)) == 50
    assert Q.DRIVER_WINDOW[:12] == PARITY_ROWS
    missing = [n for n in Q.DRIVER_WINDOW if n not in Q.REGISTRY]
    assert not missing, missing
    no_oracle = [n for n in Q.DRIVER_WINDOW if not Q.REGISTRY[n].oracle]
    assert not no_oracle, no_oracle
    assert list(Q.queries())[:50] == Q.DRIVER_WINDOW
    assert list(Q.oracle_sql())[:50] == Q.DRIVER_WINDOW


def test_driver_window_rotates_toward_uncertified():
    """Rotation policy (round-3 verdict): the 38 non-parity slots must be
    mostly (>= 70%) queries WITHOUT a prior driver-certified
    CORRECTNESS_r*.json row, so driver-grade evidence accumulates across
    the registry instead of re-certifying the same window — enforced
    only while enough never-certified names remain to fill the quota.

    "Prior" means certified BEFORE the window was selected: only
    artifacts from rounds < Q.DRIVER_WINDOW_ROUND count. The round-4
    version of this test counted ALL artifacts, so the driver's own
    post-round-close CORRECTNESS file certified exactly the window's
    slots and retroactively falsified the invariant (the round-4
    verdict's one red test); pinning the selection round makes the
    assertion stable across the artifact the window itself produces."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    certified: set[str] = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m and int(m.group(1)) >= Q.DRIVER_WINDOW_ROUND:
            continue  # written by/after this window's own round
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("hash_match"):
                    certified.add(name)
    if not certified:  # fresh clone without driver artifacts
        return
    rotating = [n for n in Q.DRIVER_WINDOW if n not in PARITY_ROWS]
    quota = int(0.7 * len(rotating))
    pool = [
        n for n in Q.REGISTRY
        if n not in certified and n not in PARITY_ROWS and Q.REGISTRY[n].oracle
    ]
    if len(pool) < quota:  # registry nearly exhausted: rotation optional
        return
    fresh = [n for n in rotating if n not in certified]
    assert len(fresh) >= quota, (
        f"only {len(fresh)}/{len(rotating)} window slots are "
        f"never-driver-certified (need >= {quota}); stale: "
        f"{[n for n in rotating if n in certified]}"
    )


def _unpartitioned_windows(df):
    """Catalyst Window nodes in df's optimized logical plan whose
    partitionSpec is EMPTY (a global window: one task ranks the whole
    input). Returns (node, has_aggregate_below) pairs — the boundedness
    gate is that every such window reads a bounded relation, i.e. an
    Aggregate/Distinct sits between it and any leaf scan."""
    out = []

    def walk(node, under_global_window):
        name = node.getClass().getSimpleName()
        if name == "Window" and node.partitionSpec().isEmpty():
            entry = [node, False]
            out.append(entry)
            for i in range(node.children().length()):
                walk_mark(node.children().apply(i), entry)
            return
        for i in range(node.children().length()):
            walk(node.children().apply(i), under_global_window)

    def walk_mark(node, entry):
        if node.getClass().getSimpleName() == "Aggregate":
            entry[1] = True
            return  # bounded below this point; no need to look deeper
        for i in range(node.children().length()):
            walk_mark(node.children().apply(i), entry)

    walk(df._jdf.queryExecution().optimizedPlan(), False)
    return out


def test_bigram_merges_global_topk_is_window_group_limit(spark):
    """Boundedness pin (round-4 verdict): doc_bigram_merges' global
    top-20 must plan a WindowGroupLimit (per-partition top-k heap below
    the final sort — rows beyond rank 20 never cross the wire) and its
    one unpartitioned window must read the post-aggregation pair
    vocabulary, not the raw pair stream. A future edit that points the
    global window at an unbounded relation or loses the rn<=k rewrite
    fails here, not at 100 TB."""
    df = Q.REGISTRY["doc_bigram_merges"].fn(spark, SF)
    p = plan(df)
    # LimitPushDownThroughWindow plans the rn<=20 as TakeOrderedAndProject
    # (per-partition heap + 20-row driver merge) BELOW the window;
    # WindowGroupLimit is the equivalent per-key-heap shape. Either keeps
    # rows beyond rank 20 off the wire; a bare global Sort fails.
    assert "TakeOrderedAndProject" in p or "WindowGroupLimit" in p, p
    wins = _unpartitioned_windows(df)
    assert wins, "expected the global top-k window in the plan"
    assert all(has_agg for _, has_agg in wins), (
        "global window must sit above the pair-count Aggregate"
    )


def test_user_value_deciles_global_window_reads_bucket_aggregate(spark):
    """Boundedness pin (round-4 verdict): user_value_deciles' tier
    window (DENSE_RANK-style row_number over value buckets) is global by
    construction, which is safe ONLY because its input is the DISTINCT
    bucket aggregate (bounded by the value range, not the user count).
    Assert every unpartitioned window in the optimized plan has an
    Aggregate below it so a refactor can't silently rank the raw user
    relation in one task."""
    df = Q.REGISTRY["user_value_deciles"].fn(spark, SF)
    wins = _unpartitioned_windows(df)
    assert wins, "expected the bucket-tier global window in the plan"
    assert all(has_agg for _, has_agg in wins), (
        "global window must sit above the distinct-bucket Aggregate"
    )


def test_emb_near_dup_pairs_is_distributed_blocked_gemm(spark):
    """The driver-graded exact near-dup query must run the distributed
    block-pair GEMM: grouped applyInPandas (FlatMapGroupsInPandas) over
    (block_a, block_b) keys — NOT the broadcast path, whose corpus-wide
    driver collect (a MapInPandas plan with no grouping) is unfit at
    100 TB."""
    df = Q.REGISTRY["emb_near_dup_pairs"].fn(spark, SF)
    p = plan(df)
    assert "FlatMapGroupsInPandas" in p
    assert "CollectLimit" not in p


def test_term_typo_pairs_blocking_is_complete_vs_brute_force(spark, tmp_path):
    """SymSpell completeness pin: on an adversarial random vocabulary
    (the testdata's own vocab is ~31 homogeneous terms), the deletion-
    neighborhood blocked join must return EXACTLY the pairs a brute-force
    O(n^2) Levenshtein scan finds — the blocking may add candidates
    (filtered by the verify step) but must never lose a true pair
    (distance-2 pairs that disagree in their first characters are the
    classic prefix-blocking failure this scheme avoids)."""
    import itertools
    import random

    rng = random.Random(20260814)
    alpha = "abcde"
    vocab = set()
    while len(vocab) < 70:
        w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
        vocab.add(w)
    vocab = sorted(vocab)

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    expected = {
        (a, b, lev(a, b))
        for a, b in itertools.combinations(vocab, 2)
        if lev(a, b) <= 2
    }
    import pyarrow as pa
    import pyarrow.parquet as pq

    # testdata tables are single parquet FILES (not directories)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(vocab)), pa.int64()),
                "text": vocab,
                "lang": ["en"] * len(vocab),
                "source": ["src0"] * len(vocab),
                "n_chars": pa.array([len(w) for w in vocab], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        (r["term_a"], r["term_b"], r["dist"])
        for r in Q.REGISTRY["term_typo_pairs"].fn(spark, str(tmp_path)).collect()
    }
    assert got == expected


def test_term_typo_pairs_blocks_on_deletion_variants(spark):
    """term_typo_pairs must plan the SymSpell deletion-neighborhood
    EQUI-join (variant-key hash/sort-merge join), never the |vocab|^2
    BroadcastNestedLoopJoin a levenshtein theta self-join produces —
    the blocking is what makes the operator survive a web-scale
    vocabulary."""
    df = Q.REGISTRY["term_typo_pairs"].fn(spark, SF)
    p = plan(df)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert (
        "BroadcastHashJoin" in p
        or "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
    )


def test_min_by_is_single_aggregate_no_window(spark):
    """first/last per key via min_by/max_by: one exchange, no Window/Sort
    node — the agg replaces the window+rn=1 shape."""
    df = Q.REGISTRY["user_first_last_event"].fn(spark, SF)
    p = plan(df)
    assert "Window" not in p
    assert p.count("Exchange") == 2


def test_q3_topk_is_take_ordered_not_global_sort(spark):
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition
    heap + driver merge of 10 rows), never a full Sort of the aggregate."""
    df = Q.REGISTRY["q3_shipping_priority"].fn(spark, SF)
    p = plan(df)
    assert "TakeOrderedAndProject" in p
    # the segment filter reaches the customer scan
    assert "c_mktsegment" in p.split("PushedFilters")[1] if "PushedFilters" in p else True


def test_q4_semi_join_no_aggregate_dedup(spark):
    """EXISTS maps to one LeftSemi join — no distinct/aggregate node is
    needed to de-duplicate matched orders."""
    df = Q.REGISTRY["q4_late_ship_priority"].fn(spark, SF)
    p = plan(df)
    assert "LeftSemi" in p


def test_q7_only_fact_join_shuffles(spark):
    """supplier/customer/nation attach by broadcast; the only
    SortMergeJoin/shuffled join pair is lineitem-orders."""
    df = Q.REGISTRY["q7_nation_pair_volume"].fn(spark, SF)
    p = plan(df)
    assert p.count("BroadcastHashJoin") >= 6  # 3 joins x (tree+details)


def test_q11_total_is_broadcast_reuse_not_rescan(spark):
    """The global total aggregates the per-part aggregate and joins back
    by broadcast — lineitem is scanned once per branch at most, and the
    threshold join is a BroadcastNestedLoopJoin/BroadcastHashJoin of a
    1-row side."""
    df = Q.REGISTRY["q11_part_concentration"].fn(spark, SF)
    p = plan(df)
    assert "Broadcast" in p


def test_q16_part_filters_push_to_dim_scan(spark):
    """NOT-IN/IN-list predicates are applied to the part dim before the
    broadcast exchange, not post-join."""
    df = Q.REGISTRY["q16_brand_supplier_cnt"].fn(spark, SF)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "PushedFilters" in p
    pushed = p.split("PushedFilters", 2)
    assert any("p_size" in seg[:300] or "p_brand" in seg[:300] for seg in pushed[1:])


def test_q19_quantity_bounds_push_to_lineitem(spark):
    """Catalyst extracts l_quantity >= 1 AND <= 30 from the OR'd bundles
    and pushes it into the lineitem scan."""
    df = Q.REGISTRY["q19_disjunctive_revenue"].fn(spark, SF)
    p = plan(df)
    assert "PushedFilters" in p and "l_quantity" in p


def test_grouping_sets_single_expand_single_scan(spark):
    """Three granularities, one scan: an Expand node feeds one hash
    aggregate; orders parquet appears once in the plan."""
    df = Q.REGISTRY["orders_grouping_sets"].fn(spark, SF)
    p = plan(df)
    assert "Expand" in p
    assert p.count("orders.parquet") <= 2  # one scan node (tree+details)


def test_vector_norms_narrow_no_exchange_no_python(spark):
    """Higher-order array functions stay JVM-side: no shuffle, no
    Python/Pandas eval node in the plan."""
    df = Q.REGISTRY["emb_vector_norms"].fn(spark, SF)
    p = plan(df)
    assert "Exchange" not in p
    assert "Python" not in p and "ArrowEval" not in p


def test_token_entropy_two_aggregate_levels(spark):
    """Heavy shuffle is on (lang, token) once; the per-lang total joins
    back by broadcast, adding only a tiny aggregate."""
    df = Q.REGISTRY["doc_token_entropy"].fn(spark, SF)
    p = plan(df)
    assert "BroadcastHashJoin" in p


def test_rolling_7d_no_range_join(spark):
    df = Q.REGISTRY["rolling_7d_active_users"].fn(spark, SF)
    p = plan(df)
    # the contribution-explode shape: a Generate (explode) feeds a
    # broadcast spine join — never a range/theta join over days x users
    assert "Generate" in p
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_outliers_broadcasts_stats_not_window(spark):
    df = Q.REGISTRY["value_outliers_by_type"].fn(spark, SF)
    p = plan(df)
    # two-pass shape: per-type stats broadcast back onto the second scan;
    # a partition-by-type Window (one task per type) must NOT appear
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_q17_decorrelates_to_window_not_self_join(spark):
    df = Q.REGISTRY["q17_small_quantity_part_revenue"].fn(spark, SF)
    p = plan(df)
    # the correlated per-part AVG is one window over the brand-filtered
    # slice: exactly two scans total (lineitem + part; the formatted plan
    # names each node twice, tree + details) — no lineitem self-join
    assert "Window" in p
    assert p.count("Scan parquet") == 4


def test_q18_semi_side_is_broadcast(spark):
    df = Q.REGISTRY["q18_large_volume_customers"].fn(spark, SF)
    p = plan(df)
    # the filtered per-order aggregate broadcasts into orders; the big
    # tables never shuffle for this join
    assert "BroadcastHashJoin" in p


def test_heavy_hitters_take_ordered(spark):
    df = Q.REGISTRY["heavy_hitter_terms"].fn(spark, SF)
    p = plan(df)
    # global top-20 must be per-partition heaps + driver merge, never a
    # global sort of the vocabulary
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.split("TakeOrderedAndProject")[0]


def test_scd2_single_exchange(spark):
    df = Q.REGISTRY["scd2_user_attribute"].fn(spark, SF)
    p = plan(df)
    # change-flag LAG, run-id cumsum, period aggregate, and closing LEAD
    # all ride ONE key exchange (formatted output names each node twice)
    assert p.count("Exchange") == 2, p.count("Exchange")
    assert p.count("Window") >= 6  # three window nodes, tree + details


def test_retention_cohort_size_broadcast(spark):
    df = Q.REGISTRY["retention_cohorts"].fn(spark, SF)
    p = plan(df)
    # the cohort-size dimension joins broadcast; the fact is never
    # sort-merge joined
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_referential_integrity_anti_joins_broadcast(spark):
    df = Q.REGISTRY["dq_referential_integrity"].fn(spark, SF)
    p = plan(df)
    # three key-projected LEFT ANTI joins, each against a broadcast
    # distinct-key side; no shuffle join anywhere
    assert p.count("BroadcastHashJoin") >= 3
    assert "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_negative_samples_bounded_heap_and_broadcasts(spark):
    from etl_gardener_spark.operators.similarity import negative_samples
    from etl_gardener_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, SF, "embeddings")
    df = negative_samples(e, e.filter(F.col("vec_id") < 3), k_neg=4)
    p = plan(df)
    # rank<=k pushes a bounded per-query heap below the shuffle; the
    # top-m exclusion and query set are broadcast
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "LeftAnti" in p


def test_line_dedup_two_hash_shuffles_plus_rebuild(spark):
    from etl_gardener_spark.operators.corpus import drop_duplicate_lines

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], ["doc_id", "text"]
    )
    p = plan(drop_duplicate_lines(docs, "text", "doc_id"))
    # verdict aggregate + verdict join-back + per-doc rebuild: the line
    # stream is hash-partitioned at most 3 times (formatted plan names
    # each Exchange twice: tree + details)
    assert p.count("Exchange hashpartitioning") <= 6


def test_mixture_sample_no_driver_collect_shape(spark):
    from etl_gardener_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(20)], ["doc_id", "source"]
    )
    out = mixture_sample(df, "source", {"a": 0.5, "b": 0.5}, "doc_id")
    p = plan(out)
    # quotas and the binding constraint ride broadcasts around ONE window
    # shuffle on the stratum key
    assert "WindowGroupLimit" not in p  # quota is data-dependent: full rank
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_winnow_hash_pipeline_behind_barrier(spark):
    """The winnowed-window expressions must read the hash sequence from a
    materialization barrier, not recompute the md5 pipeline per window
    (Catalyst's CollapseProject would inline it ~30x otherwise)."""
    from etl_gardener_spark.operators.neardup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(30)))], ["doc_id", "text"]
    )
    p = plan(winnow_fingerprints(docs, "text", "doc_id"))
    assert "ExistingRDD" in p or "LogicalRDD" in p  # checkpoint scan
    assert p.count("md5") == 0  # hashing happened before the barrier


def test_dynamic_partition_pruning_on_dim_filtered_join(spark, tmp_path):
    """Dynamic partition pruning (DPP): a fact table partitioned on date,
    joined to a FILTERED dim on the partition column, must plan a
    dynamicpruning subquery on the fact scan — at 100 TB this is what
    turns 'join to this week's calendar' into a 7-partition read instead
    of a full-table scan, with the pruning value discovered at RUNTIME
    from the dim side (static pruning can't see through the join)."""
    wh = Warehouse(str(tmp_path / "wh"))
    events = load_table(spark, SF, "events").withColumn("date", F.to_date("ts"))
    wh.append(events, "tmp", "exp", "events")
    fact = wh.read(spark, "tmp", "exp", "events")
    dim = (
        events.select("date").distinct()
        .withColumn("is_hot", F.col("date") == "2024-01-15")
        .filter(F.col("is_hot"))
    )
    joined = fact.join(dim.hint("broadcast"), "date").groupBy("date").count()
    p = plan(joined)
    assert "dynamicpruning" in p.lower(), p[:2000]


def test_output_contract_lint_catches_r5_failure_classes(spark):
    """Round-6 verdict item 2: the output-contract lint must
    retroactively catch BOTH round-5 driver failures — an array-typed
    top-level column (doc_postings pre-fix) and a ROUND(SUM()) money
    display (stream_sliding_rollup pre-fix) — and stay silent on the
    fixed registry."""
    import sys as _sys

    _sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_lint as PL

    # (a) the pre-fix doc_postings output shape: array<string> postings
    bad = spark.createDataFrame(
        [("t", 1, 1, ["d1", "d2"])], "term string, df long, tf long, postings array<string>"
    )
    v = PL.output_contract_violations(bad)
    assert any("non-scalar" in x and "postings" in x for x in v), v
    # bare DECIMAL display is also flagged
    dec = spark.createDataFrame([(1,)], "x long").select(
        F.col("x").cast("decimal(18,4)").alias("total")
    )
    assert any("DECIMAL" in x for x in PL.output_contract_violations(dec))
    # scalar frames pass
    ok = spark.createDataFrame([("t", 1, "d1 d2")], "term string, df long, postings string")
    assert PL.output_contract_violations(ok) == []

    # (b) the ROUND(SUM()) source rule: the regex matches both engines'
    # pre-fix forms, and the CURRENT tree has zero hits
    import re

    pat = re.compile(r"F\.round\(\s*F\.sum\(|ROUND\(\s*SUM\(", re.IGNORECASE)
    assert pat.search('F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)')
    assert pat.search("ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)")
    assert PL.source_rule_violations() == []


def test_age_based_rotation_prefers_red_and_stale_rows():
    """Round-6 verdict item 8: the round-8+ endgame rotation selects by
    driver-evidence AGE from the committed CORRECTNESS artifacts. Pins:
    a RED row does not count as green evidence (the r5 doc_postings /
    stream_sliding_rollup failures must rank as never-certified), parity
    rows never enter the rotating slots, and the queue is exactly 38."""
    import sys as _sys

    _sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import rotate_window as RW

    from etl_gardener_spark.plans import queries as Q

    lg = RW.last_green_round(6)
    # the two r5 driver-red rows have rows in CORRECTNESS_r05.json but no
    # GREEN row anywhere before round 6
    assert lg.get("doc_postings", 0) == 0
    assert lg.get("stream_sliding_rollup", 0) == 0
    # a green r5 row counts
    assert lg.get("dedup_keep_best") == 5

    q = RW.age_queue(6, list(Q.REGISTRY))
    assert len(q) == 38 and len(set(q)) == 38
    assert not set(q) & set(RW.PARITY)
    assert "doc_postings" in q and "stream_sliding_rollup" in q
    # every selected query is at least as old as every unselected one
    cand = [n for n in Q.REGISTRY if n not in RW.PARITY]
    worst_in = max(lg.get(n, 0) for n in q)
    best_out = min(lg.get(n, 0) for n in cand if n not in q)
    assert worst_in <= best_out


def test_quality_funnel_one_scan_one_exchange_no_join(spark):
    """The funnel must stay a single corpus scan feeding one partial->
    final aggregate pair (one exchange of six longs), with the stage
    rows unpivoted from that one row — no join, no per-stage rescan."""
    df = Q.REGISTRY["doc_quality_filter_funnel"].fn(spark, SF)
    p = plan(df)
    assert "Join" not in p
    # formatted explain names each node twice (tree line + detail header)
    assert p.count("Scan parquet") == 2  # ONE scan node
    assert p.count("Exchange") <= 4      # ONE exchange node (+ AQE read)


def test_bench_record_rolling_band():
    """r10 verdict item 5: the canary gate compares against a rolling
    band over the last up-to-3 committed canaries — one drifted round
    widens the band instead of moving the reference; a single prior
    degenerates to the original +-15% check."""
    from tools.bench_record import rolling_band

    # the actual committed history: r9 0.803 (adjudicated outlier),
    # r10 0.33 (normal box) — both normal-box and outlier-box readings
    # sit inside the band, so neither fails the gate mechanically
    lo, hi, med = rolling_band([0.803, 0.33])
    assert lo <= 0.33 <= hi and lo <= 0.803 <= hi
    assert med == 0.803  # upper median for even windows
    assert not (lo <= 0.25 <= hi) and not (lo <= 0.95 <= hi)
    # single prior: the original +-15% semantics
    lo1, hi1, _ = rolling_band([1.0])
    assert (lo1, hi1) == (0.85, 1.15)
