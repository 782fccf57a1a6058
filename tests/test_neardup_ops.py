"""Unit tests for the dedup family and similarity operators on crafted
corpora with known answers (SURVEY.md §7 extensions; the oracle-driven
registry tests cover the driver tables, these cover operator semantics on
adversarial inputs: exact dupes, near dupes, short docs, empty sets)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_gardener_spark.operators import neardup as ND
from etl_gardener_spark.operators import similarity as SIM

DOCS = [
    # near-identical pair (1-word diff in 12): high jaccard
    (1, "the quick brown fox jumps over the lazy dog near the river"),
    (2, "the quick brown fox jumps over the lazy cat near the river"),
    # exact duplicate of 1 (different id)
    (3, "the quick brown fox jumps over the lazy dog near the river"),
    # unrelated
    (4, "completely different content about spark partitions and shuffles"),
    # too short for 3-shingles
    (5, "two words"),
    # whitespace/case variant of 4 (exact-dup after normalization)
    (6, "  Completely   DIFFERENT content about spark partitions and shuffles "),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_shingle_sets_drops_short_docs(docs):
    sh = ND.shingle_sets(docs, "text", "doc_id")
    got = {r.doc_id: r.sh for r in sh.collect()}
    assert 5 not in got  # < 3 tokens -> no shingles
    assert got[1][0] == "the quick brown"
    assert len(got[1]) == 10  # 12 tokens, distinct 3-grams
    # hash sets align 1:1 with string sets
    shh = {r.doc_id: r.sh for r in ND.shingle_hash_sets(docs, "text", "doc_id").collect()}
    assert set(shh) == set(got)
    assert all(len(shh[k]) == len(got[k]) for k in got)
    assert all(isinstance(h, int) and 0 <= h < 1 << 60 for h in shh[1])


def test_exact_dedup_and_groups(docs):
    groups = ND.exact_dup_groups(docs, "text", "doc_id").collect()
    by_keep = {r.keep_id: r.n_copies for r in groups}
    assert by_keep[1] == 2  # docs 1,3
    assert by_keep[4] == 2  # docs 4,6 (normalization: case+whitespace)
    assert by_keep[2] == 1 and by_keep[5] == 1
    kept = {r.doc_id for r in ND.exact_dedup(docs, "text", "doc_id").collect()}
    assert kept == {1, 2, 4, 5}


def test_jaccard_pairs_exact(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ND.jaccard_pairs(docs, "text", "doc_id", threshold=0.3).collect()
    }
    assert pairs[(1, 3)] == 1.0  # exact dup
    assert pairs[(4, 6)] == 1.0  # normalized dup
    # 1 vs 2: tokens differ in 1 of 12 -> 3 of 10 distinct shingles differ
    assert pairs[(1, 2)] == pairs[(2, 3)] == pytest.approx(7 / 13, abs=1e-6)
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in ND.minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.3
        ).collect()
    }
    # identical docs share every band -> always candidates; verified jaccard 1
    assert out[(1, 3)] == 1.0
    assert out[(4, 6)] == 1.0
    # LSH affects recall only: any reported jaccard matches the exact value
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ND.jaccard_pairs(docs, "text", "doc_id", threshold=0.3).collect()
    }
    for k, v in out.items():
        assert exact[k] == v


def test_minhash_signature_shape_and_determinism(docs):
    s1 = ND.minhash_signature(docs, "text", "doc_id", num_hashes=8, materialize=False)
    assert [f"sig_{i}" for i in range(8)] == s1.columns[1:]
    a = {tuple(r) for r in s1.collect()}
    b = {tuple(r) for r in ND.minhash_signature(
        docs, "text", "doc_id", num_hashes=8, materialize=False).collect()}
    assert a == b  # md5-derived, no RNG
    # identical docs -> identical signatures
    rows = {r.doc_id: tuple(r)[1:] for r in s1.collect()}
    assert rows[1] == rows[3]


def test_simhash_near_pairs(docs):
    sim = ND.simhash(docs, "text", "doc_id")
    vals = {r.doc_id: r.simhash for r in sim.collect()}
    assert vals[1] == vals[3]
    assert 0 <= vals[1] < 1 << 32
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in ND.simhash_near_pairs(sim, "doc_id", max_hamming=3).collect()
    }
    assert pairs[(1, 3)] == 0
    with pytest.raises(ValueError):
        ND.simhash_near_pairs(sim, "doc_id", max_hamming=8, bands=4)


def test_incremental_simhash_dedup(spark):
    """Min-id survivor semantics of the incremental SimHash member:
    a batch doc matching the store reports dup_of_store, a batch doc
    matching only an EARLIER batch doc reports dup_in_batch, and a
    later batch dup of a store-matched doc still prefers the smaller
    store id (min-id overall, like the MinHash twin)."""
    store_docs = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near the river"),
            (12, "completely different content about spark partitions and shuffles"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            # exact dup of store doc 10 -> dup_of_store, hamming 0
            (21, "the quick brown fox jumps over the lazy dog near the river"),
            # case/whitespace variant of 21 -> matches BOTH store 10 and
            # earlier batch 21; min-id picks the store doc
            (23, "  The  QUICK brown fox jumps over the lazy dog near the river "),
            # batch-internal pair with no store match
            (25, "unrelated essay on tokenizers vocabularies and byte pairs"),
            (27, "unrelated essay on tokenizers vocabularies and byte pairs"),
        ],
        ["doc_id", "text"],
    )
    store_sig = ND.simhash(store_docs, "text", "doc_id")
    out = {
        r.doc_id: (r.dup_of, r.hamming, r.status)
        for r in ND.incremental_simhash_dedup(
            batch, store_sig, "text", "doc_id", max_hamming=3, bands=4
        ).collect()
    }
    assert out[21] == (10, 0, "dup_of_store")
    assert out[23] == (10, 0, "dup_of_store")
    assert out[25][2] == "unique"
    assert out[27] == (25, 0, "dup_in_batch")
    with pytest.raises(ValueError):
        ND.incremental_simhash_dedup(
            batch, store_sig, "text", "doc_id", max_hamming=5, bands=4
        )


def test_simhash_near_pairs_wide_hash_is_lossless(spark):
    """The ``bits`` width knob (the 100 TB scale lever — see SCALE.md
    round-5 ladder): 64-bit hashes banded 8-ways must find EXACTLY the
    brute-force Hamming<=7 pairs. Crafted values exercise a same-band
    near-miss (differs by 8 in one nibble-spread), an exact dup, and
    far-apart values."""
    vals = [
        (0, 0x0123_4567_89AB_CDEF),
        (1, 0x0123_4567_89AB_CDEF),            # identical -> hamming 0
        (2, 0x0123_4567_89AB_CDE0),            # last nibble: 4 bits differ
        (3, 0x0123_4567_89AB_0000),            # 10 bits differ from 0 -> out
        (4, 0xFFFF_FFFF_FFFF_FFFF - 2**63),    # far from everything
    ]
    # keep in signed-long range
    rows = [(i, v if v < 2**63 else v - 2**64) for i, v in vals]
    sim = spark.createDataFrame(rows, ["doc_id", "simhash"])
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in ND.simhash_near_pairs(
            sim, "doc_id", max_hamming=7, bands=8, bits=64
        ).collect()
    }
    brute = {}
    for i, (ia, va) in enumerate(rows):
        for ib, vb in rows[i + 1:]:
            h = bin((va ^ vb) & (2**64 - 1)).count("1")
            if h <= 7:
                brute[(ia, ib)] = h
    assert got == brute and (0, 1) in got and got[(0, 2)] == 4
    with pytest.raises(ValueError):
        ND.simhash_near_pairs(sim, "doc_id", max_hamming=7, bands=7, bits=64)


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # ~cos 0.9939 with 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    (4, [1.0, 0.0, 0.0, 0.0]),   # identical to 0
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def test_cosine_topk(vecs):
    out = SIM.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(
        (r.rank, r.neighbor_id, r.score) for r in out.collect()
    )
    assert rows[0][1] == 4 and rows[0][2] == 1.0
    assert rows[1][1] == 1 and rows[1][2] == pytest.approx(0.993884, abs=1e-5)


def test_cosine_topk_sq8(vecs):
    """SQ8 two-stage ANN: exact rerank reproduces cosine_topk's answer
    when the candidate stage keeps enough rows, codes stay in [0, 255],
    and the reported score is the EXACT cosine (not the dequantized
    approximation)."""
    comp = {r.vec_id: r for r in SIM.sq8_compress(vecs).collect()}
    assert comp[0].codes == [255, 0, 0, 0]
    assert all(0 <= c <= 255 for r in comp.values() for c in r.codes)
    out = SIM.cosine_topk_sq8(
        vecs, vecs.filter(F.col("vec_id") == 0), k=2, cand_per_query=4
    )
    rows = sorted((r.rank, r.neighbor_id, r.score) for r in out.collect())
    assert rows[0][1] == 4 and rows[0][2] == 1.0
    assert rows[1][1] == 1 and rows[1][2] == pytest.approx(0.993884, abs=1e-5)


def test_embedding_near_dup_pairs_exact_gemm(vecs):
    out = {
        (r.id_a, r.id_b): r.score
        for r in SIM.embedding_near_dup_pairs(
            vecs, id_col="vec_id", vec_col="embedding", threshold=0.9
        ).collect()
    }
    assert out[(0, 4)] == 1.0
    assert out[(0, 1)] == pytest.approx(0.993884, abs=1e-5)
    assert (1, 4) in out
    assert not any({0, 4} & {a, b} and (2 in (a, b) or 3 in (a, b)) for a, b in out)


def test_incremental_minhash_dedup_statuses(spark):
    """Batch-vs-store dedup semantics on a crafted split: exact dup of a
    store doc -> dup_of_store (even when the store id is LARGER than the
    batch id), dup between two batch docs -> dup_in_batch pointing at the
    smaller id, no match / too-short docs -> unique."""
    store_docs = spark.createDataFrame(
        [
            (2, "the quick brown fox jumps over the lazy dog near the river"),
            (40, "completely different content about spark partitions and shuffles"),
        ],
        ["doc_id", "text"],
    )
    batch_docs = spark.createDataFrame(
        [
            # exact dup of store doc 2
            (11, "the quick brown fox jumps over the lazy dog near the river"),
            # exact dup of store doc 40 — store id LARGER than batch id
            (13, "completely different content about spark partitions and shuffles"),
            # pair of in-batch dups: 17 survives, 19 dups it
            (17, "a totally novel passage speaking about warehouses and parquet files"),
            (19, "a totally novel passage speaking about warehouses and parquet files"),
            # unique content
            (21, "unrelated text mentioning streaming watermarks and stateful sessions"),
            # too short to shingle
            (23, "two words"),
        ],
        ["doc_id", "text"],
    )
    store = ND.minhash_store(store_docs, "text", "doc_id")
    out = {
        r.doc_id: (r.dup_of, r.jaccard, r.status)
        for r in ND.incremental_minhash_dedup(
            batch_docs, store, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert len(out) == 6
    assert out[11] == (2, 1.0, "dup_of_store")
    assert out[13] == (40, 1.0, "dup_of_store")
    assert out[17] == (None, None, "unique")
    assert out[19] == (17, 1.0, "dup_in_batch")
    assert out[21] == (None, None, "unique")
    assert out[23] == (None, None, "unique")


def test_incremental_minhash_equals_full_corpus_pairs(spark):
    """Equivalence property across a corpus of templated near-dups: every
    batch (odd-id) doc's survivor from the incremental path must equal
    the min matching id derived from the FULL corpus's verified LSH pair
    set (store docs any id, batch docs smaller id) — the exact relation
    the registered oracle states."""
    base = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red green blue yellow purple orange pink black",
    ]
    rows = []
    for i in range(24):
        t = base[i % 3]
        if i % 5 == 0:
            t = t + " extra tail token"
        rows.append((i, t))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # the signature store pins its tuning (12 hashes / 4 bands) when
    # written; the full-corpus reference must probe with the SAME
    # banding rather than the corpus-size auto-tune, exactly as an
    # incremental deployment records it (lsh_auto_params docstring)
    full_pairs = {
        (r.id_a, r.id_b)
        for r in ND.minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=12, bands=4, threshold=0.5
        ).collect()
    }
    store_docs = docs.filter(F.col("doc_id") % 2 == 0)
    batch_docs = docs.filter(F.col("doc_id") % 2 == 1)
    store = ND.minhash_store(store_docs, "text", "doc_id")
    got = {
        r.doc_id: r.dup_of
        for r in ND.incremental_minhash_dedup(
            batch_docs, store, "text", "doc_id", threshold=0.5
        ).collect()
    }
    for i in range(1, 24, 2):
        matches = {a for (a, b) in full_pairs if b == i and (a % 2 == 0 or a < i)}
        matches |= {b for (a, b) in full_pairs if a == i and b % 2 == 0}
        expected = min(matches) if matches else None
        assert got[i] == expected, (i, got[i], expected)


def test_incremental_semantic_dedup_statuses(spark):
    """Batch-vs-store SemDeDup: routing to FITTED centroids (no
    re-training), min-id survivor across store (any id, including ids
    larger than the batch's) and earlier batch vectors, unique when no
    same-cluster neighbor clears the threshold."""
    store_vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (40, [0.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    batch_vecs = spark.createDataFrame(
        [
            (11, [1.0, 0.01, 0.0, 0.0]),   # near-dup of store 0
            (13, [0.0, 1.0, 0.0, 0.0]),    # exact dup of store 40 (id > batch id)
            (17, [0.6, 0.8, 0.0, 0.0]),    # no neighbor above threshold
            (19, [0.6, 0.8, 0.0, 0.0]),    # dup of batch 17
            (21, [0.0, 0.0, 1.0, 0.0]),    # orthogonal to everything
        ],
        ["vec_id", "embedding"],
    )
    assign, cents = SIM.kmeans_fit(
        store_vecs, "vec_id", "embedding", k=41, n_iter=1
    )
    store = store_vecs.join(assign, "vec_id")
    out = {
        r.vec_id: (r.dup_of, r.status)
        for r in SIM.incremental_semantic_dedup(
            batch_vecs, store, cents, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    assert len(out) == 5
    assert out[11] == (0, "dup_of_store")
    assert out[13] == (40, "dup_of_store")
    assert out[17] == (None, "unique")
    assert out[19] == (17, "dup_in_batch")
    assert out[21] == (None, "unique")


def test_embedding_near_dup_pairs_blocked_equals_all_pairs_reference(vecs):
    """The block-pair GEMM must produce exactly the pairs and scores of
    an all-pairs numpy reference over the collected fixture (same cosine
    arithmetic, one full matrix instead of block pairs). num_blocks
    exceeding the corpus exercises empty blocks; interleaved residue
    blocks exercise the off-diagonal id ordering."""
    import numpy as np

    rows = vecs.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    scores = (mat @ mat.T) / np.outer(norms, norms)
    keep = (scores >= 0.9) & (ids[:, None] < ids[None, :])
    ref = {
        (int(ids[i]), int(ids[j])): float(np.round(scores[i, j], 6))
        for i, j in zip(*np.nonzero(keep))
    }
    assert ref

    for nb in (1, 2, 3, 7):
        got = {
            (r.id_a, r.id_b): r.score
            for r in SIM.embedding_near_dup_pairs(
                vecs, id_col="vec_id", vec_col="embedding", threshold=0.9,
                num_blocks=nb,
            ).collect()
        }
        assert got == ref, nb


from hypothesis import given, settings, strategies as st

# Small vocab + short docs force heavy shingle collisions and boundary
# jaccard values — the adversarial regime for the prefix filter.
_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc = st.lists(_word, min_size=3, max_size=8).map(" ".join)
_corpus = st.lists(_doc, min_size=2, max_size=8)


@settings(max_examples=10, deadline=None)
@given(texts=_corpus, threshold=st.sampled_from([0.3, 0.5, 0.8]))
def test_property_prefix_filter_is_lossless(spark, texts, threshold):
    """jaccard_pairs's prefix-filtered inverted index (PPJoin positional
    bound + size filter) must return EXACTLY the brute-force all-pairs
    result at any threshold — the filters are pruning optimizations,
    never recall trade-offs."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ND.jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=threshold
        ).collect()
    }

    # brute force in plain Python over the same 3-word shingles
    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingles(t) for i, t in rows if len(t.split()) >= 3}
    want = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                want[(a, b)] = round(inter / union, 6)
    assert got == want


def test_lsh_tuning_matches_threshold_intuition():
    from etl_gardener_spark.operators.neardup import lsh_tuning
    import pytest as _pytest

    # low threshold -> many bands of few rows (catch low-sim pairs);
    # high threshold -> few bands of many rows (only near-identical)
    b_low, r_low = lsh_tuning(24, 0.2)
    b_high, r_high = lsh_tuning(24, 0.9)
    assert b_low * r_low == 24 and b_high * r_high == 24
    assert r_low < r_high and b_low > b_high
    # the classic rule of thumb: threshold ~ (1/b)^(1/r)
    approx_t = (1.0 / b_low) ** (1.0 / r_low)
    assert abs(approx_t - 0.2) < 0.25
    with _pytest.raises(ValueError):
        lsh_tuning(0, 0.5)
    with _pytest.raises(ValueError):
        lsh_tuning(12, 1.5)


def test_winnow_detection_guarantee(spark):
    """Any shared run of >= n + window - 1 tokens must produce at least
    one shared winnowed fingerprint (the winnowing guarantee)."""
    from etl_gardener_spark.operators.neardup import winnow_pairs

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens = n+w-1
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"{shared} seven eight nine ten eleven"),
            (3, "totally different words with no common runs at all"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_pairs(
            docs, "text", "doc_id", n=4, window=4, min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_winnow_fingerprints_sample_span_hashes(spark):
    """Winnowed fingerprints are a subset of the full span-hash set and a
    genuine sample (strictly smaller on long docs)."""
    from etl_gardener_spark.operators.neardup import (
        shingle_hash_sets,
        winnow_fingerprints,
    )

    text = " ".join(f"w{i % 17}" for i in range(60))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    fp = set(winnow_fingerprints(docs, "text", "doc_id", n=4, window=4)
             .collect()[0]["fp"])
    full = set(shingle_hash_sets(docs, "text", "doc_id", n=4)
               .collect()[0]["sh"])
    assert fp <= full
    assert 0 < len(fp) < len(full)


def _py_shingle_hashes(text, n=3):
    import hashlib
    import re as _re

    toks = [t for t in _re.split(r"\s+", text.strip().lower()) if t]
    sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh
    }


def test_containment_pairs_matches_bruteforce(spark):
    """containment_pairs (round 6): ordered pairs with
    |S_a ∩ S_b| / |S_a| >= 0.8 — asymmetric, so the contained-quote
    direction appears while the superset direction does not. Brute-force
    reference over Python-computed 60-bit shingle hashes."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),       # 4 shingles
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "alpha beta gamma delta epsilon zeta"),        # dup of 1
        (4, "unrelated words entirely different content here"),
        (5, "one two"),                                    # too short
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["containment"])
        for r in ND.containment_pairs(df, "text", "doc_id", tau_e2=80).collect()
    }
    sets = {i: _py_shingle_hashes(t) for i, t in rows if len(t.split()) >= 3}
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if inter * 100 >= 80 * len(sa):
                disp = ((2 * inter * 10000 + len(sa)) // (2 * len(sa))) / 1e4
                want[(a, b)] = (inter, len(sa), disp)
    assert got == want, (got, want)
    # doc 1 is fully contained in doc 2; the reverse is not
    assert (1, 2) in got and (2, 1) not in got


def test_split_leakage_report_bruteforce(spark):
    """split_leakage_report: brute-force the same md5 hash split and
    cross-split shingle collisions in Python."""
    import hashlib

    rows = [(i, f"alpha beta gamma delta {i} epsilon zeta eta") for i in range(40)]
    # plant an exact duplicate text across many ids so collisions exist
    rows += [(100 + i, "alpha beta gamma delta shared epsilon zeta eta") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["test_id"]: (r["n_train_dups"], r["max_shared"], r["n_test_shingles"])
        for r in ND.split_leakage_report(
            df, "text", "doc_id", {"train": 0.9, "test": 0.1}, min_shared=2
        ).collect()
    }

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1_000_000

    split = {i: ("train" if bucket(i) < 900_000 else "test") for i, _ in rows}
    sets = {i: _py_shingle_hashes(t) for i, t in rows}
    want = {}
    for t, st in sets.items():
        if split[t] != "test":
            continue
        hits = [
            len(st & sets[tr])
            for tr in sets
            if split[tr] == "train" and len(st & sets[tr]) >= 2
        ]
        if hits:
            want[t] = (len(hits), max(hits), len(st))
    assert out == want, (out, want)
    assert want, "fixture must actually produce leakage rows"


def test_incremental_containment_equals_full_restriction(spark):
    """incremental_containment == containment_pairs restricted to
    batch->store ordered pairs (the contract the oracle states), on a
    corpus with planted quote/superset relations across the split."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),            # store
        (2, "unrelated store words entirely different here"),  # store
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # batch: contains 0? no — 0 in 1
        (3, "alpha beta gamma delta epsilon zeta"),            # batch: dup of 0
        (5, "totally novel batch content nothing shared"),     # batch
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    store = ND.containment_index(df.filter(F.col("doc_id") % 2 == 0), "text", "doc_id")
    got = {
        (r["batch_id"], r["store_id"]): (r["inter"], r["n_batch"], r["containment"])
        for r in ND.incremental_containment(
            df.filter(F.col("doc_id") % 2 == 1), store, "text", "doc_id", tau_e2=80
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["containment"])
        for r in ND.containment_pairs(df, "text", "doc_id", tau_e2=80).collect()
        if r["id_a"] % 2 == 1 and r["id_b"] % 2 == 0
    }
    assert got == full, (got, full)
    # doc 3 (dup of store doc 0) must be flagged; doc 5 must not appear
    assert (3, 0) in got and got[(3, 0)][2] == 1.0
    assert not any(b == 5 for b, _ in got)


def test_containment_capped_bruteforce(spark):
    """max_df + min_size (round 8): cap drops high-df shingles from
    BOTH the intersection and the denominator; the post-cap size floor
    excludes small-residual docs as id_a only. Brute-force reference
    applies the same two levers to Python-computed shingle hash sets."""
    boiler = " common1 common2 common3 common4"  # df = n_docs shingle mass
    rows = [
        (1, "alpha beta gamma delta epsilon zeta" + boiler),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"
            + boiler),
        (3, "alpha beta gamma delta epsilon zeta" + boiler),
        (4, "unrelated words entirely different content here" + boiler),
        (5, "tiny snippet here now" + boiler),  # small post-cap residual
    ]
    max_df, min_size = 3, 4
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["containment"])
        for r in ND.containment_pairs(
            df, "text", "doc_id", tau_e2=80, max_df=max_df, min_size=min_size
        ).collect()
    }
    raw = {i: _py_shingle_hashes(t) for i, t in rows}
    from collections import Counter

    dfreq = Counter(h for s in raw.values() for h in s)
    sets = {
        i: {h for h in s if dfreq[h] <= max_df} for i, s in raw.items()
    }
    want = {}
    for a, sa in sets.items():
        if len(sa) < min_size:
            continue  # floored as id_a ...
        for b, sb in sets.items():
            if a == b:
                continue  # ... but any doc can still be id_b
            inter = len(sa & sb)
            if inter * 100 >= 80 * len(sa):
                disp = ((2 * inter * 10000 + len(sa)) // (2 * len(sa))) / 1e4
                want[(a, b)] = (inter, len(sa), disp)
    assert got == want, (got, want)
    # the boilerplate-only overlap (4 shared high-df shingles) must not
    # create pairs once capped; the true dup pair survives the cap
    assert (1, 3) in got and (4, 1) not in got


def test_blocked_hamming_equals_classic_and_bruteforce(spark):
    """hamming_near_pairs_blocked (round 8, Manku block-combination
    tables) must return EXACTLY the pairs of classic banding and of the
    brute force — the construction affects candidate work, never the
    result. Random-ish 60-bit hashes with planted near groups."""
    import hashlib

    rows = []
    for i in range(60):
        base = int(hashlib.md5(f"h{i // 4}".encode()).hexdigest()[:15], 16)
        # members of a group of 4 differ by <= 2 flips each
        h = base ^ (1 << ((i * 11) % 60)) ^ (1 << ((i * 17 + 5) % 60))
        rows.append((i, h))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")

    def pairs(out):
        return {
            (r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()
        }

    blocked = pairs(
        ND.hamming_near_pairs_blocked(
            df, "doc_id", max_hamming=4, n_blocks=6, bits=60
        )
    )
    classic = pairs(
        ND.simhash_near_pairs(df, "doc_id", max_hamming=4, bands=5, bits=60)
    )
    brute = {}
    for i, hi in rows:
        for j, hj in rows:
            if i < j and bin(hi ^ hj).count("1") <= 4:
                brute[(i, j)] = bin(hi ^ hj).count("1")
    assert blocked == classic == brute
    assert brute, "fixture must plant at least one near pair"


def test_blocked_hamming_parameter_guards(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 7)], "doc_id long, simhash long")
    with _pytest.raises(ValueError):
        ND.hamming_near_pairs_blocked(df, "doc_id", max_hamming=6, n_blocks=6)
    with _pytest.raises(ValueError):
        ND.hamming_near_pairs_blocked(
            df, "doc_id", max_hamming=2, n_blocks=7, bits=60
        )


def test_incremental_winnow_dedup(spark):
    """Incremental winnowing semantics: a batch doc sharing >= 2
    winnowed fingerprints with a store doc reports dup_of_store, an
    in-batch verbatim pair reports dup_in_batch at the smaller id, a
    long unrelated doc is unique, and a doc too short to fingerprint
    (< n + window - 1 tokens) emits no row at all."""
    base = "the quick brown fox jumps over the lazy dog near the wide river bank today"
    other = "completely different essay describing shuffle partitions joins and skew handling in spark"
    store_docs = spark.createDataFrame(
        [(10, base), (12, other)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (21, base),                      # verbatim store dup
            (25, "a fresh unrelated passage about tokenizer vocabularies merges and byte pair encodings"),
            (27, "a fresh unrelated passage about tokenizer vocabularies merges and byte pair encodings"),
            (29, "too short to fingerprint"),
        ],
        ["doc_id", "text"],
    )
    store_fp = ND.winnow_fingerprints(store_docs, "text", "doc_id")
    out = {
        r.doc_id: (r.dup_of, r.status)
        for r in ND.incremental_winnow_dedup(
            batch, store_fp, "text", "doc_id"
        ).collect()
    }
    assert out[21] == (10, "dup_of_store")
    assert out[25][1] == "unique"
    assert out[27] == (25, "dup_in_batch")
    assert 29 not in out  # 4 tokens < n + window - 1 = 7


def _simhash_ref(text: str) -> int:
    """Python mirror of neardup.simhash (md5 first-8-hex token hashes,
    bit-majority with multiplicity over 32 bits)."""
    import hashlib

    toks = [t for t in text.lower().strip().split() if t]
    if not toks:
        return None
    sums = [0] * 32
    for t in toks:
        th = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for b in range(32):
            sums[b] += 1 if (th >> b) & 1 else -1
    return sum(1 << b for b in range(32) if sums[b] > 0)


@settings(max_examples=8, deadline=None)
@given(texts=_corpus, max_hamming=st.sampled_from([1, 3]))
def test_incremental_simhash_matches_brute_force(spark, texts, max_hamming):
    """The banded incremental probe must reproduce the brute-force
    min-id survivor assignment exactly on random small-vocab corpora
    (heavy collisions -> near-dup-dense, the adversarial regime for
    the pigeonhole join)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    store_rows = [(i, t) for i, t in rows if i % 2 == 0]
    batch_rows = [(i, t) for i, t in rows if i % 2 == 1]
    if not batch_rows or not store_rows:
        return
    store_sig = ND.simhash(
        spark.createDataFrame(store_rows, ["doc_id", "text"]), "text", "doc_id"
    )
    got = {
        r.doc_id: (r.dup_of, r.hamming, r.status)
        for r in ND.incremental_simhash_dedup(
            spark.createDataFrame(batch_rows, ["doc_id", "text"]),
            store_sig,
            "text",
            "doc_id",
            max_hamming=max_hamming,
            bands=4,
        ).collect()
    }
    sig = {i: _simhash_ref(t) for i, t in rows if _simhash_ref(t) is not None}
    expect = {}
    for i in (i for i, _ in batch_rows if i in sig):
        cands = [
            (j, bin(sig[i] ^ sig[j]).count("1"))
            for j in sig
            if (j % 2 == 0 or j < i) and j != i
            and bin(sig[i] ^ sig[j]).count("1") <= max_hamming
        ]
        if not cands:
            expect[i] = (None, None, "unique")
        else:
            j, h = min(cands)
            expect[i] = (j, h, "dup_of_store" if j % 2 == 0 else "dup_in_batch")
    assert got == expect


def test_incremental_reingest_id_does_not_self_match(spark):
    """r8 ADVICE guard: a batch doc whose id ALREADY EXISTS in the store
    (re-ingest) must not match its own store row and report
    dup_of = itself. All three signature-store members (MinHash,
    SimHash, winnowing) carry the id_a != id_b guard on the store arm;
    a re-ingested unique doc comes back 'unique', and a re-ingested doc
    that genuinely duplicates ANOTHER store doc still reports that one."""
    base = "the quick brown fox jumps over the lazy dog near the wide river bank today"
    uniq = "completely different essay describing shuffle partitions joins and skew handling in spark"
    store_docs = spark.createDataFrame(
        [(10, base), (14, uniq)], ["doc_id", "text"]
    )
    # id 14 re-ingested with its own unique text; id 16 is new and dups 10
    batch = spark.createDataFrame(
        [(14, uniq), (16, base)], ["doc_id", "text"]
    )

    mh_store = ND.minhash_store(store_docs, "text", "doc_id")
    mh = {
        r.doc_id: (r.dup_of, r.status)
        for r in ND.incremental_minhash_dedup(
            batch, mh_store, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert mh[14] == (None, "unique")
    assert mh[16] == (10, "dup_of_store")

    sh_store = ND.simhash(store_docs, "text", "doc_id")
    sh = {
        r.doc_id: (r.dup_of, r.status)
        for r in ND.incremental_simhash_dedup(
            batch, sh_store, "text", "doc_id", max_hamming=3, bands=4
        ).collect()
    }
    assert sh[14] == (None, "unique")
    assert sh[16] == (10, "dup_of_store")

    wn_store = ND.winnow_fingerprints(store_docs, "text", "doc_id")
    wn = {
        r.doc_id: (r.dup_of, r.status)
        for r in ND.incremental_winnow_dedup(
            batch, wn_store, "text", "doc_id"
        ).collect()
    }
    assert wn[14] == (None, "unique")
    assert wn[16] == (10, "dup_of_store")
