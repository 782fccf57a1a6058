"""LLM-data-pipeline extension queries: text analysis, dedup family
(exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding similarity
search, multimodal feature extraction, streaming rollup.

Every oracle mirrors the Spark computation exactly — same tokenizer, same
md5-derived hashes, same float64 fold order, same rounding — so the
driver's value-hash comparison is bit-stable. Hash-dependent operators are
deterministic BY DESIGN (md5 of content, not RNG): rerunning a 100 TB dedup
job reproduces the same survivor set, which is what makes the pipeline
stages idempotent and restartable.

Integer-ish outputs are cast to BIGINT on the Spark side so schemas line up
with DuckDB (whose len()/row_number() return BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_gardener_spark.functions.localrel import local_df

from etl_gardener_spark.functions import text as TX
from etl_gardener_spark.functions.exact import (
    floor_div_expr,
    floor_div_sql,
    half_up_display_expr,
    half_up_display_sql,
    micro_display,
    micro_sum,
    micro_sum_sql,
)
from etl_gardener_spark.operators import corpus as CP
from etl_gardener_spark.operators import multimodal as MM
from etl_gardener_spark.operators import neardup as ND
from etl_gardener_spark.operators import similarity as SIM
from etl_gardener_spark.parallel import run_jobs
from etl_gardener_spark.plans.queries import query
from etl_gardener_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect, mirroring functions/text.py)
# ---------------------------------------------------------------------------

_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0)"
)

_DOCS_BODY = f"d AS (SELECT *, {_TOKS} AS toks FROM documents)"
_DOCS_CTE = "WITH " + _DOCS_BODY

# 3-token shingles over toks (1-based list indexing)
_SHINGLES = (
    "list_transform(range(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


def _shingles_sql(n: int, toks: str = "toks") -> str:
    """Word n-gram shingles over a token-list column — general-n mirror of
    functions/text.shingles_of (DuckDB range() upper bound is exclusive)."""
    body = " || ' ' || ".join(
        f"{toks}[i+{j}]" if j else f"{toks}[i]" for j in range(n)
    )
    return f"list_transform(range(1, len({toks}) - {n - 2}), i -> {body})"

_EN_STOPS = "['the','a','and','of','to','is','in','it']"


def _h60(s: str) -> str:
    """60-bit shingle hash: md5 first 15 hex chars folded to BIGINT —
    exact mirror of neardup.shingle_hash_sets (Spark conv(substr(md5),16,10))."""
    return (
        f"list_reduce(list_transform(string_split(substr(md5({s}),1,15), ''),"
        " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),"
        " (x, y) -> x * 16 + y)"
    )


# distinct 60-bit shingle hashes per document (neardup.shingle_hash_sets)
_SHINGLE_HASHES = f"list_distinct(list_transform({_SHINGLES}, s -> {_h60('s')}))"


def _stops_sql(lang: str) -> str:
    return "[" + ",".join(f"'{s}'" for s in TX.STOPWORDS[lang]) + "]"


def _hits_sql(lang: str) -> str:
    return (
        f"CAST(len(list_filter(toks, t -> list_contains({_stops_sql(lang)}, t)))"
        " AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "doc_token_stats",
    f"""
    {_DOCS_CTE}
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_regex_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_text,
           ROUND(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                 / len(toks), 4) AS avg_token_len,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr
    FROM d
    """,
    tags=("llm", "text"),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (whitespace + BPE-ish regex counts,
    char count, mean token length, type/token ratio). Pure codegen'd
    expressions — one scan, zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", "text", TX.ws_tokens("text").alias("__toks")
    )
    toks = F.col("__toks")
    return staged.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        TX.regex_token_count("text").cast("long").alias("n_regex_tokens"),
        F.length("text").cast("long").alias("n_chars_text"),
        F.round(TX.avg_token_len_of(toks), 4).alias("avg_token_len"),
        F.round(TX.type_token_ratio_of(toks), 4).alias("ttr"),
    )


@query(
    "doc_quality_score",
    f"""
    {_DOCS_CTE}
    SELECT doc_id,
           FLOOR(CAST(len(list_filter(toks, t -> list_contains({_EN_STOPS}, t)))
                 AS DOUBLE) / len(toks) * 10000 + 0.5) / 10000 AS stopword_ratio,
           FLOOR(CAST(length(text) - length(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
                 * 10000 + 0.5) / 10000 AS punct_ratio,
           FLOOR((0.4 * least(1.0, len(toks) / 100.0)
                 + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                 + 0.3 * (1 - CAST(length(text) - length(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)))
                 * 10000 + 0.5) / 10000 AS quality
    FROM d
    """,
    tags=("llm", "text"),
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality filter features: stopword ratio, punctuation
    ratio, and the composite score (length/diversity/punctuation).

    4-dp display rounding goes through ``floor(x*1e4 + 0.5)/1e4`` on
    BOTH engines, not ROUND(): Spark's ROUND rounds the double's
    SHORTEST DECIMAL REPR half-up while DuckDB rounds the binary value,
    and they disagree when a ratio's shortest repr lands exactly on a
    4-dp midpoint (found at sf0.1: doc 2604's quality prints "0.66075").
    The floor kernel is the identical IEEE expression tree in both
    engines, so the rounded values agree bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text", TX.ws_tokens("text").alias("__toks"))
    toks = F.col("__toks")

    def r4(c):
        return F.floor(c * 10000 + 0.5) / 10000

    length_term = F.least(F.lit(1.0), F.size(toks) / F.lit(100.0))
    quality = r4(
        0.4 * length_term
        + 0.3 * TX.type_token_ratio_of(toks)
        + 0.3 * (1 - TX.punct_ratio("text"))
    )
    return staged.select(
        "doc_id",
        r4(F.try_divide(TX.stopword_hits_of(toks, "en"), F.size(toks))).alias(
            "stopword_ratio"
        ),
        r4(TX.punct_ratio("text")).alias("punct_ratio"),
        quality.alias("quality"),
    )


@query(
    "doc_quality_filter_funnel",
    f"""
    {_DOCS_CTE},
    g AS (SELECT
            (len(toks) BETWEEN 10 AND 1000) AS g1,
            (CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
               / len(toks) BETWEEN 2.0 AND 12.0) AS g2,
            (CAST(length(text) - length(regexp_replace(lower(text),
               '[^a-z0-9\\s]', '', 'g')) AS DOUBLE)
               / length(text) <= 0.25) AS g3,
            (CAST(len(list_filter(toks, t -> list_contains({_EN_STOPS}, t)))
               AS DOUBLE) / len(toks) >= 0.02) AS g4,
            (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.2)
               AS g5
          FROM d),
    agg AS (SELECT
        CAST(COUNT(*) AS BIGINT) AS c0,
        CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END)
             AS BIGINT) AS c3,
        CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
             AS BIGINT) AS c4,
        CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 AND g5 THEN 1 ELSE 0 END)
             AS BIGINT) AS c5
        FROM g)
    SELECT CAST(0 AS BIGINT) AS stage, 'total' AS stage_name,
           c0 AS n_surviving FROM agg
    UNION ALL SELECT 1, 'word_count', c1 FROM agg
    UNION ALL SELECT 2, 'mean_word_len', c2 FROM agg
    UNION ALL SELECT 3, 'punct_ratio', c3 FROM agg
    UNION ALL SELECT 4, 'stopword_ratio', c4 FROM agg
    UNION ALL SELECT 5, 'lexical_diversity', c5 FROM agg
    """,
    tags=("llm", "text", "quality", "funnel"),
)
def doc_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style staged quality-filter FUNNEL: how many documents
    survive each cumulative gate — word count in [10, 1000], mean word
    length in [2, 12], punctuation ratio <= 0.25, stopword ratio >=
    0.02, type/token ratio >= 0.2 (the [[doc_quality_score]] signal
    family as pass/fail gates instead of scores). The observability
    report a pipeline operator reads before committing a filter config
    at corpus scale: which stage is responsible for the drop. ONE
    corpus scan — five boolean projections feed a single partial-
    aggregated global aggregate; the stage rows are a stack-unpivot of
    that one row, so the plan has zero joins and one exchange of six
    longs."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("text", TX.ws_tokens("text").alias("__toks"))
    toks = F.col("__toks")
    g1 = F.size(toks).between(10, 1000)
    g2 = TX.avg_token_len_of(toks).between(2.0, 12.0)
    g3 = TX.punct_ratio("text") <= 0.25
    g4 = F.try_divide(TX.stopword_hits_of(toks, "en"), F.size(toks)) >= 0.02
    g5 = TX.type_token_ratio_of(toks) >= 0.2
    flags = staged.select(
        g1.alias("g1"),
        g2.alias("g2"),
        g3.alias("g3"),
        g4.alias("g4"),
        g5.alias("g5"),
    )

    def survived(*gs):
        cond = gs[0]
        for g in gs[1:]:
            cond = cond & g
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        survived(F.col("g1")).alias("c1"),
        survived(F.col("g1"), F.col("g2")).alias("c2"),
        survived(F.col("g1"), F.col("g2"), F.col("g3")).alias("c3"),
        survived(F.col("g1"), F.col("g2"), F.col("g3"), F.col("g4")).alias(
            "c4"
        ),
        survived(
            F.col("g1"), F.col("g2"), F.col("g3"), F.col("g4"), F.col("g5")
        ).alias("c5"),
    )
    return agg.select(
        F.expr(
            "stack(6, 0L, 'total', c0, 1L, 'word_count', c1,"
            " 2L, 'mean_word_len', c2, 3L, 'punct_ratio', c3,"
            " 4L, 'stopword_ratio', c4, 5L, 'lexical_diversity', c5)"
            " AS (stage, stage_name, n_surviving)"
        )
    )


@query(
    "doc_langid",
    f"""
    {_DOCS_CTE}
    SELECT doc_id,
           {_hits_sql("de")} AS hits_de, {_hits_sql("en")} AS hits_en,
           {_hits_sql("es")} AS hits_es, {_hits_sql("fr")} AS hits_fr,
           {_hits_sql("zh")} AS hits_zh,
           CASE
             WHEN {_hits_sql("de")} = greatest({_hits_sql("de")}, {_hits_sql("en")},
                  {_hits_sql("es")}, {_hits_sql("fr")}, {_hits_sql("zh")}) THEN 'de'
             WHEN {_hits_sql("en")} = greatest({_hits_sql("de")}, {_hits_sql("en")},
                  {_hits_sql("es")}, {_hits_sql("fr")}, {_hits_sql("zh")}) THEN 'en'
             WHEN {_hits_sql("es")} = greatest({_hits_sql("de")}, {_hits_sql("en")},
                  {_hits_sql("es")}, {_hits_sql("fr")}, {_hits_sql("zh")}) THEN 'es'
             WHEN {_hits_sql("fr")} = greatest({_hits_sql("de")}, {_hits_sql("en")},
                  {_hits_sql("es")}, {_hits_sql("fr")}, {_hits_sql("zh")}) THEN 'fr'
             ELSE 'zh'
           END AS lang_pred
    FROM d
    """,
    tags=("llm", "text"),
)
def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: per-language hit counts + argmax
    prediction (alphabetical tie-break)."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", TX.ws_tokens("text").alias("__toks"))
    cols = TX.langid_struct_of(F.col("__toks"))
    hit_cols = [c.cast("long").alias(f"hits_{lg}") for c, lg in
                zip(cols[:-1], sorted(TX.STOPWORDS))]
    return staged.select("doc_id", *hit_cols, cols[-1])


@query(
    "doc_fingerprint",
    f"""
    {_DOCS_CTE}
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           list_aggregate(list_transform({_SHINGLES}, s -> md5(s)), 'min')
             AS shingle_fp
    FROM d
    """,
    tags=("llm", "text", "dedup"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text (exact dedup key) and
    the min-shingle-hash rolling fingerprint (1-slot MinHash)."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text", TX.ws_tokens("text").alias("__toks"))
    return staged.select(
        "doc_id",
        TX.fingerprint_md5("text").alias("fp"),
        F.array_min(
            F.transform(TX.shingles_of(F.col("__toks"), 3), F.md5)
        ).alias("shingle_fp"),
    )


@query(
    "corpus_clean",
    f"""
    {_DOCS_CTE},
    feat AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             FLOOR((0.4 * least(1.0, len(toks) / 100.0)
                   + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                   + 0.3 * (1 - CAST(length(text) - length(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)))
                   * 10000 + 0.5) / 10000 AS quality,
             {_hits_sql("en")} AS hits_en,
             greatest({_hits_sql("de")}, {_hits_sql("en")}, {_hits_sql("es")},
                      {_hits_sql("fr")}, {_hits_sql("zh")}) AS hits_best
      FROM d),
    ranked AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id FROM feat)
    SELECT doc_id,
           CASE
             WHEN doc_id <> keep_id THEN 'dup'
             WHEN quality < 0.5 THEN 'quality'
             WHEN hits_en < hits_best OR hits_en = 0 THEN 'lang'
             ELSE 'ok'
           END AS verdict,
           quality,
           (doc_id = keep_id AND quality >= 0.5
            AND hits_en >= hits_best AND hits_en > 0) AS keep
    FROM ranked
    """,
    tags=("llm", "pipeline"),
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning decision, one pass per doc:
    exact-dup survivor election (min doc_id per content fingerprint),
    quality gate (composite score >= 0.5), language gate (English argmax
    with at least one stopword hit). Emits a verdict ('dup' | 'quality' |
    'lang' | 'ok', first failing gate wins) and the keep flag — the
    SELECT a real pipeline would feed to the filtered-corpus writer.
    Single scan + one window over the fingerprint; all gates share the
    staged token array."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", "text", TX.ws_tokens("text").alias("__toks")
    )
    toks = F.col("__toks")
    length_term = F.least(F.lit(1.0), F.size(toks) / F.lit(100.0))
    # floor kernel, not ROUND — same repr-midpoint hazard as
    # doc_quality_score (doc 2604 prints "0.66075" at sf0.1)
    quality = (
        F.floor(
            (
                0.4 * length_term
                + 0.3 * TX.type_token_ratio_of(toks)
                + 0.3 * (1 - TX.punct_ratio("text"))
            )
            * 10000
            + 0.5
        )
        / 10000
    )
    hits = {lg: TX.stopword_hits_of(toks, lg) for lg in sorted(TX.STOPWORDS)}
    feat = staged.select(
        "doc_id",
        TX.fingerprint_md5("text").alias("fp"),
        quality.alias("quality"),
        hits["en"].alias("hits_en"),
        F.greatest(*hits.values()).alias("hits_best"),
    )
    from pyspark.sql import Window

    keep_id = F.min("doc_id").over(Window.partitionBy("fp"))
    ranked = feat.withColumn("keep_id", keep_id)
    verdict = (
        F.when(F.col("doc_id") != F.col("keep_id"), F.lit("dup"))
        .when(F.col("quality") < 0.5, F.lit("quality"))
        .when(
            (F.col("hits_en") < F.col("hits_best")) | (F.col("hits_en") == 0),
            F.lit("lang"),
        )
        .otherwise(F.lit("ok"))
    )
    return ranked.select(
        "doc_id",
        verdict.alias("verdict"),
        "quality",
        (
            (F.col("doc_id") == F.col("keep_id"))
            & (F.col("quality") >= 0.5)
            & (F.col("hits_en") >= F.col("hits_best"))
            & (F.col("hits_en") > 0)
        ).alias("keep"),
    )


# deterministic per-language sampling rates (basis points of 10000) and
# the train share (percent of kept docs) for doc_sample_split
_SAMPLE_RATES_BP = {"en": 9000, "de": 6000, "fr": 6000, "es": 6000, "zh": 3000}
_DEFAULT_RATE_BP = 5000
_TRAIN_PCT = 90

# 60-bit md5 fold of a salted key, DuckDB side (mirror of Spark
# conv(substr(md5(.),1,15),16,10))
_SAMPLE_H = _h60("'sample:' || CAST(doc_id AS VARCHAR)")
_SPLIT_H = _h60("'split:' || CAST(doc_id AS VARCHAR)")


@query(
    "doc_sample_split",
    f"""
    WITH rated AS (
      SELECT doc_id, lang,
             CASE lang {' '.join(f"WHEN '{lg}' THEN {bp}" for lg, bp in sorted(_SAMPLE_RATES_BP.items()))}
                  ELSE {_DEFAULT_RATE_BP} END AS rate_bp,
             {_SAMPLE_H} % 10000 AS sample_bucket,
             {_SPLIT_H} % 100 AS split_bucket
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN split_bucket < {_TRAIN_PCT} THEN 'train' ELSE 'valid' END
             AS split
    FROM rated WHERE sample_bucket < rate_bp
    """,
    tags=("llm", "sampling"),
)
def doc_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling + train/valid split — the
    downsample-and-split step of a training-data pipeline. Per-language
    keep rates are applied by hashing a salted doc key into basis points
    (md5-derived, so reruns and the oracle reproduce the exact sample —
    no RNG, no seed plumbing across executors); an independently-salted
    second hash assigns train/valid. Pure codegen'd expressions: one scan,
    no shuffle at all — at 100 TB this is a map-only pass."""
    d = load_table(spark, sf_dir, "documents")
    h = lambda salt: (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
    )
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lg, F.lit(bp))
            for lg, bp in sorted(_SAMPLE_RATES_BP.items())
        ],
        F.lit(_DEFAULT_RATE_BP),
    )
    return (
        d.select(
            "doc_id",
            "lang",
            rate.alias("rate_bp"),
            (h("sample:") % 10000).alias("sample_bucket"),
            (h("split:") % 100).alias("split_bucket"),
        )
        .filter(F.col("sample_bucket") < F.col("rate_bp"))
        .select(
            "doc_id",
            "lang",
            F.when(F.col("split_bucket") < _TRAIN_PCT, F.lit("train"))
            .otherwise(F.lit("valid"))
            .alias("split"),
        )
    )


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "doc_profile",
    "\n    UNION ALL ".join(
        f"""
    SELECT '{c}' AS column, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_val,
           CAST(MAX({c}) AS VARCHAR) AS max_val
    FROM documents"""
        for c in _PROFILE_COLS
    ),
    tags=("llm", "maintenance"),
)
def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler (ANALYZE): per-column row/null/distinct counts and
    min/max, one scan, long-format output. The stats feed the same
    decisions BigQuery makes internally and Spark's CBO/AQE make from
    collected statistics: join-side sizing, skew detection, partition
    planning. Exact count-distinct here (hash-expand, one pass) because
    the oracle must match bit-for-bit; at 100 TB swap in
    approx_count_distinct (HLL) — same plan shape, bounded memory."""
    d = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in _PROFILE_COLS:
        aggs += [
            # coalesce: SUM over an EMPTY table is NULL; zero rows have
            # zero nulls (differential-fuzz finding, seed 0)
            F.coalesce(F.sum(F.isnull(c).cast("long")), F.lit(0).cast("long")).alias(
                f"__nn_{c}"
            ),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    one = d.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__mn_{c}").alias("min_val"),
            F.col(f"__mx_{c}").alias("max_val"),
        )
        for c in _PROFILE_COLS
    ]
    return one.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


_PACK_CAPACITY = 400


@query(
    "doc_pack_sequences",
    "WITH RECURSIVE "
    + _DOCS_BODY
    + f""",
    t AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
          FROM d),
    pack(lang, rn, doc_id, n_tokens, bin_id, fill) AS (
      SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens > {_PACK_CAPACITY}
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.fill + t.n_tokens > {_PACK_CAPACITY}
                  THEN t.n_tokens ELSE p.fill + t.n_tokens END
      FROM pack p JOIN t ON t.lang = p.lang AND t.rn = p.rn + 1)
    SELECT doc_id, lang, n_tokens, bin_id FROM pack
    """,
    tags=("llm", "packing"),
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: next-fit bin packing of documents into
    400-token bins, one bin stream per language, deterministic in doc_id
    order (operators/packing.py). The oracle replays the identical fold as
    a recursive CTE. Genuinely sequential per stratum — the distributed
    axis is the stratum, exactly how a 100 TB pipeline shards it."""
    from etl_gardener_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(TX.ws_tokens("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        toks, "doc_id", "n_tokens", ["lang"], capacity=_PACK_CAPACITY
    )


@query(
    "doc_pack_efficiency",
    "WITH RECURSIVE "
    + _DOCS_BODY
    + f""",
    t AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
          FROM d),
    pack(lang, rn, doc_id, n_tokens, bin_id, fill) AS (
      SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens > {_PACK_CAPACITY}
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.fill + t.n_tokens > {_PACK_CAPACITY}
                  THEN t.n_tokens ELSE p.fill + t.n_tokens END
      FROM pack p JOIN t ON t.lang = p.lang AND t.rn = p.rn + 1),
    per_bin AS (SELECT lang, bin_id, CAST(SUM(n_tokens) AS BIGINT) AS fill
                FROM pack GROUP BY 1, 2),
    agg AS (SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_bins,
                   CAST(SUM(fill) AS BIGINT) AS total_tokens,
                   CAST(MAX(fill) AS BIGINT) AS max_bin_fill,
                   CAST(SUM(CASE WHEN fill > {_PACK_CAPACITY} THEN 1
                            ELSE 0 END) AS BIGINT) AS n_overflow_bins
            FROM per_bin GROUP BY lang),
    docs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM pack GROUP BY lang)
    SELECT a.lang, d.n_docs, a.n_bins, a.total_tokens, a.max_bin_fill,
           a.n_overflow_bins,
           FLOOR(CAST(a.total_tokens AS DOUBLE)
                 / (a.n_bins * {_PACK_CAPACITY}) * 10000 + 0.5) / 10000
             AS fill_rate
    FROM agg a JOIN docs d USING (lang)
    """,
    tags=("llm", "packing", "quality"),
)
def doc_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over [[doc_pack_sequences]]' next-fit
    assignment: per language — docs, bins, total tokens, the largest
    bin fill, overflow bins (single docs heavier than the 400-token
    capacity), and the capacity-weighted fill rate. The number that
    tells you how much context window the packer wastes BEFORE paying
    for a training run; a fill rate well under ~0.9 says the corpus
    length distribution and the capacity are mismatched. Plan: the
    pack assignment's stratum-parallel applyInPandas pass, then two
    stacked hash aggregates (bin then lang) — the rollup adds no
    corpus-sized shuffle beyond packing itself. The oracle extends the
    recursive pack CTE (sf0.01-exact); bigger-SF sweeps route through
    the linear PY_ORACLES reference in tools/compare_strict.py, same
    discipline as the parent query."""
    from etl_gardener_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.size(TX.ws_tokens("text")).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        toks, "doc_id", "n_tokens", ["lang"], capacity=_PACK_CAPACITY
    )
    per_bin = packed.groupBy("lang", "bin_id").agg(
        F.sum("n_tokens").cast("long").alias("fill"),
        F.count(F.lit(1)).cast("long").alias("n_docs_bin"),
    )
    return per_bin.groupBy("lang").agg(
        F.sum("n_docs_bin").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("fill").cast("long").alias("total_tokens"),
        F.max("fill").cast("long").alias("max_bin_fill"),
        F.sum(F.when(F.col("fill") > _PACK_CAPACITY, 1).otherwise(0))
        .cast("long")
        .alias("n_overflow_bins"),
        (
            F.floor(
                F.sum("fill").cast("double")
                / (F.count(F.lit(1)) * _PACK_CAPACITY)
                * 10000
                + 0.5
            )
            / 10000
        ).alias("fill_rate"),
    )


_TFIDF_K = 3


@query(
    "doc_tfidf_top_terms",
    f"""
    {_DOCS_CTE},
    t AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
               AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * (ln((n.n_docs + 1.0)
                                  / (dfreq.df + 1.0)) + 1.0) DESC, tf.term)
               AS rn
      FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, tfidf FROM scored WHERE rn <= {_TFIDF_K}
    """,
    tags=("llm", "text"),
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, sklearn-style smoothing). Plan shape:
    explode -> two hash aggregates (map-side combined) -> broadcast of the
    1-row corpus count -> document-term join -> per-doc WindowGroupLimit
    top-k. The doc-frequency side shuffles |vocabulary| rows, not
    |tokens|; ties break on the term itself so results are total-ordered
    and hash-stable."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", TX.ws_tokens("text").alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("doc_id", F.explode_outer("__toks").alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    score = F.col("tf") * (
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    )
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_K)
        .select("doc_id", "term", "tf", F.round(score, 6).alias("tfidf"))
    )


@query(
    "doc_postings",
    f"""
    {_DOCS_CTE},
    t AS (SELECT doc_id, unnest(toks) AS term FROM d)
    SELECT term,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(count(*) AS BIGINT) AS tf,
           array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS postings
    FROM t GROUP BY term
    """,
    tags=("llm", "text", "index"),
)
def doc_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term -> (document frequency, total term
    frequency, sorted posting list). One explode and one term-key hash
    aggregate; df is derived from the collected posting set rather than a
    COUNT(DISTINCT), so there is no Expand/double-aggregate pass. At corpus
    scale the shuffle carries (term, doc_id) pairs once — index size is
    O(total tokens), the same cost any search indexer pays — and hot terms
    can reuse the salted two-phase pattern (operators/skew.py) by
    pre-aggregating per-doc tf map-side, which the partial hash aggregate
    already does.

    Output contract (round-6 fix for the r5 driver failure): the posting
    list is emitted as a SPACE-JOINED STRING, not array<string> — harness
    canonicalizers sort result frames through pandas, which cannot hash
    list-valued cells. Top-level output columns must be scalar; enforced
    registry-wide by tools/plan_lint.py::lint_output_contract."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", TX.ws_tokens("text").alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("doc_id", F.explode_outer("__toks").alias("term"))
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sort_array(F.collect_set("doc_id")).alias("__postings"),
        )
        .select(
            "term",
            F.size("__postings").cast("long").alias("df"),
            "tf",
            F.array_join(
                F.transform("__postings", lambda x: x.cast("string")), " "
            ).alias("postings"),
        )
    )


@query(
    "doc_bigram_merges",
    f"""
    {_DOCS_CTE},
    pairs AS (SELECT unnest({_shingles_sql(2)}) AS pair FROM d),
    cnt AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs
            GROUP BY pair),
    ranked AS (SELECT pair, n,
                      CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair)
                           AS BIGINT) AS rn
               FROM cnt)
    SELECT pair, n, rn FROM ranked WHERE rn <= 20
    """,
    tags=("llm", "text", "tokenizer"),
)
def doc_bigram_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE-style merge induction: the 20 most frequent
    adjacent token pairs across the corpus (a real tokenizer trainer
    iterates this; one round is the building block). Explode of 2-gram
    shingles -> one pair-key aggregate -> global top-k, which plans as
    WindowGroupLimit over the (post-aggregation) pair vocabulary, so the
    full sort is never materialized; ties break on the pair text for a
    total order."""
    d = load_table(spark, sf_dir, "documents")
    # stage tokens as an attribute: shingles_of indexes the array twice per
    # pair, and an inline tokenizer expression would be re-evaluated per
    # element_at (see shingles_of docstring)
    staged = d.select(TX.ws_tokens("text").alias("__toks"))
    pairs = staged.select(
        F.explode_outer(TX.shingles_of(F.col("__toks"), 2)).alias("pair")
    ).filter(F.col("pair").isNotNull())
    cnt = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("n"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), "pair")
    return (
        cnt.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select("pair", "n", "rn")
    )


_DECON_N = 5
_DECON_HASHES = (
    f"list_distinct(list_transform({_shingles_sql(_DECON_N)}, s -> {_h60('s')}))"
)


@query(
    "doc_decontaminate",
    f"""
    WITH d AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, source, unnest({_DECON_HASHES}) AS g FROM d),
    bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
    t AS (SELECT g.doc_id, b.g IS NOT NULL AS hit
          FROM g LEFT JOIN bench b USING (g) WHERE g.source <> 'src0')
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_overlap,
           ROUND(count(*) FILTER (WHERE hit) / count(*), 4) AS overlap_frac,
           bool_or(hit) AS contaminated
    FROM t GROUP BY doc_id
    """,
    tags=("llm", "text", "decontamination"),
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: treat source 'src0' as the held-out eval
    suite and count, per training document, its distinct 5-gram overlap
    with that suite. The eval-gram set is broadcast (tiny vs the corpus);
    the corpus is never shuffled for the join."""
    d = load_table(spark, sf_dir, "documents")
    return CP.decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        "text",
        "doc_id",
        n=_DECON_N,
    )


def _rep_grams_sql(n: int) -> str:
    return (
        f"SELECT doc_id, len(toks) AS nt, {n} AS n,"
        f" unnest(list_transform({_shingles_sql(n)}, s -> {_h60('s')})) AS g"
        " FROM d"
    )


@query(
    "doc_repetition",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS ({_rep_grams_sql(2)} UNION ALL {_rep_grams_sql(3)}),
    pg AS (SELECT doc_id, nt, n, g, count(*) AS c FROM g GROUP BY ALL),
    doc AS (SELECT doc_id, nt,
                   max(CASE WHEN n = 2 THEN c END) AS m2,
                   sum(CASE WHEN n = 2 AND c > 1 THEN c END) AS d2,
                   max(CASE WHEN n = 3 THEN c END) AS m3,
                   sum(CASE WHEN n = 3 AND c > 1 THEN c END) AS d3
            FROM pg GROUP BY doc_id, nt)
    SELECT doc_id,
           ROUND(m2 * 2 / nt, 4) AS top2_frac,
           ROUND(COALESCE(d2, 0) / (nt - 1), 4) AS dup2_frac,
           ROUND(m3 * 3 / nt, 4) AS top3_frac,
           ROUND(COALESCE(d3, 0) / (nt - 2), 4) AS dup3_frac
    FROM doc
    """,
    tags=("llm", "text", "quality"),
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: token fraction covered by the most
    frequent 2-/3-gram and the fraction of n-gram positions occupied by
    repeating grams — the standard degenerate-document screens."""
    d = load_table(spark, sf_dir, "documents")
    return CP.repetition_stats(d, "text", "doc_id", ns=(2, 3))


@query(
    "doc_lm_score",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS t FROM d),
    v AS (SELECT t, count(*) AS c FROM t GROUP BY t),
    tot AS (SELECT sum(c) AS tot FROM v),
    s AS (SELECT t, CAST(FLOOR(log2(c / tot) * 1e6 + 0.5) AS HUGEINT)
                      AS lpm FROM v, tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           FLOOR((-(CAST(sum(lpm) AS DOUBLE) / 1e6
                    / CAST(count(*) AS DOUBLE))) * 1e4 + 0.5) / 1e4
             AS bits_per_token
    FROM t JOIN s USING (t) GROUP BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM fluency score (mean -log2 p per token): the cheap
    first-pass perplexity prior of CCNet-style pipelines. Vocabulary is
    aggregated once (|vocab| rows, map-side combined) and broadcast back;
    the corpus itself is never shuffled except the one-row-per-doc agg."""
    d = load_table(spark, sf_dir, "documents")
    return CP.unigram_logprob(d, "text", "doc_id")


_N_SHARDS = 16
_SHARD_KEY = _h60("'shuffle-42:' || CAST(doc_id AS VARCHAR)")


@query(
    "doc_shuffle_shards",
    f"""
    WITH k AS (SELECT doc_id, {_SHARD_KEY} AS key FROM documents)
    SELECT doc_id,
           CAST(key % {_N_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY key % {_N_SHARDS}
                                   ORDER BY key, doc_id) AS BIGINT)
             AS pos_in_shard
    FROM k
    """,
    tags=("llm", "export"),
)
def doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export shuffle: md5-keyed (shard,
    pos_in_shard) addresses. No global ORDER BY — shards sort
    independently in parallel, yet concatenating shards in order yields a
    stable, rerun-reproducible global permutation."""
    d = load_table(spark, sf_dir, "documents")
    return CP.shuffle_shards(d, "doc_id", n_shards=_N_SHARDS)


@query(
    "doc_shard_manifest",
    f"""
    WITH k AS (SELECT doc_id, {_SHARD_KEY} AS key FROM documents),
    s AS (SELECT d.doc_id, k.key % {_N_SHARDS} AS shard, d.n_chars,
                 {_h60('d.text')} AS fp
          FROM documents d JOIN k USING (doc_id))
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(bit_xor(fp) AS BIGINT) AS content_hash
    FROM s GROUP BY shard
    """,
    tags=("llm", "export"),
)
def doc_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export manifest: per shard, document count, total chars, and an
    order-insensitive content checksum (bit_xor of each document's 60-bit
    md5 fingerprint). This is the verification artifact a 100 TB export
    ships with — a reader re-derives the same manifest from the delivered
    shards and diffs; XOR makes the checksum independent of row order and
    mergeable across partial aggregations (map-side combine works)."""
    d = load_table(spark, sf_dir, "documents")
    shards = CP.shuffle_shards(d, "doc_id", n_shards=_N_SHARDS)
    fp = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    return (
        shards.join(d, "doc_id")
        .select("shard", "n_chars", fp.alias("__fp"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.expr("bit_xor(__fp)").cast("long").alias("content_hash"),
        )
    )


_CHUNK_LEN = 32
_CHUNK_STRIDE = 24


@query(
    "doc_chunk_sequences",
    f"""
    {_DOCS_CTE},
    c AS (SELECT doc_id, toks,
                 unnest(range(0, CAST(floor((len(toks) - 1) / {_CHUNK_STRIDE})
                                      AS BIGINT) + 1)) AS chunk_id
          FROM d WHERE len(toks) > 0)
    SELECT doc_id, chunk_id,
           CAST(len(toks[chunk_id * {_CHUNK_STRIDE} + 1 :
                least(chunk_id * {_CHUNK_STRIDE} + {_CHUNK_LEN}, len(toks))])
                AS BIGINT) AS n_tokens,
           array_to_string(toks[chunk_id * {_CHUNK_STRIDE} + 1 :
                least(chunk_id * {_CHUNK_STRIDE} + {_CHUNK_LEN}, len(toks))],
                ' ') AS chunk_text
    FROM c
    """,
    tags=("llm", "export"),
)
def doc_chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (32-token windows every 24 tokens) — the
    dual of doc_pack_sequences: long documents split into overlapping
    training sequences. Zero shuffles; chunking is a pure map."""
    d = load_table(spark, sf_dir, "documents")
    return CP.chunk_sequences(
        d, "text", "doc_id", chunk_len=_CHUNK_LEN, stride=_CHUNK_STRIDE
    )


@query(
    "doc_mixture_report",
    f"""
    {_DOCS_CTE},
    per AS (SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(toks)) AS BIGINT) AS n_tokens
            FROM d GROUP BY source, lang)
    SELECT source, lang, n_docs, n_tokens,
           ROUND(n_tokens / (SELECT sum(n_tokens) FROM per), 6) AS token_share
    FROM per
    """,
    tags=("llm", "reporting"),
)
def doc_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card mixture table per (source, lang): document count,
    token count, and share of corpus tokens — the numbers a training data
    mixture spec is written against. Strata agg map-side combines; the
    corpus total arrives by broadcast singleton, not driver collect."""
    d = load_table(spark, sf_dir, "documents")
    return CP.mixture_report(d, ["source", "lang"], "text")


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@query(
    "doc_exact_dup_groups",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def doc_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: one row per distinct content fingerprint with
    copy count and the deterministic survivor (min id)."""
    d = load_table(spark, sf_dir, "documents")
    return ND.exact_dup_groups(d, "text", "doc_id")


def _minhash_ctes_through_bands(
    num_hashes: int = 12, bands: int = 4, docs_body: str = _DOCS_BODY
) -> str:
    """CTE chain (no WITH prefix) ending in bands(doc_id, band, band_key)
    — the shared LSH front half. Exposed as a named piece (not sliced
    out of the full chain by string matching) so the cost-estimate
    oracle can't silently truncate if the downstream CTE names or
    whitespace change. ``docs_body`` swaps the base relation: any CTE
    chain ending in d(doc_id, text, toks) — the curation-pipeline
    oracle passes its scrubbed/gated/deduped intermediate."""
    rows = num_hashes // bands
    sig_exprs = []
    for i in range(num_hashes):
        a, b = ND.perm_consts(i)
        sig_exprs.append(
            f"list_aggregate(list_transform(sh, h -> ({a} * (h % 4294967296)"
            f" + {b}) % {ND.MINHASH_PRIME}), 'min') AS sig_{i}"
        )
    sig_cols = ",\n       ".join(sig_exprs)
    band_selects = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(
            f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
    {docs_body},
    sh AS (SELECT doc_id, {_SHINGLE_HASHES} AS sh FROM d
           WHERE len(toks) >= 3),
    sig AS (SELECT doc_id, sh,
       {sig_cols}
      FROM sh),
    bands AS ({band_selects})"""


def _minhash_ctes(
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    docs_body: str = _DOCS_BODY,
) -> str:
    """CTE chain (no WITH prefix) ending in pairs(id_a, id_b, jaccard) —
    shared by the pair query's oracle and the cluster query's recursive
    oracle. Front half (through bands) comes from
    _minhash_ctes_through_bands."""
    return (
        _minhash_ctes_through_bands(num_hashes, bands, docs_body)
        + f""",
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
             ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id),
    j AS (SELECT c.id_a, c.id_b,
            ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
                  6) AS jaccard
          FROM cand c
          JOIN sig sa ON c.id_a = sa.doc_id
          JOIN sig sb ON c.id_b = sb.doc_id),
    pairs AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {threshold})
    """
    )


def _minhash_oracle(num_hashes: int = 12, bands: int = 4, threshold: float = 0.5) -> str:
    return (
        "WITH "
        + _minhash_ctes(num_hashes, bands, threshold)
        + "\n    SELECT id_a, id_b, jaccard FROM pairs"
    )


def _incremental_dedup_oracle(threshold: float = 0.5) -> str:
    """Even doc_ids play the persisted corpus store, odd doc_ids the
    incoming batch (ids interleave, exercising the general store-id >
    batch-id case). A batch doc's survivor is the smallest matching id
    among ALL matching store docs plus SMALLER matching batch docs —
    mirrored from the oriented pairs CTE by reading it from both ends."""
    return (
        "WITH "
        + _minhash_ctes(threshold=threshold)
        + f"""
    , matches AS (
      -- x = the larger end: every smaller match (store or batch) counts
      SELECT p.id_b AS doc_id, p.id_a AS other, p.jaccard
      FROM pairs p WHERE p.id_b % 2 = 1
      UNION ALL
      -- x = the smaller end: the larger side counts only if it is store
      SELECT p.id_a AS doc_id, p.id_b AS other, p.jaccard
      FROM pairs p WHERE p.id_a % 2 = 1 AND p.id_b % 2 = 0
    ),
    best AS (SELECT doc_id, MIN(other) AS dup_of FROM matches GROUP BY doc_id),
    withj AS (
      SELECT b.doc_id, b.dup_of,
             (SELECT MIN(m.jaccard) FROM matches m
              WHERE m.doc_id = b.doc_id AND m.other = b.dup_of) AS jaccard
      FROM best b)
    SELECT nd.doc_id, w.dup_of, w.jaccard,
           CASE WHEN w.dup_of IS NULL THEN 'unique'
                WHEN w.dup_of % 2 = 0 THEN 'dup_of_store'
                ELSE 'dup_in_batch' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) nd
    LEFT JOIN withj w ON nd.doc_id = w.doc_id
    """
    )


@query(
    "doc_incremental_dedup",
    _incremental_dedup_oracle(),
    tags=("llm", "dedup", "incremental"),
)
def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup: the odd-id half of the corpus
    arrives as a new batch and dedups against the even-id half's
    persisted MinHash signature store (operators/neardup.py
    ``minhash_store`` / ``incremental_minhash_dedup``) — LSH band-key
    probe joins + exact Jaccard on stored shingle hashes, never touching
    store text. The per-ingest pattern that keeps dedup cost O(batch) at
    a 100 TB corpus."""
    d = load_table(spark, sf_dir, "documents")
    store_docs = d.filter(F.col("doc_id") % 2 == 0)
    new_docs = d.filter(F.col("doc_id") % 2 == 1)
    store = ND.minhash_store(store_docs, "text", "doc_id")
    return ND.incremental_minhash_dedup(
        new_docs, store, "text", "doc_id", threshold=0.5
    )


@query("doc_minhash_lsh_pairs", _minhash_oracle(), tags=("llm", "dedup", "lsh"))
def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12, one-hash-k-permutations) + LSH(4 bands x 3 rows)
    candidate generation, then exact hashed-shingle Jaccard verification at
    >= 0.5 — the fused pipeline (shingles hashed once for both the
    signature and the verification)."""
    d = load_table(spark, sf_dir, "documents")
    return ND.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, n=3, threshold=0.5
    )


@query(
    "doc_minhash_lsh_auto_pairs",
    # lsh_auto_params(n, 0.5) = (24 hashes, 8 bands) for EVERY corpus
    # up to 100k docs (the rows floor), which covers sf0.01/0.1/1 and
    # all fuzz fixtures — this static oracle is exact there. Sweeps on
    # >100k-doc fixtures route through the dynamic PY_ORACLES entry in
    # tools/compare_strict.py, which recomputes the banding from
    # COUNT(*) and regenerates the same parameterized SQL.
    _minhash_oracle(num_hashes=24, bands=8),
    tags=("llm", "dedup", "lsh", "autotune"),
)
def doc_minhash_lsh_auto_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-tuned twin of [[doc_minhash_lsh_pairs]]: banding chosen
    by neardup.lsh_auto_params from the corpus size and threshold
    instead of pinned 12/4 — the capture S-curve is CENTERED on the
    threshold (8 bands x 3 rows puts the characteristic point
    t ~ (1/b)^(1/r) at ~0.50, where capture is 1-(1-0.5^3)^8 ~ 0.66,
    vs the pinned 12/4 tuning's 0.41 at s=0.5) with rows-per-band
    growing one per corpus decade past 100k docs. The production
    default; the pinned query remains the recorded-tuning replay."""
    d = load_table(spark, sf_dir, "documents")
    return ND.minhash_lsh_pairs(d, "text", "doc_id", n=3, threshold=0.5)


@query(
    "doc_jaccard_pairs",
    f"""
    {_DOCS_CTE},
    sh AS (SELECT doc_id, {_SHINGLE_HASHES} AS sh FROM d
           WHERE len(toks) >= 3),
    -- candidate pairs share >= 1 shingle (an inverted-index equi-join,
    -- the same shape as the Spark operator): a pair with an empty
    -- intersection can never reach the threshold, so this is lossless
    -- and keeps the oracle tractable at sf1 where the former all-pairs
    -- self-join (n^2/2 list_intersect calls) did not terminate
    g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM g x JOIN g y ON x.g = y.g AND x.doc_id < y.doc_id)
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                 6) AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
    tags=("llm", "dedup"),
)
def doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hashed-shingle Jaccard near-dup pairs (inverted-index join,
    no LSH) — the ground truth the LSH variant approximates."""
    d = load_table(spark, sf_dir, "documents")
    return ND.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)


@query(
    "doc_containment_pairs",
    f"""
    {{_DOCS_CTE}},
    sh AS (SELECT doc_id, {{_SHINGLE_HASHES}} AS sh FROM d
           WHERE len(toks) >= 3),
    g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS inter
              FROM g x JOIN g y ON x.g = y.g AND x.doc_id <> y.doc_id
              GROUP BY 1, 2),
    sz AS (SELECT doc_id AS id_a, CAST(len(sh) AS BIGINT) AS n_a FROM sh)
    SELECT p.id_a, p.id_b, p.inter, s.n_a,
           CAST({{_CONT_DIV}} AS DOUBLE) / 10000.0 AS containment
    FROM pairs p JOIN sz s USING (id_a)
    WHERE p.inter * 100 >= 80 * s.n_a
    """.format(
        _DOCS_CTE=_DOCS_CTE,
        _SHINGLE_HASHES=_SHINGLE_HASHES,
        _CONT_DIV=floor_div_sql("2 * p.inter * 10000 + s.n_a", "2 * s.n_a"),
    ),
    tags=("llm", "dedup", "containment"),
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: ordered pairs where >= 80% of
    doc a's distinct 3-gram shingles also occur in doc b — the
    quote/superset/boilerplate-wrapper relation symmetric Jaccard misses
    (a short doc quoted whole inside a long one has Jaccard
    ~|a|/|b| but containment 1.0; Broder's containment measure). Exact
    inverted-index join (operators/neardup.containment_pairs): only
    co-occurring docs meet, integer threshold at the boundary, ratio
    displayed through the sign-correct floor kernel. The max_df knob
    (not set here) drops boilerplate shingles at corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    return ND.containment_pairs(d, "text", "doc_id", n=3, tau_e2=80)


@query(
    "doc_containment_capped",
    f"""
    {{_DOCS_CTE}},
    sh AS (SELECT doc_id, {{_SHINGLE_HASHES}} AS sh FROM d
           WHERE len(toks) >= 3),
    g0 AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    dfreq AS (SELECT g, COUNT(*) AS df FROM g0 GROUP BY g),
    g AS (SELECT g0.doc_id, g0.g FROM g0 JOIN dfreq USING (g)
          WHERE dfreq.df <= 8),
    pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS inter
              FROM g x JOIN g y ON x.g = y.g AND x.doc_id <> y.doc_id
              GROUP BY 1, 2),
    sz AS (SELECT doc_id AS id_a, CAST(COUNT(*) AS BIGINT) AS n_a
           FROM g GROUP BY 1 HAVING COUNT(*) >= 10)
    SELECT p.id_a, p.id_b, p.inter, s.n_a,
           CAST({{_CONT_DIV}} AS DOUBLE) / 10000.0 AS containment
    FROM pairs p JOIN sz s USING (id_a)
    WHERE p.inter * 100 >= 80 * s.n_a
    """.format(
        _DOCS_CTE=_DOCS_CTE,
        _SHINGLE_HASHES=_SHINGLE_HASHES,
        _CONT_DIV=floor_div_sql("2 * p.inter * 10000 + s.n_a", "2 * s.n_a"),
    ),
    tags=("llm", "dedup", "containment", "maxdf"),
)
def doc_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[doc_containment_pairs]] in its SCALE-SAFE mode: the max_df
    document-frequency cap (df <= 8 here) drops boilerplate shingles
    from the inverted index BEFORE the pair join — the lever that
    bounds the (docs-per-shingle)^2 fan-in the uncapped query's α=1.49
    CPU floor comes from (tools/maxdf_demo.py measures a 3,749x
    candidate cut on an adversarial boilerplate corpus) — paired with
    its standard companion, a post-cap denominator floor (min_size=10)
    so aggressively-capped docs can't pass an 80%-of-almost-nothing
    threshold on residual noise. Both levers are mirrored exactly in
    the oracle (cap on the exploded index, floor as HAVING on the
    post-cap sizes), so inter/n_a/containment stay bit-exact. This is
    the mode a 100 TB corpus runs; the uncapped twin remains the
    exact-semantics reference."""
    d = load_table(spark, sf_dir, "documents")
    return ND.containment_pairs(
        d, "text", "doc_id", n=3, tau_e2=80, max_df=8, min_size=10
    )


@query(
    "doc_incremental_containment",
    f"""
    {{_DOCS_CTE}},
    sh AS (SELECT doc_id, {{_SHINGLE_HASHES}} AS sh FROM d
           WHERE len(toks) >= 3),
    g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    pairs AS (SELECT b.doc_id AS batch_id, s.doc_id AS store_id,
                     CAST(COUNT(*) AS BIGINT) AS inter
              FROM g b JOIN g s ON b.g = s.g
              WHERE b.doc_id % 2 = 1 AND s.doc_id % 2 = 0
              GROUP BY 1, 2),
    sz AS (SELECT doc_id AS batch_id, CAST(len(sh) AS BIGINT) AS n_batch
           FROM sh WHERE doc_id % 2 = 1)
    SELECT p.batch_id, p.store_id, p.inter, s.n_batch,
           CAST({{_DIV}} AS DOUBLE) / 10000.0 AS containment
    FROM pairs p JOIN sz s USING (batch_id)
    WHERE p.inter * 100 >= 80 * s.n_batch
    """.format(
        _DOCS_CTE=_DOCS_CTE,
        _SHINGLE_HASHES=_SHINGLE_HASHES,
        _DIV=floor_div_sql("2 * p.inter * 10000 + s.n_batch", "2 * s.n_batch"),
    ),
    tags=("llm", "dedup", "containment", "incremental"),
)
def doc_incremental_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time containment screen against a PERSISTED index
    (operators/neardup.incremental_containment): even doc_ids play the
    stored corpus — collapsed to its compact (store_id, shingle-hash)
    inverted index — and odd doc_ids the incoming batch; each batch doc
    reports the store docs containing >= 80% of its distinct shingles,
    WITHOUT rescanning stored text. By construction equals full-corpus
    containment restricted to batch->store ordered pairs (the oracle's
    statement). Completes the incremental family
    ([[doc_incremental_dedup]] MinHash, [[doc_incremental_line_dedup]],
    [[emb_incremental_semantic_dedup]]) with the asymmetric measure;
    per-batch cost is O(batch) + index collision fan-in, independent of
    corpus history size."""
    d = load_table(spark, sf_dir, "documents")
    # demo shape: store and batch are parity halves of ONE table, so
    # shingle it once and split the materialized relation (a real
    # deployment reads the store index from parquet instead)
    sh = ND.shingle_hash_sets(d, "text", "doc_id", 3).localCheckpoint(
        eager=False
    )
    store = ND.containment_index(
        d, "text", "doc_id", hashes=sh.filter(F.col("doc_id") % 2 == 0)
    )
    return ND.incremental_containment(
        d.filter(F.col("doc_id") % 2 == 1),
        store,
        "text",
        "doc_id",
        tau_e2=80,
        hashes=sh.filter(F.col("doc_id") % 2 == 1),
    )


@query(
    "doc_repetition_signals",
    f"""
    {{_DOCS_CTE}},
    t AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(list_sum(list_transform(toks, s -> len(s))) AS BIGINT)
                   AS doc_chars
          FROM d WHERE len(toks) >= 3),
    bg AS (SELECT doc_id, unnest({{_BI}}) AS bg FROM t),
    bc AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
           FROM bg GROUP BY 1, 2),
    top AS (SELECT doc_id, bg AS top_bigram, c AS top_bigram_count
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY c DESC, bg) AS rn FROM bc)
            WHERE rn = 1),
    tg AS (SELECT doc_id, unnest({{_TRI}}) AS tg FROM t),
    tc AS (SELECT doc_id, tg, CAST(COUNT(*) AS BIGINT) AS c
           FROM tg GROUP BY 1, 2),
    ta AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                    AS dup,
                  CAST(SUM(c) AS BIGINT) AS tot
           FROM tc GROUP BY 1)
    SELECT t.doc_id, t.n_tokens, top.top_bigram, top.top_bigram_count,
           CAST({{_FRAC1}} AS DOUBLE) / 10000.0 AS top_bigram_char_frac,
           CAST({{_FRAC2}} AS DOUBLE) / 10000.0 AS dup_trigram_frac
    FROM t JOIN top USING (doc_id) JOIN ta USING (doc_id)
    """.format(
        _DOCS_CTE=_DOCS_CTE,
        _BI=_shingles_sql(2),
        _TRI=_shingles_sql(3),
        _FRAC1=floor_div_sql(
            "2 * top.top_bigram_count * len(top.top_bigram) * 10000"
            " + t.doc_chars",
            "2 * t.doc_chars",
        ),
        _FRAC2=floor_div_sql("2 * ta.dup * 10000 + ta.tot", "2 * ta.tot"),
    ),
    tags=("llm", "quality", "repetition"),
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filters (Rae et al. 2021):
    most frequent bigram, the fraction of token characters its
    occurrences cover, and the fraction of trigram occurrences that
    repeat within the document — the signals that separate repetitive
    machine-generated text from prose. All counting is integer-exact
    with a total-order tie-break (count DESC, bigram ASC); ratios
    display through the sign-correct floor kernel at 4 dp. Everything
    partitions by doc_id — no cross-document shuffle at any corpus
    size (operators/corpus.repetition_signals)."""
    d = load_table(spark, sf_dir, "documents")
    return CP.repetition_signals(d, "text", "doc_id")


@query(
    "doc_ngram_novelty",
    f"""
    {{_DOCS_CTE}},
    sh AS (SELECT doc_id, {{_SHINGLE_HASHES}} AS sh FROM d
           WHERE len(toks) >= 3),
    ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
    firsts AS (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h),
    agg AS (
      SELECT e.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM ex e JOIN firsts f USING (h) GROUP BY e.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           CAST({{_NOVEL_DIV}} AS DOUBLE) / 10000.0 AS novelty
    FROM agg
    """.format(
        _DOCS_CTE=_DOCS_CTE,
        _SHINGLE_HASHES=_SHINGLE_HASHES,
        _NOVEL_DIV=floor_div_sql(
            "2 * n_novel * 10000 + n_shingles", "2 * n_shingles"
        ),
    ),
    tags=("llm", "dedup", "quality", "incremental"),
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty against everything ingested before it
    (min-doc-id first occurrence over hashed 3-gram shingles) — the
    curriculum/dedup-triage signal between exact dedup and pair
    generation: ~0 means the document is assembled from already-seen
    text even when no single near-dup pair clears a threshold. One
    shingle explode + a first-occurrence index (the same persistable
    store shape as line_hash_store) + one per-doc aggregate; integer
    counts, floor-kernel display at 4 dp
    (operators/corpus.ngram_novelty)."""
    d = load_table(spark, sf_dir, "documents")
    return CP.ngram_novelty(d, "text", "doc_id", n=3)


@query(
    "doc_split_leakage",
    f"""
    {{_DOCS_CTE}},
    lab AS (SELECT doc_id, toks,
                   CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                              1, 8))::BIGINT % 1000000 < 900000
                        THEN 'train' ELSE 'test' END AS split
            FROM d),
    sh AS (SELECT doc_id, split, {{_SHINGLE_HASHES}} AS sh FROM lab
           WHERE len(toks) >= 3),
    g AS (SELECT doc_id, split, unnest(sh) AS g FROM sh),
    pair AS (SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
                    CAST(COUNT(*) AS BIGINT) AS shared
             FROM g te JOIN g tr ON te.g = tr.g
             WHERE te.split = 'test' AND tr.split = 'train'
             GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    rep AS (SELECT test_id, CAST(COUNT(*) AS BIGINT) AS n_train_dups,
                   CAST(MAX(shared) AS BIGINT) AS max_shared
            FROM pair GROUP BY 1)
    SELECT r.test_id, r.n_train_dups, r.max_shared,
           CAST(len(sh.sh) AS BIGINT) AS n_test_shingles
    FROM rep r JOIN sh ON sh.doc_id = r.test_id
    """.format(_DOCS_CTE=_DOCS_CTE, _SHINGLE_HASHES=_SHINGLE_HASHES),
    tags=("llm", "dedup", "decontamination", "split"),
)
def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination report over the deterministic md5 hash
    split (90/10): for every eval document sharing >= 2 distinct 3-gram
    shingle hashes with any train document, how many train documents
    collide and the largest shared count — the 'did the benchmark leak
    into the training set?' audit as one cross-split inverted-index
    join (operators/neardup.split_leakage_report). The split label is a
    per-row projection (sampling.hash_split), so the report adds no
    corpus shuffle beyond the same index join the near-dup family
    already pays."""
    d = load_table(spark, sf_dir, "documents")
    return ND.split_leakage_report(
        d, "text", "doc_id", {"train": 0.9, "test": 0.1}, n=3, min_shared=2
    )


_HEX_TO_INT = (
    "CAST(list_sum(list_transform(string_split(substr(md5(tok), 1, 8), ''),"
    " (c, i) -> (strpos('0123456789abcdef', c) - 1) * 16 ** (8 - i)))"
    " AS BIGINT)"
)

_SIMHASH_CTE = f"""
    {_DOCS_CTE},
    t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    h AS (SELECT doc_id, {_HEX_TO_INT} AS th FROM t),
    bit_sums AS (
      SELECT doc_id, bit, SUM(CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, (SELECT unnest(range(0, 32)) AS bit) bits
      GROUP BY doc_id, bit),
    sim AS (
      SELECT doc_id,
             -- CAST: DuckDB SUM over BIGINT yields HUGEINT (int128),
             -- which a pandas/arrow fetch renders as float64/decimal and
             -- hash-mismatches Spark's int64
             CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bit_sums GROUP BY doc_id)
"""


@query(
    "doc_simhash",
    _SIMHASH_CTE + "SELECT doc_id, simhash FROM sim",
    tags=("llm", "dedup"),
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (md5-derived token hashes, bit-majority
    vote with multiplicity)."""
    d = load_table(spark, sf_dir, "documents")
    return ND.simhash(d, "text", "doc_id")


@query(
    "doc_simhash_pairs",
    _SIMHASH_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("llm", "dedup", "lsh"),
)
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= 3, found via 4-band
    pigeonhole equi-join (lossless for d <= bands-1); the oracle brute-forces
    all pairs — identical result set, quadratic cost (oracle-only)."""
    d = load_table(spark, sf_dir, "documents")
    sim = ND.simhash(d, "text", "doc_id")
    out = ND.simhash_near_pairs(sim, "doc_id", max_hamming=3, bands=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@query(
    "doc_incremental_simhash",
    _SIMHASH_CTE
    + """,
    st AS (SELECT doc_id, simhash FROM sim WHERE doc_id % 2 = 0),
    b AS (SELECT doc_id, simhash FROM sim WHERE doc_id % 2 = 1),
    m AS (
      SELECT l.doc_id AS id_b, s.doc_id AS id_a,
             CAST(bit_count(xor(l.simhash, s.simhash)) AS BIGINT) AS hamming
      FROM b l JOIN st s ON bit_count(xor(l.simhash, s.simhash)) <= 3
      UNION ALL
      SELECT l.doc_id, e.doc_id,
             CAST(bit_count(xor(l.simhash, e.simhash)) AS BIGINT)
      FROM b l JOIN b e ON e.doc_id < l.doc_id
            AND bit_count(xor(l.simhash, e.simhash)) <= 3),
    best AS (SELECT id_b, MIN(id_a) AS dup_of FROM m GROUP BY id_b),
    wj AS (SELECT best.id_b, best.dup_of,
                  (SELECT MIN(hamming) FROM m
                   WHERE m.id_b = best.id_b AND m.id_a = best.dup_of)
                    AS hamming
           FROM best)
    SELECT l.doc_id, w.dup_of, w.hamming,
           CASE WHEN w.dup_of IS NULL THEN 'unique'
                WHEN w.dup_of % 2 = 0 THEN 'dup_of_store'
                ELSE 'dup_in_batch' END AS status
    FROM b l LEFT JOIN wj w ON l.doc_id = w.id_b
    """,
    tags=("llm", "dedup", "incremental"),
)
def doc_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[doc_simhash_pairs]]' incremental twin
    (operators/neardup.incremental_simhash_dedup): the odd-id half of
    the corpus arrives as a batch and dedups against the even-id half's
    persisted SimHash signatures at Hamming <= 3 — completing the
    incremental family ([[doc_incremental_dedup]] MinHash,
    [[doc_incremental_containment]], [[doc_incremental_line_dedup]],
    [[doc_incremental_url_dedup]]). Banded pigeonhole probe joins
    (lossless for h <= bands-1) + exact bit_count verification; min-id
    survivor, store outranking by id order. Per-ingest cost O(batch)
    hashing + band equi-joins against the pre-bucketed store — never
    O(corpus). The oracle brute-forces all store x batch and
    batch-internal pairs (quadratic, oracle-only)."""
    d = load_table(spark, sf_dir, "documents")
    store_docs = d.filter(F.col("doc_id") % 2 == 0)
    new_docs = d.filter(F.col("doc_id") % 2 == 1)
    store_sig = ND.simhash(store_docs, "text", "doc_id")
    return ND.incremental_simhash_dedup(
        new_docs, store_sig, "text", "doc_id", max_hamming=3, bands=4
    )


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration PageRank CTE chain over the SimHash
    near-dup graph (same unroll technique as the k-means oracle)."""
    parts = [
        _SIMHASH_CTE
        + """,
    pr_pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v FROM sim a JOIN sim b
      ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
    und AS (SELECT u, v FROM pr_pairs UNION ALL SELECT v, u FROM pr_pairs),
    deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS deg FROM und GROUP BY u),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    r0 AS (SELECT doc_id, 1.0 / nn.n AS r FROM documents, nn)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    c{i} AS (SELECT und.v AS doc_id,
                    -- per-edge contributions quantized to 1e-12 ints so
                    -- the sum is exact integer math (fold-order-free),
                    -- mirroring operators/graph.pagerank
                    CAST(sum(CAST(FLOOR(r{i-1}.r / deg.deg * 1e12 + 0.5)
                                  AS BIGINT)) AS BIGINT)
                      / 1000000000000.0 AS c
             FROM und JOIN r{i-1} ON r{i-1}.doc_id = und.u
             JOIN deg ON deg.u = und.u GROUP BY und.v),
    r{i} AS (SELECT d0.doc_id, 0.15 / nn.n + 0.85 * COALESCE(c{i}.c, 0) AS r
             FROM documents d0 CROSS JOIN nn
             LEFT JOIN c{i} ON c{i}.doc_id = d0.doc_id)"""
        )
    # floor kernel, not ROUND: an sf1 doc's rank printed exactly on an
    # 8-dp midpoint and Spark's repr-half-up ROUND disagreed with
    # DuckDB's binary-value ROUND (same class as doc_quality_score)
    parts.append(
        f"\n    SELECT doc_id, FLOOR(r * 100000000 + 0.5) / 100000000"
        f" AS pagerank FROM r{iters}"
    )
    return "".join(parts)


@query(
    "doc_pagerank",
    _pagerank_oracle(3),
    tags=("llm", "graph"),
)
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the SimHash near-dup graph (3 iterations,
    damping 0.85): the most-connected exemplar of each duplicate
    neighborhood surfaces with the highest rank — an alternative survivor-
    election rule to connected-components' min-id. Iterative DataFrame
    algorithm with per-round lineage cuts; the oracle unrolls the same
    three iterations as a CTE chain."""
    from etl_gardener_spark.operators.graph import pagerank

    d = load_table(spark, sf_dir, "documents")
    sim = ND.simhash(d, "text", "doc_id")
    pairs = ND.simhash_near_pairs(sim, "doc_id", max_hamming=3, bands=4)
    pr = pagerank(
        d.select("doc_id"), pairs, id_col="doc_id", src="id_a", dst="id_b", iters=3
    )
    return pr.select(
        F.col("id").alias("doc_id"),
        (F.floor(F.col("rank") * 100000000 + 0.5) / 100000000).alias(
            "pagerank"
        ),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (transitive closure of near-dup pairs)
# ---------------------------------------------------------------------------


@query(
    "doc_dup_clusters",
    "WITH RECURSIVE "
    + _minhash_ctes()
    + """,
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT c.doc_id, c.cluster_id,
           c.doc_id = c.cluster_id AS is_canonical,
           CAST(n.sz AS BIGINT) AS cluster_size
    FROM comp c
    JOIN (SELECT cluster_id, count(*) AS sz FROM comp GROUP BY 1) n
      USING (cluster_id)
    """,
    tags=("llm", "dedup", "graph"),
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph, electing min-id as the canonical survivor per cluster. Pair
    queries alone cannot drive a dedup decision — (a~b, b~c) must keep one
    of {a,b,c}, which needs the transitive closure. Spark side is the
    O(log n)-round label-propagation operator (operators/graph.py); the
    oracle is a recursive CTE over the identical pair set."""
    from etl_gardener_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = ND.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, n=3, threshold=0.5
    )
    comp = connected_components(d, pairs, id_col="doc_id", src="id_a", dst="id_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            (F.col("id") == F.col("component")).alias("is_canonical"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


# quality composite of doc_quality_score, as an oracle fragment (kept
# textually identical to the certified query's SQL so the two stay
# provably the same scoring function)
_QUALITY_SQL = """FLOOR((0.4 * least(1.0, len(toks) / 100.0)
                 + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                 + 0.3 * (1 - CAST(length(text) - length(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)))
                 * 10000 + 0.5) / 10000"""


@query(
    "doc_neardup_canonicalize",
    "WITH RECURSIVE "
    + _minhash_ctes()
    + f""",
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    q AS (SELECT doc_id, {_QUALITY_SQL} AS quality FROM d),
    jn AS (SELECT c.doc_id, c.cluster_id, q.quality
           FROM comp c JOIN q USING (doc_id)),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                   ORDER BY quality DESC, doc_id ASC) AS rn,
                 FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
                   ORDER BY quality DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING) AS keep_id
          FROM jn)
    SELECT doc_id, cluster_id, quality, rn = 1 AS keep,
           CASE WHEN rn > 1 THEN keep_id END AS dup_of
    FROM r
    """,
    tags=("llm", "dedup", "graph", "quality"),
)
def doc_neardup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup canonicalization — the keep-BEST election the
    reference's dedup template applies to exact keys (cloud/bq/
    ops.go:184-218), lifted to near-dup clusters: MinHash-LSH pairs →
    connected components ([[doc_dup_clusters]]) → per-cluster survivor
    by HIGHEST [[doc_quality_score]] composite (doc_id ascending as the
    deterministic tie-break), instead of the min-id election. Emits
    every doc with its cluster, quality, keep flag, and the survivor it
    defers to (operators/graph.keep_best_by_score). One quality
    projection (no extra corpus shuffle beyond the cluster join) + one
    per-cluster window — cluster sizes are near-dup groups (bounded),
    so the window never sees a giant partition at corpus scale."""
    from etl_gardener_spark.operators.graph import (
        connected_components,
        keep_best_by_score,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = ND.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, n=3, threshold=0.5
    )
    comp = connected_components(
        d, pairs, id_col="doc_id", src="id_a", dst="id_b"
    )
    staged = d.select("doc_id", "text", TX.ws_tokens("text").alias("__toks"))
    toks = F.col("__toks")
    # the doc_quality_score composite, verbatim (floor display kernel)
    length_term = F.least(F.lit(1.0), F.size(toks) / F.lit(100.0))
    quality = (
        F.floor(
            (
                0.4 * length_term
                + 0.3 * TX.type_token_ratio_of(toks)
                + 0.3 * (1 - TX.punct_ratio("text"))
            )
            * 10000
            + 0.5
        )
        / 10000
    )
    q = staged.select(F.col("doc_id").alias("id"), quality.alias("quality"))
    out = keep_best_by_score(
        comp, q, id_col="id", component_col="component", score_col="quality"
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "quality",
        "keep",
        "dup_of",
    )


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------


_DIM = 64


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {_DIM + 1}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / (SQRT({_dot_sql(a, a)}) * SQRT({_dot_sql(b, b)})))"
    )


def _cell_score_sql(cos: str) -> str:
    """The centroid-ranking score of similarity._nearest (k-means
    assignment, IVF cells and query probes): FLOOR(COALESCE(cos, -2) *
    1e6 + 0.5), the same IEEE expression tree in numpy and DuckDB
    (functions/exact.py: not ROUND, which rounds half-up on the shortest
    decimal in Spark and on the binary value in DuckDB). NaN scores 0,
    as Spark's FLOOR-to-long gives; DuckDB's FLOOR keeps NaN, which
    sorts first under DESC. DuckDB compares NaN equal to NaN, so NULLIF
    maps it to NULL without evaluating the cosine twice."""
    return (
        f"COALESCE(NULLIF(FLOOR(COALESCE({cos}, -2.0) * 1e6 + 0.5),"
        f" 'NaN'::DOUBLE), 0)"
    )


@query(
    "doc_emb_dup_agreement",
    f"""
    {_DOCS_CTE},
    sh AS (SELECT doc_id, {_SHINGLE_HASHES} AS sh FROM d
           WHERE len(toks) >= 3),
    g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM g x JOIN g y ON x.g = y.g AND x.doc_id < y.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b,
             ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / (len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.5)
    SELECT p.id_a, p.id_b, p.jaccard,
           ROUND({_cosine_sql("ea.embedding", "eb.embedding")}, 6) AS cosine,
           (ROUND({_cosine_sql("ea.embedding", "eb.embedding")}, 6) >= 0.9)
             AS modal_agree
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.id_a
    JOIN embeddings eb ON eb.vec_id = p.id_b
    """,
    tags=("llm", "dedup", "multimodal", "quality"),
)
def doc_emb_dup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup consistency audit: for every exact text
    near-dup pair (hashed-shingle Jaccard >= 0.5), the cosine between
    the SAME documents' embeddings and whether the embedding modality
    agrees it is a duplicate (rounded cosine >= 0.9). Text-dup pairs
    whose embeddings disagree are the triage queue every multimodal
    dedup pipeline reviews before trusting one modality to delete data
    — stale embeddings, templated text around distinct payloads, or a
    broken encoder all surface here. Cost: the text pair generator
    bounds everything; the embedding lookup is two id equi-joins on a
    pair set that is tiny relative to the corpus, so no vector ever
    moves except for matched pairs."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    pairs = ND.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    va = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    vb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    cos = F.round(SIM.cosine(F.col("__va"), F.col("__vb")), 6)
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            cos.alias("cosine"),
            (cos >= 0.9).alias("modal_agree"),
        )
    )


@query(
    "emb_label_cohesion",
    f"""
    WITH cent AS (
      SELECT label, list(m ORDER BY i) AS cvec FROM (
        SELECT label, i, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM embeddings, range(1, {_DIM + 1}) r(i)
        GROUP BY label, i) GROUP BY label)
    SELECT e.label, CAST(count(*) AS BIGINT) AS n,
           ROUND(avg({_cosine_sql("e.embedding", "c.cvec")}), 6) AS avg_cos,
           ROUND(min({_cosine_sql("e.embedding", "c.cvec")}), 6) AS min_cos
    FROM embeddings e JOIN cent c ON c.label = e.label
    GROUP BY e.label
    """,
    tags=("llm", "embedding"),
)
def emb_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cohesion report: per label, the member count and the
    average / worst cosine of members to their label centroid — the
    quality gauge run after any clustering or labeling pass. Centroids
    come from one posexplode + (label, dim) aggregate (shuffles |labels| x
    dim rows, not vectors), are reassembled in dim order, and broadcast
    back onto members; the cosine is a codegen'd zip_with/aggregate fold,
    no Python. Centroid elements are rounded to 6 decimals on both engines
    so the fold is bit-stable."""
    e = load_table(spark, sf_dir, "embeddings")
    by_dim = (
        e.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
    )
    cent = by_dim.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("cvec")
    )
    cos = SIM.cosine(F.col("embedding"), F.col("cvec"))
    return (
        e.join(F.broadcast(cent), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg(cos), 6).alias("avg_cos"),
            F.round(F.min(cos), 6).alias("min_cos"),
        )
    )


def _kmeans_ctes(
    k: int = 8,
    n_iter: int = 2,
    train_where: str = "TRUE",
    seed: str = "id_lt_k",
) -> tuple[str, str]:
    """Unrolled Lloyd iterations as CTEs, mirroring operators/similarity.
    kmeans exactly (seeded centroids, rounded-cosine argmax with min-cid
    ties, rounded element-wise means). Returns (cte_block, final_assign)
    so derived oracles (semantic dedup) can build on the assignment.

    ``train_where`` restricts the TRAINING corpus (seeds + iteration
    scans) for incremental oracles; the final assignment CTE always
    scans ALL embeddings — assignment is per-row against fixed
    centroids, so assigning everything at once equals assigning any
    subset separately.

    ``seed`` mirrors kmeans_fit: 'id_lt_k' takes vec_id < k (fewer than
    k centroids under a filtered train_where); 'first_k' takes the k
    smallest-id training rows with cid = id rank - 1, guaranteeing k
    centroids."""

    def assign(name: str, cents: str, where: str = "TRUE") -> str:
        # the score of similarity._nearest, which kmeans_assign runs
        score = _cell_score_sql(_cosine_sql("e.embedding", "c.cvec"))
        return f"""{name} AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {score} DESC, c.cid) AS rn
          FROM embeddings e, {cents} c WHERE {where}) WHERE rn = 1)"""

    def update(name: str, assigned: str) -> str:
        return f"""{name} AS (
          SELECT cid, list(m ORDER BY i) AS cvec FROM (
            SELECT cid, i, ROUND(AVG(CAST(e.embedding[i] AS DOUBLE)), 6) AS m
            FROM {assigned} a JOIN embeddings e USING (vec_id),
                 range(1, {_DIM + 1}) r(i)
            GROUP BY cid, i) GROUP BY cid)"""

    if seed == "id_lt_k":
        seed_cte = (
            f"c0 AS (SELECT vec_id AS cid, embedding AS cvec\n"
            f"          FROM embeddings WHERE vec_id < {k} AND ({train_where}))"
        )
    else:
        seed_cte = (
            f"c0 AS (SELECT rn - 1 AS cid, cvec FROM (\n"
            f"          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,\n"
            f"                 embedding AS cvec\n"
            f"          FROM embeddings WHERE ({train_where})) WHERE rn <= {k})"
        )
    parts = [seed_cte]
    for it in range(n_iter):
        parts.append(assign(f"a{it}", f"c{it}", train_where))
        parts.append(update(f"c{it + 1}", f"a{it}"))
    parts.append(assign(f"a{n_iter}", f"c{n_iter}"))
    return ",\n    ".join(parts), f"a{n_iter}"


def _kmeans_oracle(k: int = 8, n_iter: int = 2) -> str:
    ctes, fin = _kmeans_ctes(k, n_iter)
    return f"WITH {ctes}\n    SELECT vec_id, cid AS cluster_id FROM {fin}"


@query("emb_kmeans", _kmeans_oracle(), tags=("llm", "clustering"))
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 2 iterations) over the embedding column — the
    clustering primitive behind cluster-balanced sampling and semantic
    dedup of training corpora. At this size the centroids train on the
    driver (kmeans_fit) and the final assignment is distributed.
    Deterministic seeding and rounding make the iterative algorithm
    bit-reproducible; the oracle unrolls both iterations as CTEs."""
    from etl_gardener_spark.operators.similarity import kmeans

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans(e, "vec_id", "embedding", k=8, n_iter=2)


def _semdedup_oracle(k: int = 8, n_iter: int = 2, threshold: float = 0.4) -> str:
    # decorrelated (DuckDB cannot reference outer columns inside the
    # list_transform lambdas a correlated EXISTS would need)
    ctes, fin = _kmeans_ctes(k, n_iter)
    return f"""
    WITH {ctes},
    av AS (SELECT a.vec_id, a.cid, e.embedding
           FROM {fin} a JOIN embeddings e USING (vec_id)),
    dups AS (SELECT DISTINCT x.vec_id
             FROM av x JOIN av y ON x.cid = y.cid AND y.vec_id < x.vec_id
             WHERE ROUND({_cosine_sql("x.embedding", "y.embedding")}, 6)
                   >= {threshold})
    SELECT a.vec_id, a.cid AS cluster_id, d.vec_id IS NULL AS keep
    FROM {fin} a LEFT JOIN dups d USING (vec_id)
    """


@query("emb_semantic_dedup", _semdedup_oracle(), tags=("llm", "dedup", "clustering"))
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means clusters bound the
    pairwise comparisons (sum(|cluster|^2), never |corpus|^2); a vector is
    dropped when a smaller-id neighbor in its cluster exceeds the cosine
    threshold. The oracle replays the clustering as unrolled CTEs and the
    survivor rule as a decorrelated duplicate-id anti set."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(e, "vec_id", "embedding", k=8, n_iter=2, threshold=0.4)


def _incremental_semdedup_oracle(
    k: int = 16, n_iter: int = 2, threshold: float = 0.4
) -> str:
    """Store = even vec_ids (k-means trained on them alone), batch = odd
    vec_ids routed to the stored centroids. Same min-id survivor
    semantics as the incremental MinHash oracle. Seeds are even ids
    < 16, i.e. 8 actual clusters."""
    ctes, fin = _kmeans_ctes(k, n_iter, train_where="vec_id % 2 = 0")
    cos_xy = _cosine_sql("x.embedding", "y.embedding")
    return f"""
    WITH {ctes},
    av AS (SELECT a.vec_id, a.cid, e.embedding
           FROM {fin} a JOIN embeddings e USING (vec_id)),
    m AS (
      SELECT x.vec_id AS doc, y.vec_id AS other,
             ROUND({cos_xy}, 6) AS score
      FROM av x JOIN av y ON x.cid = y.cid AND x.vec_id <> y.vec_id
      WHERE x.vec_id % 2 = 1
        AND (y.vec_id % 2 = 0 OR y.vec_id < x.vec_id)
        AND ROUND({cos_xy}, 6) >= {threshold}),
    best AS (SELECT doc, MIN(other) AS dup_of FROM m GROUP BY doc),
    wj AS (SELECT b.doc, b.dup_of,
            (SELECT MIN(score) FROM m
             WHERE m.doc = b.doc AND m.other = b.dup_of) AS score
           FROM best b)
    SELECT nb.vec_id, nb.cid AS cluster_id, w.dup_of, w.score,
           CASE WHEN w.dup_of IS NULL THEN 'unique'
                WHEN w.dup_of % 2 = 0 THEN 'dup_of_store'
                ELSE 'dup_in_batch' END AS status
    FROM (SELECT vec_id, cid FROM {fin} WHERE vec_id % 2 = 1) nb
    LEFT JOIN wj w ON nb.vec_id = w.doc
    """


@query(
    "emb_incremental_semantic_dedup",
    _incremental_semdedup_oracle(),
    tags=("llm", "dedup", "clustering", "incremental"),
)
def emb_incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: the odd-id half of the embeddings arrives as
    a new batch, is routed to the even-id corpus' FITTED k-means
    centroids (kmeans_fit — no re-training), and dedups against
    same-cluster store vectors plus earlier batch vectors
    (operators/similarity.incremental_semantic_dedup). Per-ingest cost
    O(batch x k) routing + per-affected-cluster GEMM — never O(corpus)."""
    e = load_table(spark, sf_dir, "embeddings")
    store_vecs = e.filter(F.col("vec_id") % 2 == 0)
    new_vecs = e.filter(F.col("vec_id") % 2 == 1)
    assign, cents = SIM.kmeans_fit(
        store_vecs, "vec_id", "embedding", k=16, n_iter=2
    )
    store = store_vecs.select("vec_id", "embedding").join(
        assign.localCheckpoint(eager=False), "vec_id"
    )
    return SIM.incremental_semantic_dedup(
        new_vecs, store, cents, "vec_id", "embedding", threshold=0.4
    )


def _cluster_drift_oracle(k: int = 16, n_iter: int = 2) -> str:
    """Occupancy drift between the store (even ids, the training
    corpus) and an incoming batch (odd ids) routed to the SAME fitted
    centroids — reuses the incremental-semdedup CTE front half.
    first_k seeding: under the even-id train split, vec_id < k would
    yield only k/2 seeds — rank-based seeding keeps the full stated
    cluster resolution (r8 ADVICE fix)."""
    ctes, fin = _kmeans_ctes(
        k, n_iter, train_where="vec_id % 2 = 0", seed="first_k"
    )
    return f"""
    WITH {ctes},
    h AS (SELECT cid,
                 CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_store,
                 CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_batch
          FROM {fin} GROUP BY cid),
    t AS (SELECT CAST(SUM(n_store) AS DOUBLE) AS ts,
                 CAST(SUM(n_batch) AS DOUBLE) AS tb FROM h)
    SELECT h.cid AS cluster_id, h.n_store, h.n_batch,
           FLOOR(h.n_store / t.ts * 10000 + 0.5) / 10000 AS share_store,
           FLOOR(h.n_batch / t.tb * 10000 + 0.5) / 10000 AS share_batch,
           FLOOR((h.n_batch / t.tb - h.n_store / t.ts) * 10000 + 0.5)
             / 10000 AS share_delta
    FROM h, t
    """


@query(
    "emb_cluster_drift",
    _cluster_drift_oracle(),
    tags=("llm", "clustering", "incremental", "drift"),
)
def emb_cluster_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution DRIFT monitor — the clustering twin of
    [[weekly_mixture_drift]]: the odd-id batch is routed to the even-id
    store's FITTED centroids ([[emb_incremental_semantic_dedup]]'s
    routing, no re-training) and per-cluster occupancy shares are
    compared. A cluster whose batch share departs from its store share
    is the early signal that incoming data has shifted — the check an
    embedding pipeline runs per ingest BEFORE the model quietly starts
    seeing a different distribution. Per-ingest cost: O(batch x k)
    routing + two count aggregates + a one-row broadcast of the totals;
    never O(corpus). first_k seeding keeps all 16 centroids under the
    even-id train split (r8 ADVICE fix)."""
    e = load_table(spark, sf_dir, "embeddings")
    store = e.filter(F.col("vec_id") % 2 == 0)
    batch = e.filter(F.col("vec_id") % 2 == 1)
    final_store, cents = SIM.kmeans_fit(
        store, "vec_id", "embedding", k=16, n_iter=2, seed="first_k"
    )
    batch_assign = SIM.kmeans_assign(batch, cents, "vec_id", "embedding")
    tagged = final_store.select(
        F.col("cluster_id").alias("cid"), F.lit(1).alias("is_store")
    ).unionByName(
        batch_assign.select("cid", F.lit(0).alias("is_store"))
    )
    h = tagged.groupBy("cid").agg(
        F.sum("is_store").cast("long").alias("n_store"),
        F.sum(1 - F.col("is_store")).cast("long").alias("n_batch"),
    )
    tot = h.agg(
        F.sum("n_store").cast("double").alias("ts"),
        F.sum("n_batch").cast("double").alias("tb"),
    )

    def r4(c):
        return F.floor(c * 10000 + 0.5) / 10000

    return h.crossJoin(F.broadcast(tot)).select(
        F.col("cid").alias("cluster_id"),
        "n_store",
        "n_batch",
        r4(F.col("n_store") / F.col("ts")).alias("share_store"),
        r4(F.col("n_batch") / F.col("tb")).alias("share_batch"),
        r4(F.col("n_batch") / F.col("tb") - F.col("n_store") / F.col("ts")).alias(
            "share_delta"
        ),
    )


@query(
    "emb_ann_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
    """,
    tags=("llm", "ann"),
)
def emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors over the corpus —
    the exact ANN baseline (broadcast queries, one corpus scan)."""
    e = load_table(spark, sf_dir, "embeddings")
    out = SIM.cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _srp_oracle(num_planes: int = 4, k: int = 5) -> str:
    planes = SIM.srp_planes(num_planes, _DIM)

    def plane_lit(p: list[float]) -> str:
        return "([" + ",".join(repr(v) for v in p) + "]::DOUBLE[])"

    def bucket_sql(vec: str) -> str:
        bits = " + ".join(
            f"(CASE WHEN {_dot_sql(vec, plane_lit(planes[i]))} > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(num_planes)
        )
        return f"({bits})"

    return f"""
    WITH e AS (SELECT vec_id, embedding, {bucket_sql("embedding")} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket
          FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM e c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query("emb_ann_topk_lsh", _srp_oracle(), tags=("llm", "ann", "lsh"))
def emb_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-5: deterministic md5-derived hyperplanes
    bucket the corpus; only same-bucket vectors are scored. The scale path
    (hash lookup instead of corpus scan per query)."""
    e = load_table(spark, sf_dir, "embeddings")
    out = SIM.cosine_topk_lsh(
        e, e.filter(F.col("vec_id") < 10), k=5, num_planes=4, dim=_DIM
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _ivf_oracle(
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    cents_ctes: str | None = None,
    cents_rel: str = "cents",
) -> str:
    """The certified IVF search oracle. ``cents_ctes``/``cents_rel``
    swap in an externally-defined coarse-quantizer CTE chain (the
    trained-centroid variant passes _kmeans_ctes' fitted relation);
    default is the seeded first-C-ids quantizer."""
    cos_ec = _cosine_sql("e.embedding", "c.cvec")
    cos_qa = _cosine_sql("q.q_vec", "a.embedding")
    if cents_ctes is None:
        cents_ctes = (
            f"cents AS (SELECT vec_id AS cid, embedding AS cvec\n"
            f"                   FROM embeddings WHERE vec_id < {n_centroids})"
        )
    return f"""
    WITH {cents_ctes},
    asg AS (SELECT vec_id, embedding, cid AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql(cos_ec)}
                   DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN {cents_rel} c) t WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, embedding AS q_vec, cid AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql(cos_ec)}
                   DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN {cents_rel} c WHERE e.vec_id < 10) t
        WHERE rn <= {nprobe}),
    cand AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                    ROUND({cos_qa}, 6) AS score
             FROM qprobe q JOIN asg a
               ON q.cell = a.cell AND a.vec_id <> q.query_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS rank FROM cand)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query("emb_ann_topk_ivf", _ivf_oracle(), tags=("llm", "ann", "ivf"))
def emb_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: 16 deterministic coarse-quantizer cells, queries probe
    their 4 nearest cells, exact cosine re-ranks candidates (top-5). The
    cell assignment is one narrow corpus projection; per-query search
    touches ~nprobe/C of the corpus via the cell equi-join."""
    e = load_table(spark, sf_dir, "embeddings")
    out = SIM.cosine_topk_ivf(
        e, e.filter(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=4
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _ivf_trained_oracle(
    n_centroids: int = 16, n_iter: int = 2, nprobe: int = 4, k: int = 5
) -> str:
    """IVF search over FITTED centroids: the certified kmeans CTE chain
    (seeds -> n_iter Lloyd updates) supplies the quantizer relation to
    the certified IVF search body — both halves reuse already-certified
    oracle machinery, so the composition stays bit-exact."""
    ctes, _fin = _kmeans_ctes(n_centroids, n_iter)
    return _ivf_oracle(
        nprobe=nprobe, k=k, cents_ctes=ctes, cents_rel=f"c{n_iter}"
    )


@query(
    "emb_ann_topk_ivf_trained",
    _ivf_trained_oracle(),
    tags=("llm", "ann", "ivf", "clustering"),
)
def emb_ann_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN over a TRAINED coarse quantizer (r8 verdict item 4):
    [[emb_kmeans]]'s fitted centroids (k=16, 2 Lloyd iterations) replace
    [[emb_ann_topk_ivf]]'s raw first-16-ids seeds as the cell relation —
    the production-index build (FAISS IVF trains its quantizer on the
    corpus; balanced cells give better recall per probe, see
    [[emb_ivf_probe_sweep]]'s quantizer comparison). Training is one
    bounded k-means job amortized across every future query; search cost
    is identical to the seeded variant (assignment scan + nprobe/C of
    the corpus per query)."""
    e = load_table(spark, sf_dir, "embeddings")
    _final, cents = SIM.kmeans_fit(e, "vec_id", "embedding", k=16, n_iter=2)
    out = SIM.cosine_topk_ivf(
        e, e.filter(F.col("vec_id") < 10), k=5, nprobe=4, centroids=cents
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "emb_near_dup_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_cosine_sql("a.embedding", "b.embedding")}, 6) AS score
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cosine_sql("a.embedding", "b.embedding")} >= 0.4
    """,
    tags=("llm", "ann", "dedup"),
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= 0.4), exact all-pairs via
    the distributed block-pair GEMM: one shuffle keyed on
    (block_a, block_b), per-group vectorized numpy multiply, NO driver
    collect and NO whole-corpus broadcast — each task holds two corpus
    blocks. SRP-LSH bucketing can't serve this query's exact oracle
    (qualifying pairs sit near cosine 0.4 == 66 degrees, where bucket
    recall is poor)."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dup_pairs(e, threshold=0.4)


_PQ_M, _PQ_SUB, _PQ_KSUB = 4, 16, 16


def _pq_subdist_sql(a: str, b: str, s: int, w: int = _PQ_SUB) -> str:
    """Integer-micro squared-L2 distance over sub-space ``s`` — the exact
    mirror of operators/pq._sub_dist_e6 (same index-order fold, same
    floor half-up kernel), so PQ codes are bit-identical across engines."""
    start = s * w + 1
    diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"CAST(FLOOR(list_reduce(list_transform(range({start}, {start + w}),"
        f" i -> {diff} * {diff}), (x, y) -> x + y) * 1e6 + 0.5) AS BIGINT)"
    )


_PROBE_ARMS = (1, 2, 4, 8)


def _ivf_probe_sweep_oracle(k: int = 5) -> str:
    """Recall-vs-nprobe tuning curve, one arm per (quantizer, depth):
    the certified IVF oracle (seeded) and its trained-centroid variant
    nested once per probe depth, each joined against the exact cosine
    top-k (the emb_sq8/pq recall-report pattern)."""
    quantizers = {
        "seeded": lambda np: _ivf_oracle(nprobe=np, k=k),
        "trained": lambda np: _ivf_trained_oracle(nprobe=np, k=k),
    }
    p_ctes = ",\n    ".join(
        f"p_{qz}_{np} AS (SELECT query_id, neighbor_id"
        f" FROM ({mk(np)}) t)"
        for qz, mk in quantizers.items()
        for np in _PROBE_ARMS
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT '{qz}' AS quantizer, CAST({np} AS BIGINT) AS nprobe,"
        f" CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,"
        f" CAST((SELECT COUNT(*) FROM p_{qz}_{np} p JOIN exact b"
        f" USING (query_id, neighbor_id)) AS BIGINT) AS n_matched"
        for qz in quantizers
        for np in _PROBE_ARMS
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored) t WHERE rank <= {k}),
    {p_ctes}
    SELECT quantizer, nprobe, n_exact, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_exact, 4) AS recall
    FROM ({arms})
    """


@query(
    "emb_ivf_probe_sweep",
    _ivf_probe_sweep_oracle(),
    tags=("llm", "ann", "ivf", "eval", "quality"),
)
def emb_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF TUNING SURFACE — recall vs the exact cosine top-5 across
    probe depths 1/2/4/8 for BOTH coarse quantizers: the seeded
    first-16-ids cells ([[emb_ann_topk_ivf]]) and the k-means-fitted
    cells ([[emb_ann_topk_ivf_trained]]). The curve an operator reads
    to pick the cheapest (quantizer, nprobe) that clears the recall
    target before deploying the index at corpus scale — the trained
    quantizer's balanced cells typically buy the same recall at a lower
    probe depth, and this instrument is where that claim is measured
    rather than assumed (r8 verdict item 4). Exact ground truth is
    computed ONCE (checkpoint shared by all eight arms); the trained
    centroids are fitted ONCE (one kmeans_fit) and shared
    by their four arms. Completes the eval-instrument family
    ([[emb_ann_recall_report]], [[emb_pq_recall_report]],
    [[emb_sq8_recall_report]], [[emb_matryoshka_recall_report]])."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    exact = (
        SIM.cosine_topk(e, probes, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    n_exact = exact.count()

    def _probe_arm(qz, cents, cells, np_):
        approx = SIM.cosine_topk_ivf(
            e, probes, k=5, n_centroids=16, nprobe=np_,
            centroids=cents, cells=cells,
        ).select("query_id", "neighbor_id")
        matched = approx.join(exact, ["query_id", "neighbor_id"]).count()
        recall = round(matched / n_exact, 4) if n_exact else None
        return (qz, np_, n_exact, matched, recall)

    def _quantizer_arms(qz, cents):
        # index built ONCE per quantizer: the corpus-side cell
        # assignment is the expensive half, identical across the four
        # nprobe arms (only the query probe depth varies) — the four
        # matched-count jobs then overlap (guide §2.6)
        cells = SIM.ivf_build_cells(e, n_centroids=16, centroids=cents)
        return run_jobs([
            (lambda np_=np_: _probe_arm(qz, cents, cells, np_))
            for np_ in _PROBE_ARMS
        ])

    def _trained_arms():
        # the k-means fit chain gates only its own quantizer's arms;
        # the seeded arms back-fill the box while it runs
        _final, cents = SIM.kmeans_fit(
            e, "vec_id", "embedding", k=16, n_iter=2
        )
        return _quantizer_arms("trained", cents)

    armsets = run_jobs([
        lambda: _quantizer_arms("seeded", None),
        _trained_arms,
    ])
    rows = [r for armset in armsets for r in armset]
    return local_df(
        spark, rows,
        "quantizer string, nprobe long, n_exact long, n_matched long,"
        " recall double",
    )


def _pq_ctes() -> str:
    """Shared PQ oracle CTEs: seeded codebook, per-(vector, sub-space)
    distances (one UNION ALL arm per sub-space), argmin code assignment
    with the (de6 ASC, cid ASC) integer tie-break."""
    arms = " UNION ALL ".join(
        f"SELECT e.vec_id, c.cid, {s} AS s,"
        f" {_pq_subdist_sql('e.embedding', 'c.cvec', s)} AS de6"
        f" FROM embeddings e CROSS JOIN pqseeds c"
        for s in range(_PQ_M)
    )
    return f"""
    pqseeds AS (SELECT vec_id AS cid, embedding AS cvec
                FROM embeddings WHERE vec_id < {_PQ_KSUB}),
    sd AS ({arms}),
    pqcodes AS (
      SELECT vec_id, s, cid AS code, de6 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                  ORDER BY de6 ASC, cid ASC) AS rn FROM sd) t
      WHERE rn = 1)"""


@query(
    "emb_pq_codes",
    f"""
    WITH {_pq_ctes()}
    SELECT vec_id,
           {", ".join(f"CAST(MAX(CASE WHEN s = {s} THEN code END) AS BIGINT)"
                      f" AS code_{s}" for s in range(_PQ_M))},
           CAST(SUM(de6) AS DOUBLE) / 1e6 AS recon_err
    FROM pqcodes GROUP BY vec_id
    """,
    tags=("llm", "ann", "pq", "quantization"),
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode (operators/pq.py): every vector
    compressed to 4 sub-space codebook codes (16 entries each — 2 bytes
    total vs 256 B of floats) plus its exact-integer reconstruction
    error. The 100 TB memory-footprint path of similarity search: the
    16-entry codebook read to the driver once, then one narrow
    mapInArrow corpus pass encoding each Arrow batch in numpy (no join,
    no shuffle), every comparison in integer micros."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_encode(
        e, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB
    )


_PQ_QD_ARMS = " UNION ALL ".join(
    f"SELECT q.query_id, c.cid AS code, {s} AS s,"
    f" {_pq_subdist_sql('q.q_vec', 'c.cvec', s)} AS de6"
    f" FROM pqq q CROSS JOIN pqseeds c"
    for s in range(_PQ_M)
)


def _pq_topk_oracle(k: int = 5) -> str:
    return f"""
    WITH {_pq_ctes()},
    pqq AS (SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 10),
    qd AS ({_PQ_QD_ARMS}),
    cand AS (
      SELECT d.query_id, p.vec_id AS neighbor_id,
             CAST(SUM(d.de6) AS DOUBLE) / 1e6 AS score
      FROM pqcodes p JOIN qd d ON d.s = p.s AND d.code = p.code
      WHERE p.vec_id <> d.query_id
      GROUP BY 1, 2),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score ASC, neighbor_id ASC) AS BIGINT) AS rank
          FROM cand)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query(
    "emb_ann_topk_pq",
    _pq_topk_oracle(),
    tags=("llm", "ann", "pq"),
)
def emb_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5 (operators/pq.py): each query's
    4 x 16 micro-distance table is built on the driver and corpus
    vectors are ranked by the SUM of 4 integer table lookups over their
    CODES, scored per Arrow batch in one numpy pass — no raw corpus
    vector leaves its batch. Rank by (ADC distance ASC, neighbor_id
    ASC); score is exact integers / 1e6."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_topk(
        e, e.filter(F.col("vec_id") < 10),
        k=5, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
    )


def _ivfpq_oracle(
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    cents_ctes: str | None = None,
    cents_rel: str = "cents",
) -> str:
    """IVF-PQ: corpus cells (asg) and query probes (qprobe) both rank
    centroids by similarity._nearest's score (``_cell_score_sql``),
    composed with the certified PQ code CTEs; candidates come from the probed cells, the score from the
    integer ADC lookup. ``cents_ctes``/``cents_rel`` swap in an
    external coarse-quantizer chain (trained variant), as in
    _ivf_oracle."""
    cos_ec = _cosine_sql("e.embedding", "c.cvec")
    qd_arms = " UNION ALL ".join(
        f"SELECT q.query_id, c.cid AS code, {s} AS s,"
        f" {_pq_subdist_sql('q.q_vec', 'c.cvec', s)} AS de6"
        f" FROM pqq q CROSS JOIN pqseeds c"
        for s in range(_PQ_M)
    )
    if cents_ctes is None:
        cents_ctes = (
            f"cents AS (SELECT vec_id AS cid, embedding AS cvec\n"
            f"              FROM embeddings WHERE vec_id < {n_centroids})"
        )
    return f"""
    WITH {_pq_ctes()},
    {cents_ctes},
    asg AS (SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql(cos_ec)}
                   DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN {cents_rel} c) t WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql(cos_ec)}
                   DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN {cents_rel} c WHERE e.vec_id < 10) t
        WHERE rn <= {nprobe}),
    pqq AS (SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 10),
    qd AS ({qd_arms}),
    cand AS (
      SELECT q.query_id, a.vec_id AS neighbor_id
      FROM qprobe q JOIN asg a ON q.cell = a.cell
      WHERE a.vec_id <> q.query_id),
    adc AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(d.de6) AS DOUBLE) / 1e6 AS score
      FROM cand c
      JOIN pqcodes p ON p.vec_id = c.neighbor_id
      JOIN qd d ON d.query_id = c.query_id
               AND d.s = p.s AND d.code = p.code
      GROUP BY 1, 2),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score ASC, neighbor_id ASC) AS BIGINT) AS rank
          FROM adc)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query("emb_ann_topk_ivfpq", _ivfpq_oracle(), tags=("llm", "ann", "ivf", "pq"))
def emb_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.pq_topk_ivf — the FAISS IndexIVFPQ
    layout, by_residual=false variant): coarse cosine cells bound WHICH
    codes each query scores (the rows of its nprobe cells, ~nprobe/C of
    the corpus), PQ bounds the bytes per candidate (m codes, raw vectors
    untouched at search time), ADC ranks by exact-integer distance.
    The composite of the two certified index halves — cells identical
    to emb_ann_topk_ivf's assignment, codes identical to emb_pq_codes."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_topk_ivf(
        e, e.filter(F.col("vec_id") < 10),
        k=5, n_centroids=16, nprobe=4,
        m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
    )


def _ivfpq_trained_oracle(
    n_centroids: int = 16, n_iter: int = 2, nprobe: int = 4, k: int = 5
) -> str:
    """IVF-PQ over FITTED coarse cells: the certified kmeans CTE chain
    supplies the quantizer relation to the certified IVF-PQ body —
    the IVF-PQ twin of _ivf_trained_oracle."""
    ctes, _fin = _kmeans_ctes(n_centroids, n_iter)
    return _ivfpq_oracle(
        nprobe=nprobe, k=k, cents_ctes=ctes, cents_rel=f"c{n_iter}"
    )


@query(
    "emb_ann_topk_ivfpq_trained",
    _ivfpq_trained_oracle(),
    tags=("llm", "ann", "ivf", "pq", "clustering"),
)
def emb_ann_topk_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN over a TRAINED coarse quantizer — the full
    production-index composition: [[emb_kmeans]]'s fitted centroids
    (k=16, 2 Lloyd iterations) bound WHICH PQ codes each query reads,
    exactly as [[emb_ann_topk_ivf_trained]] does for IVF-Flat, while
    the PQ half ([[emb_pq_codes]]' codes, integer ADC) is unchanged.
    FAISS's IndexIVFPQ trains its quantizer the same way; search cost
    is identical to the seeded variant — training is the only extra
    build-side job, amortized across every future query."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    _final, cents = SIM.kmeans_fit(e, "vec_id", "embedding", k=16, n_iter=2)
    return PQ.pq_topk_ivf(
        e, e.filter(F.col("vec_id") < 10),
        k=5, nprobe=4,
        m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        centroids=cents,
    )


_SQ8_CTES = """
    prep AS (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
             FROM embeddings),
    stats AS (SELECT vec_id, xd,
                     list_aggregate(xd, 'min') AS vmin,
                     list_aggregate(xd, 'max') AS vmax
              FROM prep),
    spans AS (SELECT vec_id, xd, vmin,
                     CASE WHEN vmax > vmin THEN vmax - vmin ELSE 1.0 END AS span
              FROM stats),
    dq AS (SELECT vec_id AS neighbor_id,
                  list_transform(xd, x -> vmin +
                    (LEAST(FLOOR(((x - vmin) / span) * 256), 255) * span) / 255)
                    AS rvec
           FROM spans)"""


def _sq8_topk_oracle(k: int = 5, cand: int = 15) -> str:
    return f"""
    WITH {_SQ8_CTES},
    q AS (SELECT vec_id AS query_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 10),
    approx AS (
      SELECT q.query_id, d.neighbor_id,
             CAST(FLOOR({_cosine_sql("q.q_vec", "d.rvec")} * 1e6 + 0.5)
                  AS BIGINT) AS a6
      FROM dq d, q WHERE d.neighbor_id <> q.query_id),
    c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY a6 DESC, neighbor_id ASC) AS crank FROM approx),
    cand AS (SELECT query_id, neighbor_id FROM c WHERE crank <= {cand}),
    ex AS (SELECT c2.query_id, c2.neighbor_id,
                  ROUND({_cosine_sql("q.q_vec", "e.embedding")}, 6) AS score
           FROM cand c2 JOIN q ON q.query_id = c2.query_id
                JOIN embeddings e ON e.vec_id = c2.neighbor_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS rank FROM ex)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query("emb_ann_topk_sq8", _sq8_topk_oracle(), tags=("llm", "ann", "quantize"))
def emb_ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 two-stage ANN (operators/similarity.cosine_topk_sq8 — the
    FAISS IndexScalarQuantizer QT_8bit search pattern), completing the
    quantized-search family alongside [[emb_ann_topk_pq]] and
    [[emb_ann_topk_ivfpq]]: stage 1 scans the int8-compressed store
    (same affine codes as [[emb_quantize_int8]]) and keeps 15
    candidates per query by approximate cosine over DEQUANTIZED codes
    (floor-quantized to 1e-6 so selection is engine-portable); stage 2
    fetches raw vectors for candidates only (|queries| x 15 equi-join
    rows) and re-ranks by exact cosine. At 100 TB the scan reads the 4x
    smaller codes relation; raw floats are touched only per-candidate."""
    e = load_table(spark, sf_dir, "embeddings")
    out = SIM.cosine_topk_sq8(
        e, e.filter(F.col("vec_id") < 10), k=5, cand_per_query=15
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _sq8_recall_oracle(k: int = 5) -> str:
    """Recall of the SQ8 scan+rerank path at two candidate budgets vs
    the exact cosine top-k — nests the certified sq8 oracle as
    subqueries (the emb_pq_recall_report pattern)."""
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored) t WHERE rank <= {k}),
    s8 AS (SELECT query_id, neighbor_id FROM ({_sq8_topk_oracle(k, 8)}) t),
    s15 AS (SELECT query_id, neighbor_id FROM ({_sq8_topk_oracle(k, 15)}) t),
    m AS (
      SELECT 'sq8_cand8' AS method,
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
             CAST((SELECT COUNT(*) FROM s8 p JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT) AS n_matched
      UNION ALL
      SELECT 'sq8_cand15',
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT),
             CAST((SELECT COUNT(*) FROM s15 i JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT))
    SELECT method, n_exact, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_exact, 4) AS recall
    FROM m
    """


@query(
    "emb_sq8_recall_report",
    _sq8_recall_oracle(),
    tags=("llm", "ann", "quantize", "eval", "quality"),
)
def emb_sq8_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quality measurement (the scalar-quantization twin of
    [[emb_pq_recall_report]]): what fraction of the EXACT cosine top-5
    does [[emb_ann_topk_sq8]] recover at candidate budgets 8 and 15.
    Because stage 2 re-ranks with exact cosine, any recall loss is
    attributable to the candidate stage alone — the budget knob this
    report tunes before trusting the compressed scan at corpus scale.
    Corpus encoded ONCE (sq8_compress checkpoint shared by both
    budgets) and ground truth computed once, the deployment shape."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    exact = (
        SIM.cosine_topk(e, probes, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    comp = SIM.sq8_compress(e).localCheckpoint(eager=False)
    # materialize the shared inputs concurrently (ground truth + the
    # compressed corpus both budgets scan), then overlap the arms
    # (guide §2.6)
    n_exact, _ = run_jobs([exact.count, comp.count])

    def _arm(method, cand):
        approx = SIM.cosine_topk_sq8(
            e, probes, k=5, cand_per_query=cand, comp=comp
        ).select("query_id", "neighbor_id")
        matched = approx.join(exact, ["query_id", "neighbor_id"]).count()
        # recall of an empty probe set is undefined -> NULL (the SQL
        # x/0 answer the oracle produces)
        recall = round(matched / n_exact, 4) if n_exact else None
        return (method, n_exact, matched, recall)

    rows = run_jobs([
        lambda: _arm("sq8_cand8", 8),
        lambda: _arm("sq8_cand15", 15),
    ])
    return local_df(
        spark, rows,
        "method string, n_exact long, n_matched long, recall double",
    )


def _pq_recall_oracle(k: int = 5) -> str:
    """Recall of the two PQ search paths vs the exact-L2 top-k on the
    SAME per-sub-space integer grid — nests the certified pq/ivfpq
    oracles as subqueries (the emb_ann_recall_report pattern)."""
    exact_arms = " UNION ALL ".join(
        f"SELECT q.query_id, c.vec_id AS neighbor_id,"
        f" {_pq_subdist_sql('q.q_vec', 'c.embedding', s)} AS de6"
        f" FROM embeddings c CROSS JOIN pqq q WHERE c.vec_id <> q.query_id"
        for s in range(_PQ_M)
    )
    return f"""
    WITH pqq AS (SELECT vec_id AS query_id, embedding AS q_vec
                 FROM embeddings WHERE vec_id < 10),
    exact_pairs AS (
      SELECT query_id, neighbor_id, SUM(de6) AS d
      FROM ({exact_arms}) GROUP BY 1, 2),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY d ASC, neighbor_id ASC) AS rk
        FROM exact_pairs) t WHERE rk <= {k}),
    pqr AS (SELECT query_id, neighbor_id FROM ({_pq_topk_oracle(k)}) t),
    ivfpqr AS (SELECT query_id, neighbor_id FROM ({_ivfpq_oracle(k=k)}) t),
    m AS (
      SELECT 'pq' AS method,
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
             CAST((SELECT COUNT(*) FROM pqr p JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT) AS n_matched
      UNION ALL
      SELECT 'ivfpq',
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT),
             CAST((SELECT COUNT(*) FROM ivfpqr i JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT))
    SELECT method, n_exact, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_exact, 4) AS recall
    FROM m
    """


@query(
    "emb_pq_recall_report",
    _pq_recall_oracle(),
    tags=("llm", "ann", "pq", "eval", "quality"),
)
def emb_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality measurement (the quantization twin of
    [[emb_ann_recall_report]]): what fraction of the exact-L2 top-5 —
    computed on the same per-sub-space integer grid, so the comparison
    isolates QUANTIZATION loss, not metric mismatch — do flat ADC and
    IVF-PQ recover. The number that tells you whether m / k_sub /
    nprobe are tuned before trusting the compressed index at scale."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    kw = dict(m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB)
    # ground truth is computed ONCE per (corpus, query-set, k) and
    # reused by every consumer (the count + one join per method below
    # are three actions; without the checkpoint each re-runs the full
    # exact-L2 GEMM over the corpus — r6 verdict item 4)
    exact = (
        PQ.exact_l2_topk(e, probes, k=5, m=_PQ_M, sub_dim=_PQ_SUB)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    # encode ONCE and search both paths off the materialized index —
    # the deployment shape (a PQ index is built once, queried many
    # times); without the checkpoint each search re-runs the encode
    codes = PQ.pq_encode(e, "vec_id", "embedding", **kw).localCheckpoint(
        eager=False
    )
    flat = PQ.pq_topk(e, probes, k=5, codes=codes, **kw).select(
        "query_id", "neighbor_id"
    )
    ivfpq = PQ.pq_topk_ivf(
        e, probes, k=5, n_centroids=16, nprobe=4, codes=codes, **kw
    ).select("query_id", "neighbor_id")
    # materialize the shared inputs concurrently (ground truth + the
    # encode both arms search over), then overlap the arms (guide §2.6)
    n_exact, _ = run_jobs([exact.count, codes.count])

    def _arm(method, approx):
        matched = approx.join(exact, ["query_id", "neighbor_id"]).count()
        # recall of an empty probe set is undefined -> NULL (the SQL
        # x/0 answer the oracle produces)
        recall = round(matched / n_exact, 4) if n_exact else None
        return (method, n_exact, matched, recall)

    rows = run_jobs([
        lambda: _arm("pq", flat),
        lambda: _arm("ivfpq", ivfpq),
    ])
    return local_df(
        spark, rows,
        "method string, n_exact long, n_matched long, recall double"
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@query(
    "mm_image_features",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           sha256(text) AS sha256,
           octet_length(encode(text)) % 640 AS width,
           octet_length(encode(text)) % 480 AS height,
           CASE WHEN text IS NULL THEN NULL
                ELSE CAST(3 AS BIGINT) END AS channels
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload image pipeline: attach binary + typed metadata, then
    Arrow-batched mapInPandas decode/feature-extract (decoder stubbed —
    deterministic byte-derived dims + sha256; plumbing is real)."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.attach_binary(d, "text", "doc_id", modality="image")
    out = MM.extract_image_features(media, "doc_id")
    return out.select(
        "doc_id",
        "byte_len",
        "sha256",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
    )


@query(
    "mm_frame_hashes",
    """
    WITH f AS (
      SELECT doc_id, text,
             unnest(range(0, octet_length(encode(text)) // 16, 4)) AS frame_idx
      FROM documents)
    SELECT doc_id, frame_idx, md5(substr(text, frame_idx * 16 + 1, 16)) AS frame_md5
    FROM f
    """,
    tags=("llm", "multimodal"),
)
def mm_frame_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Video' frame sampling over the binary payload: 16-byte frames,
    every 4th sampled, md5 per frame — mapInPandas with output-cardinality
    blowup kept inside the task. (Oracle slices the text — identical bytes
    for this ASCII corpus.)"""
    d = load_table(spark, sf_dir, "documents")
    media = MM.attach_binary(d, "text", "doc_id")
    out = MM.sample_frames(media, "doc_id", frame_bytes=16, stride=4)
    return out.select("doc_id", F.col("frame_idx").cast("long").alias("frame_idx"), "frame_md5")


@query(
    "mm_resize_images",
    """
    SELECT doc_id,
           octet_length(encode(text)) % 640 AS width,
           octet_length(encode(text)) % 480 AS height,
           64 AS out_width, 48 AS out_height,
           CASE WHEN text IS NULL THEN NULL
                ELSE CAST(3072 AS BIGINT) END AS resized_len,
           md5(rpad(substring(text, 1, 3072), 3072, ' ')) AS resized_md5
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def mm_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize over binary payloads (codec import-gated; byte-exact
    slice-and-pad stand-in here). Embarrassingly parallel mapInPandas —
    rows in == rows out, no shuffle; the oracle reproduces the resized
    bytes with string ops (ASCII corpus)."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.attach_binary(d, "text", "doc_id", modality="image")
    out = MM.resize_images(media, "doc_id", out_width=64, out_height=48)
    return out.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("out_width").cast("long").alias("out_width"),
        F.col("out_height").cast("long").alias("out_height"),
        "resized_len",
        "resized_md5",
    )


@query(
    "mm_audio_features",
    """
    WITH t AS (SELECT doc_id, text,
                      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
               FROM documents),
    u AS (SELECT t.doc_id, unicode(substr(t.text, CAST(r.i AS INT), 1)) AS b
          FROM t, unnest(range(1, CAST(length(t.text) + 1 AS BIGINT))) AS r(i)),
    s AS (SELECT doc_id,
                 CAST(((2 * CAST(SUM(b) AS BIGINT) * 1000000 + COUNT(*))
                       // (2 * COUNT(*))
                       - (CASE WHEN (2 * CAST(SUM(b) AS BIGINT) * 1000000
                                 + COUNT(*)) % (2 * COUNT(*)) < 0
                          THEN 1 ELSE 0 END)) AS DOUBLE) / 1000000.0
                   AS mean_amplitude,
                 CAST(MAX(b) AS BIGINT) AS peak_amplitude
          FROM u GROUP BY doc_id)
    SELECT t.doc_id, t.byte_len,
           CASE WHEN t.byte_len IS NULL THEN NULL
                ELSE COALESCE(s.mean_amplitude, 0.0) END AS mean_amplitude,
           CASE WHEN t.byte_len IS NULL THEN NULL
                ELSE COALESCE(s.peak_amplitude, 0) END AS peak_amplitude
    FROM t LEFT JOIN s USING (doc_id)
    """,
    tags=("llm", "multimodal"),
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Audio' feature extraction (librosa import-gated; deterministic byte
    stats stub here — mean/peak byte value). The oracle unnests code
    points (the corpus is ASCII, so code point == payload byte); the byte
    sum is integer-exact in both engines and the mean rounds HALF-UP via
    the integer ``(2x + d) div 2d`` kernel on BOTH sides — Python
    ``round()``'s half-even diverged at an exact 6-dp midpoint at sf1
    (byte sums over power-of-two payload lengths hit them)."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.attach_binary(d, "text", "doc_id", modality="audio")
    return MM.extract_audio_features(media, "doc_id")


# ---------------------------------------------------------------------------
# Streaming
# ---------------------------------------------------------------------------


@query(
    "stream_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ), agg AS (
      SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM sess GROUP BY user_id, sid
    ), m AS (SELECT max(ts) AS mx FROM events)
    SELECT a.user_id, a.session_start, a.session_end, a.n_events
    FROM agg a, m
    WHERE EXISTS (SELECT 1 FROM agg b WHERE b.user_id = a.user_id
                  AND b.session_start > a.session_start)
       OR epoch_ms(a.session_end) + 1800000 < epoch_ms(m.mx) - 1800000
    """,
    tags=("llm", "streaming", "stateful"),
)
def stream_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: inactivity-gap sessionization via
    applyInPandasWithState (per-user open-session state, event-time
    timeouts). The oracle states the closure condition exactly: a session
    is emitted iff a later session of the same user exists (gap closure)
    or the final watermark (max event time - 30 min) passed its
    end + 30 min (timeout closure)."""
    import uuid as _uuid

    from etl_gardener_spark.streaming.events import read_events_stream
    from etl_gardener_spark.streaming.sessions import sessionize_stream

    events = read_events_stream(spark, sf_dir)
    from etl_gardener_spark.streaming.state import state_store_partitions

    name = f"sessions_{_uuid.uuid4().hex[:8]}"
    # r8 A/B (streaming/state.py): sessionize's python-state-worker time
    # dominates, so task-s sits at its ~11 s floor at the 4-store
    # default (vs ~15 at 8 stores) while wall pays ~1 s of lost
    # parallelism — the task-primary tradeoff. The verdict target of
    # <8 task-s is NOT reachable by store count: JVM cpu is ~0.5 s and
    # the rest is applyInPandasWithState group processing.
    with state_store_partitions(spark):
        q = (
            sessionize_stream(events)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    return local_df(spark, out.collect(), schema=out.schema)


@query(
    "stream_hourly_rollup",
    """
    SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
           COUNT(*) AS n, CAST(((2 * SUM(CAST(FLOOR((value) * 1e6 + 0.5) AS HUGEINT)) + 10000) // (20000) - (CASE WHEN (2 * SUM(CAST(FLOOR((value) * 1e6 + 0.5) AS HUGEINT)) + 10000) % (20000) < 0 THEN 1 ELSE 0 END)) AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("llm", "streaming"),
)
def stream_hourly_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly rollup executed as a Structured Streaming query
    (watermark + tumbling window, memory sink, drained synchronously) —
    must equal the batch oracle exactly."""
    from etl_gardener_spark.streaming.events import stream_hourly_rollup

    return stream_hourly_rollup(spark, sf_dir)


@query(
    "stream_static_enrich",
    """
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id)
    SELECT f.cohort_day, e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(((2 * SUM(CAST(FLOOR((e.value) * 1e6 + 0.5) AS HUGEINT)) + 10000) // (20000) - (CASE WHEN (2 * SUM(CAST(FLOOR((e.value) * 1e6 + 0.5) AS HUGEINT)) + 10000) % (20000) < 0 THEN 1 ELSE 0 END)) AS DOUBLE) / 100.0 AS total_value
    FROM events e JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("llm", "streaming", "join"),
)
def stream_static_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: micro-batched events broadcast-joined to a
    batch-computed user-cohort dimension, aggregated per (cohort_day,
    event_type). Must equal the equivalent batch join+rollup."""
    from etl_gardener_spark.streaming.events import stream_static_enrich

    return stream_static_enrich(spark, sf_dir)


@query(
    "stream_stream_attrib",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id
    FROM events p JOIN events c ON p.user_id = c.user_id
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
    tags=("llm", "streaming", "join"),
)
def stream_stream_attrib_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click-to-purchase attribution within
    1 h): watermark-bounded buffered state on both sides. Must equal the
    batch range-predicate join."""
    from etl_gardener_spark.streaming.events import (
        stream_stream_click_attribution,
    )

    return stream_stream_click_attribution(spark, sf_dir)


@query(
    "stream_dedup",
    """
    SELECT DISTINCT CAST(ts AS DATE) AS date, user_id, event_type
    FROM events
    """,
    tags=("llm", "streaming", "dedup"),
)
def stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: dropDuplicatesWithinWatermark on (date, user_id,
    event_type) with the key's day in the key, so dedup state is bounded —
    the watermark seals each day and evicts its keys. Must equal batch
    SELECT DISTINCT."""
    from etl_gardener_spark.streaming.dedup import stream_dedup_keys

    return stream_dedup_keys(spark, sf_dir)


@query(
    "stream_warehouse_sink",
    """
    SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
           COUNT(*) AS n, CAST(((2 * SUM(CAST(FLOOR((value) * 1e6 + 0.5) AS HUGEINT)) + 10000) // (20000) - (CASE WHEN (2 * SUM(CAST(FLOOR((value) * 1e6 + 0.5) AS HUGEINT)) + 10000) % (20000) < 0 THEN 1 ELSE 0 END)) AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("llm", "streaming", "sink", "warehouse"),
)
def stream_warehouse_sink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance end-to-end: the hourly
    rollup stream feeds ``foreachBatch``, which dynamic-overwrites
    exactly the day partitions present in each micro-batch's complete
    aggregate (streaming/sink.py); the verified result is the warehouse
    table READ BACK from parquet, not the in-memory sink — so the gate
    covers the idempotent exactly-once partition-write discipline, the
    `date=` layout, and the round trip, against the same batch oracle as
    [[stream_hourly_rollup]]."""
    import tempfile as _tf

    from etl_gardener_spark.streaming.events import read_events_stream
    from etl_gardener_spark.streaming.sink import stream_hourly_rollup_to_warehouse
    from etl_gardener_spark.streaming.state import state_store_partitions
    from etl_gardener_spark.warehouse import Warehouse

    import shutil as _shutil

    root = _tf.mkdtemp(prefix="etl_gardener_spark_streamsink_")
    ckpt = _tf.mkdtemp(prefix="etl_gardener_spark_streamsink_ckpt_")
    try:
        wh = Warehouse(root)
        events = read_events_stream(spark, sf_dir)
        with state_store_partitions(spark):
            q = stream_hourly_rollup_to_warehouse(
                events, wh, "exp", "hourly", ckpt
            )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = wh.read(spark, "join", "exp", "hourly")
        # Materialize before the tempdirs are removed (the returned frame
        # must not re-read the deleted warehouse files).
        return local_df(
            spark,
            out.select("hour", "event_type", "n", "total_value").collect(),
            schema=out.select("hour", "event_type", "n", "total_value").schema,
        )
    finally:
        _shutil.rmtree(root, ignore_errors=True)
        _shutil.rmtree(ckpt, ignore_errors=True)


@query(
    "stream_sliding_rollup",
    f"""
    WITH expanded AS (
      SELECT event_type, value,
             time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * k)
               AS win_start
      FROM events, unnest([0, 1, 2, 3]) AS t(k))
    SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {micro_sum_sql("value", 2)} AS total_value
    FROM expanded GROUP BY 1, 2
    """,
    tags=("llm", "streaming", "sliding"),
)
def stream_sliding_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h every 15 min) as a Structured Streaming
    query: the watermark bounds the 4x overlapping-window state exactly
    as it does tumbling state, and a drained complete-mode run must
    equal the batch twin [[sliding_1h_15m_rollup]] and its oracle —
    one logical window spec, two execution modes. Value totals route
    through the exact micro-unit kernel (functions/exact.py) like every
    other money aggregate — the r5 driver failure of this query was the
    ROUND-of-decimal-SUM display, whose double->DECIMAL cast and
    decimal ROUND are engine-version-dependent at midpoints."""
    import uuid as _uuid

    from etl_gardener_spark.streaming.events import read_events_stream
    from etl_gardener_spark.streaming.state import state_store_partitions

    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            micro_sum(F.col("value")).alias("__s"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            micro_display("__s", 2).alias("total_value"),
        )
    )
    name = f"slide_{_uuid.uuid4().hex[:8]}"
    with state_store_partitions(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    return local_df(spark, out.collect(), schema=out.schema)


@query(
    "stream_session_window",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ), agg AS (
      SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM sess GROUP BY user_id, sid
    ), m AS (SELECT max(ts) AS mx FROM events)
    SELECT a.user_id, a.session_start, a.session_end, a.n_events
    FROM agg a, m
    WHERE epoch_ms(a.session_end) + 1800000 < epoch_ms(m.mx) - 600000
    """,
    tags=("llm", "streaming", "sessionize", "native-window"),
)
def stream_session_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via the BUILT-IN session_window aggregate
    — the declarative counterpart to [[stream_sessionize]]'s custom
    applyInPandasWithState operator: same gap semantics, but state
    merging lives in the engine's session-window state store instead of
    user code (no Python in the loop). Append-mode emission is purely
    watermark-driven: a session surfaces iff the final watermark
    (max event time - 10 min) passed its end + 30 min — unlike
    [[stream_sessionize]]'s custom operator, a later session of the same
    user does NOT flush an earlier one, so the oracle states only the
    watermark condition. Exact-gap ties
    would diverge from the lag-based oracle but cannot occur in
    microsecond-resolution testdata (see [[session_window_rollup]])."""
    import uuid as _uuid

    from etl_gardener_spark.streaming.events import read_events_stream
    from etl_gardener_spark.streaming.state import state_store_partitions

    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    name = f"sw_{_uuid.uuid4().hex[:8]}"
    with state_store_partitions(spark):
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    return local_df(spark, out.collect(), schema=out.schema)


# 60-bit stub pHash (15 hex digits of md5 — the same fold width as the
# shingle kernel): wide enough that 4-band pigeonhole keys carry 15
# bits (32k buckets/band), narrow enough that the hex fold and the
# xor/bit_count pairing stay inside SIGNED 64-bit arithmetic on both
# engines (a full 64-bit fold overflows DuckDB's checked BIGINT
# multiply when the top bit is set).
_PHASH60 = (
    "list_reduce(list_transform(string_split(substr(md5(text),1,15), ''),"
    " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),"
    " (x, y) -> x * 16 + y)"
)


# 1-bit deterministic "sensor noise" flip keyed on doc_id — what
# separates two re-encodings of the same canonical image in a real
# pHash. Identical expression in the Python stub and the oracle.
_PHASH_NOISE = "(CAST(1 AS BIGINT) << ((doc_id * 7) % 60))"


@query(
    "mm_phash_near_pairs",
    f"""
    WITH p AS (SELECT doc_id,
                      CASE WHEN doc_id % 5 = 0
                           THEN 'img-canvas-' || CAST(doc_id // 20 AS VARCHAR)
                           ELSE text END AS text
               FROM documents),
    h AS (SELECT doc_id, xor({_PHASH60}, {_PHASH_NOISE}) AS phash FROM p)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """,
    tags=("llm", "multimodal", "dedup", "lsh"),
)
def mm_phash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-item multimodal dedup: perceptual-hash near-duplicate pairs
    over binary payloads. The pHash is computed INSIDE mapInPandas over
    the payload bytes (a deterministic 60-bit md5-fold stub XOR a 1-bit
    doc_id-keyed noise flip — a real pipeline swaps in DCT-based pHash
    after decode, same output contract), then the TEXT pipeline's
    SimHash banding operator (neardup.simhash_near_pairs, 4-band
    pigeonhole over bits=60, hamming <= 3) finds candidate pairs
    unchanged — modality lives in the UDF, the candidate-generation
    plan is shared.

    The operating point is the published web-dedup one (Manku et al.'s
    SimHash dedup runs hamming <= 3 on 64-bit fingerprints): band keys
    carry bits/bands = 15 bits, so each of the 4 band joins buckets the
    corpus over 32k keys — ~1.5 ids/bucket at 50k docs, ~5 at 150k —
    and candidate volume stays linear where it matters. The r7 version
    (hamming <= 7 of 32 bits, 8 bands) had 4-bit band keys: 16 buckets
    per band went pairwise-dense past ~10k items AND the true result
    was itself birthday-quadratic (1.31M pairs at sf1); an r8 interim
    56-bit/8-band variant still drowned at sf1 because 7-bit keys give
    only 128 buckets. Key width = bits/(max_hamming+1) is THE scale
    lever, and permissive thresholds need wider hashes — documented in
    simhash_near_pairs.

    The near-dup structure is planted like every other synth decoration
    (_synth_pii/_synth_url): every fifth doc's payload is a canonical
    "image" shared by its block of four, and the noise flip makes the
    four re-encodings differ by <= 2 hamming bits — found; everything
    else hashes to 60 random bits — not found (genuine verbatim-text
    dups in the data still collide at the base hash and surface too).
    True result: the planted n/20 groups, LINEAR in the corpus, which
    is what a real DCT pHash over a real corpus looks like. 60 (not
    64) bits keeps the hex fold and xor/bit_count inside signed-64
    arithmetic on both engines. The oracle brute-forces all pairs
    (quadratic, oracle-only)."""
    from etl_gardener_spark.operators import neardup as ND
    from etl_gardener_spark.operators.multimodal import attach_binary

    d = load_table(spark, sf_dir, "documents")
    decorated = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("img-canvas-"),
                F.expr("doc_id div 20").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    payloads = attach_binary(decorated, "text", "doc_id")

    def _phash(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            # NULL payloads can't hash and can't pair — dropped here,
            # matching the oracle's NULL-propagating phash (mm fuzz axis)
            mask = pdf["payload"].notna()
            ids = pdf["doc_id"][mask]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "simhash": [
                        int(hashlib.md5(bytes(p)).hexdigest()[:15], 16)
                        ^ (1 << ((i * 7) % 60))
                        for i, p in zip(ids, pdf["payload"][mask])
                    ],
                }
            )

    # spread the python pHash stage across cores when the scan arrived
    # as one partition (0.6-6 MB parquet = 1 split): unlike the JVM
    # lambda-tree kernels (SCALE.md r8 partition-floor experiment),
    # python-worker stages carry no per-task expression setup cost, and
    # the sf1 rung otherwise runs 21 cpu-s of hashing on one core
    src = payloads.select("doc_id", "payload")
    if src.rdd.getNumPartitions() < 8:
        src = src.repartition(8)
    sim = src.mapInPandas(_phash, "doc_id long, simhash long")
    out = ND.simhash_near_pairs(sim, "doc_id", max_hamming=3, bands=4, bits=60)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "stream_dedup_vs_store",
    """
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props
    FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM events s
      WHERE CAST(s.ts AS DATE) <= DATE '2024-01-03'
        AND s.user_id = e.user_id AND s.event_type = e.event_type)
    """,
    tags=("llm", "streaming", "dedup", "incremental"),
)
def stream_dedup_vs_store_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup: stream-static LEFT ANTI join against
    the persisted seen-key store — only never-seen (user_id, event_type)
    combinations pass. Stateless (no watermark state), store broadcast per
    micro-batch; the batch oracle is the NOT EXISTS complement."""
    from etl_gardener_spark.streaming.events import stream_dedup_vs_store

    return stream_dedup_vs_store(spark, sf_dir)


def _lsh_recall_oracle(threshold: float = 0.3) -> str:
    """Exact pairs via a shared-shingle candidate equi-join (lossless —
    a pair with an empty intersection can't reach the threshold, and
    tractable at sf1 where an all-pairs self-join is not); LSH pairs
    from the banded candidates; recall per jaccard decile bucket.
    Identical integer counts divide to identical doubles on both
    engines."""
    return (
        "WITH "
        + _minhash_ctes(threshold=threshold)
        + f"""
    , eg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    ecand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM eg x JOIN eg y ON x.g = y.g AND x.doc_id < y.doc_id),
    exact AS (
      SELECT ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                   6) AS j
      FROM ecand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b),
    e AS (SELECT CAST(FLOOR(j * 10) AS BIGINT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM exact WHERE j >= {threshold} GROUP BY 1),
    l AS (SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_lsh
          FROM pairs GROUP BY 1)
    SELECT e.bucket, e.n_exact, COALESCE(l.n_lsh, 0) AS n_lsh,
           CAST(COALESCE(l.n_lsh, 0) AS DOUBLE) / e.n_exact AS recall
    FROM e LEFT JOIN l USING (bucket)
    """
    )


@query(
    "doc_lsh_recall_report",
    _lsh_recall_oracle(),
    tags=("llm", "dedup", "lsh", "quality"),
)
def doc_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality measurement as a first-class query: per jaccard-decile
    bucket, how many true near-dup pairs exist (exact PPJoin pipeline)
    and how many the banded MinHash-LSH pipeline recovered — the recall
    curve that tells you whether bands x rows are tuned for the corpus.
    The expensive exact side runs on a sample/SF in practice; the report
    shape is what matters (recall near 1.0 in high deciles, dropping
    toward the threshold decile is the expected banded-LSH signature)."""
    d = load_table(spark, sf_dir, "documents")
    # one shingling pass feeds BOTH pipelines (shared materialized hashes)
    sh = ND.shingle_hash_sets(d, "text", "doc_id", n=3).localCheckpoint(
        eager=True
    )
    exact = ND.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.3, hashes=sh)
    lsh = ND.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, n=3, threshold=0.3,
        hashes=sh,
    )
    bucket = lambda c: F.floor(F.col(c) * 10).cast("long")  # noqa: E731
    e = exact.groupBy(bucket("jaccard").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    l = lsh.groupBy(bucket("jaccard").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lsh")
    )
    return (
        e.join(l, "bucket", "left")
        .select(
            "bucket",
            "n_exact",
            F.coalesce("n_lsh", F.lit(0)).cast("long").alias("n_lsh"),
            (
                F.coalesce("n_lsh", F.lit(0)).cast("double") / F.col("n_exact")
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Round 3 additions: scrubbing, splits/sampling, search, line dedup
# ---------------------------------------------------------------------------

from etl_gardener_spark.functions import scrub as SC  # noqa: E402
from etl_gardener_spark.operators import sampling as SP  # noqa: E402
from etl_gardener_spark.operators import search as SR  # noqa: E402


def _synth_pii_spark():
    """Deterministic PII decoration of the synthetic docs (the testdata
    carries none): email, URL, IP, and phone derived from doc_id — the
    SAME expression in the oracle, so redaction is exercised for real."""
    return F.concat(
        F.col("text"),
        F.lit(" reach me: u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or https://ex"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p?q=1 at 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" call +1 (555) 000-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )


_SYNTH_PII_SQL = (
    "text || ' reach me: u' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org or https://ex' || CAST(doc_id % 7 AS VARCHAR)"
    " || '.example.com/p?q=1 at 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.0.' || CAST(doc_id % 250 AS VARCHAR)"
    " || ' call +1 (555) 000-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
)


@query(
    "doc_scrub_pii",
    f"""
    WITH raw AS (SELECT doc_id, {_SYNTH_PII_SQL} AS t FROM documents)
    SELECT doc_id,
           md5({SC.oracle_redact_sql('t')}) AS scrub_md5,
           {SC.oracle_count_sql('t', 'url')} AS n_url,
           {SC.oracle_count_sql('t', 'email')} AS n_email,
           {SC.oracle_count_sql('t', 'ip')} AS n_ip,
           {SC.oracle_count_sql('t', 'phone')} AS n_phone
    FROM raw
    """,
    tags=("llm", "scrub", "pii"),
)
def doc_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/scrub.py): URL -> EMAIL -> IP -> PHONE
    redaction order pinned on both engines; counts measured with earlier
    kinds' matches removed so a nested match counts once. Pure
    regexp_replace chain — codegen'd, no shuffle, applies map-side at
    any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", _synth_pii_spark().alias("t"))
    return raw.select(
        "doc_id",
        F.md5(SC.redact("t")).alias("scrub_md5"),
        *SC.pii_counts("t"),
    )


@query(
    "doc_hash_split",
    """
    SELECT doc_id,
           CASE WHEN b < 960000 THEN 'train'
                WHEN b < 980000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000000 AS b
          FROM documents)
    """,
    tags=("llm", "sampling", "split"),
)
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/sampling.py):
    96/2/2 by md5 bucket of the doc id. Narrow projection, no shuffle;
    membership survives reruns, backfills, and engine swaps (the DuckDB
    oracle derives the identical bucket via hex-cast)."""
    d = load_table(spark, sf_dir, "documents")
    return SP.hash_split(
        d, "doc_id", {"train": 0.96, "val": 0.02, "test": 0.02}
    ).select("doc_id", "split")


@query(
    "doc_stratified_sample",
    """
    SELECT doc_id, lang FROM documents
    QUALIFY ROW_NUMBER() OVER (
              PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
            <= GREATEST(1, CEIL(0.2 * COUNT(*) OVER (PARTITION BY lang)))
    """,
    tags=("llm", "sampling"),
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 20% per-language sample (operators/sampling.py): rank by
    md5(id) within each stratum, keep ceil(frac*n). One shuffle; counts
    ride the same window. Unlike sampleBy's Bernoulli draws the fraction
    is exact and membership is a pure function of the data."""
    d = load_table(spark, sf_dir, "documents")
    return SP.stratified_sample(d, ["lang"], 0.2, "doc_id").select(
        "doc_id", "lang"
    )


@query(
    "doc_domain_cap",
    """
    SELECT doc_id, source FROM documents
    QUALIFY ROW_NUMBER() OVER (
              PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 3
    """,
    tags=("llm", "sampling"),
)
def doc_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap (operators/sampling.py): keep at most
    3 docs per source, chosen deterministically by id hash — the
    anti-domination pass a crawl corpus runs per domain. rank<=n lets
    WindowGroupLimit keep a bounded per-key heap below the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return SP.sample_cap_per_key(d, ["source"], 3, "doc_id").select(
        "doc_id", "source"
    )


_BM25_TERMS = ("spark", "join", "window")


@query(
    "doc_bm25_search",
    "WITH " + _DOCS_BODY + "," + SR.bm25_oracle_sql(_BM25_TERMS, k=10),
    tags=("llm", "search", "bm25"),
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a 3-term keyword query (operators/search.py):
    postings filtered to query terms before any shuffle; corpus stats
    and per-term df broadcast back; per-doc weights summed in exact
    integer micros so the ranking is bit-stable across engines."""
    d = load_table(spark, sf_dir, "documents")
    return SR.bm25_topk(d, "text", "doc_id", _BM25_TERMS, k=10)


@query(
    "doc_hybrid_rrf",
    "WITH " + _DOCS_BODY + ","
    + SR.bm25_oracle_sql(_BM25_TERMS, k=10, cte_name="lex")
    + f""",
    annq AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    ann AS (
      SELECT neighbor_id AS doc, rank FROM (
        SELECT c.vec_id AS neighbor_id,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6)
                   DESC, c.vec_id ASC) AS BIGINT) AS rank
        FROM embeddings c CROSS JOIN annq q WHERE c.vec_id <> 0) t
      WHERE rank <= 10),
    u AS (SELECT doc, 'lex' AS src, rank AS r FROM lex
          UNION ALL
          SELECT doc, 'ann' AS src, rank AS r FROM ann),
    fused AS (
      SELECT doc,
             SUM(1000000000 // (60 + r)) AS e9,
             MAX(CASE WHEN src = 'lex' THEN r END) AS lex_rank,
             MAX(CASE WHEN src = 'ann' THEN r END) AS ann_rank
      FROM u GROUP BY doc)
    SELECT doc, lex_rank, ann_rank,
           CAST(e9 AS DOUBLE) / 1e9 AS rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY e9 DESC, doc ASC) AS BIGINT)
             AS rank
    FROM fused QUALIFY rank <= 10
    """,
    tags=("llm", "search", "hybrid", "ann"),
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (operators/search.py
    rrf_fuse): the BM25 top-10 lexical list fused with the exact-cosine
    top-10 vector list for the query embedding (vec 0 stands in for the
    encoded query; vec_id keys the same items as doc_id). Only RANKS
    cross the fusion boundary — each contribution is the exact integer
    1e9 div (60 + rank), so no score calibration and no float hazards —
    and the fusion itself runs on O(k) rows however large the corpus:
    each retriever already did its reduction (filtered postings pass /
    broadcast-query corpus scan)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    lex = SR.bm25_topk(d, "text", "doc_id", _BM25_TERMS, k=10).select(
        "doc", "rank"
    )
    ann = SIM.cosine_topk(e, e.filter(F.col("vec_id") == 0), k=10).select(
        F.col("neighbor_id").alias("doc"), "rank"
    )
    return SR.rrf_fuse({"lex": lex, "ann": ann}, topk=10)


@query(
    "doc_top_bigrams",
    f"""
    {_DOCS_CTE},
    grams AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS ngram
      FROM d WHERE len(toks) >= 2),
    counts AS (SELECT ngram, COUNT(*) AS cnt FROM grams GROUP BY ngram)
    SELECT ngram, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, ngram ASC) AS BIGINT)
             AS rank
    FROM counts QUALIFY rank <= 20
    """,
    tags=("llm", "search", "ngrams"),
)
def doc_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams (operators/search.py): the boilerplate /
    template profile. One map-side-combined shuffle on the bigram; the
    global top-k runs over the distinct-gram aggregate only."""
    d = load_table(spark, sf_dir, "documents")
    return SR.topk_ngrams(d, "text", n=2, k=20)


_LINE_CHUNK = 3  # tokens per synthetic "line" for the line-dedup query


def _line_dedup_oracle(only: str = "TRUE") -> str:
    """Full corpus line-dedup oracle; ``only`` filters the OUTPUT docs
    (the verdict always sees the whole corpus) — the incremental query
    passes the batch predicate here, since batch-vs-store dedup is by
    construction the union dedup restricted to batch documents."""
    h = _h60("lower(trim(line))")
    c = _LINE_CHUNK
    return f"""
    {_DOCS_CTE},
    chunked AS (
      SELECT doc_id,
             -- a token-less doc still carries ONE blank line: the
             -- operator round-trips empty/NULL text as a blank
             -- (never dedup-eligible) line instead of silently
             -- dropping the document (differential-fuzz finding)
             CASE WHEN len(toks) = 0 THEN ['']
                  ELSE list_transform(
                         range(0, CAST(ceil(len(toks) / {c}.0) AS BIGINT)),
                         i -> array_to_string(
                                list_slice(toks, i*{c}+1, i*{c}+{c}), ' '))
             END AS lines
      FROM d),
    lines AS (
      SELECT doc_id, unnest(lines) AS line,
             unnest(range(0, len(lines))) AS pos
      FROM chunked),
    hashed AS (SELECT doc_id, pos, line, {h} AS h FROM lines),
    verdict AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM hashed GROUP BY h),
    tagged AS (
      SELECT doc_id, pos, line, (nd <= 1 OR trim(line) = '') AS keep
      FROM hashed JOIN verdict USING (h))
    SELECT doc_id,
           md5(COALESCE(string_agg(CASE WHEN keep THEN line END,
                                   chr(10) ORDER BY pos), '')) AS text_md5,
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_lines_kept,
           CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_lines_dropped
    FROM tagged WHERE {only} GROUP BY doc_id
    """


def _chunked_lines(d: DataFrame) -> DataFrame:
    """(doc_id, text) with text = newline-joined 3-token chunks — the
    synthetic corpus has no newlines, so both engines build identical
    'lines' at this fixed grain."""
    c = _LINE_CHUNK
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(__toks) / {c}.0) as int) - 1),"
        f" i -> concat_ws(' ', slice(__toks, i*{c}+1, {c})))"
    )
    return d.select(
        "doc_id", TX.ws_tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.when(F.size("__toks") > 0, F.array_join(chunks, "\n"))
        .otherwise(F.lit(""))
        .alias("text"),
    )


@query("doc_line_dedup", _line_dedup_oracle(), tags=("llm", "dedup", "lines"))
def doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-line removal (operators/corpus.py
    drop_duplicate_lines — the C4/MassiveText boilerplate filter): a
    normalized line seen in >1 distinct docs is dropped from every doc;
    docs are rebuilt in original line order. The synthetic corpus has no
    newlines, so 'lines' are 3-token chunks built identically on both
    engines. Two hash-keyed shuffles regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    out = CP.drop_duplicate_lines(_chunked_lines(d), "text", "doc_id")
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_lines_kept",
        "n_lines_dropped",
    )


@query(
    "doc_incremental_line_dedup",
    _line_dedup_oracle(only="doc_id % 2 = 1"),
    tags=("llm", "dedup", "lines", "incremental"),
)
def doc_incremental_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-store line dedup (operators/corpus.py
    drop_duplicate_lines_incremental): even doc_ids play the persisted
    corpus — collapsed to its compact (line_hash, n_docs) store — and
    odd doc_ids the incoming batch, deduped against store + batch counts
    WITHOUT rescanning history. By construction this equals full union
    dedup restricted to batch docs, which is exactly what the oracle
    computes; completes the incremental family ([[doc_incremental_dedup]]
    MinHash, [[emb_incremental_semantic_dedup]], [[emb_incremental_ann_topk]])
    at line grain."""
    d = load_table(spark, sf_dir, "documents")
    lined = _chunked_lines(d)
    store = CP.line_hash_store(
        lined.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    )
    out = CP.drop_duplicate_lines_incremental(
        lined.filter(F.col("doc_id") % 2 == 1), store, "text", "doc_id"
    )
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_lines_kept",
        "n_lines_dropped",
    )


_SPAN_L = 5  # tokens per sliding window for the span-dedup query


def _span_dedup_oracle() -> str:
    L = _SPAN_L
    h = _h60(f"array_to_string(list_slice(toks, p + 1, p + {L}), ' ')")
    return f"""
    {_DOCS_CTE},
    g AS (
      SELECT doc_id, toks,
             unnest(range(0, GREATEST(len(toks) - {L} + 1, 0))) AS p
      FROM d),
    hashed AS (SELECT doc_id, p, {h} AS h FROM g),
    dup AS (SELECT h FROM hashed GROUP BY h
            HAVING COUNT(DISTINCT doc_id) > 1),
    covered AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT hashed.doc_id, unnest(range(p, p + {L})) AS pos
        FROM hashed JOIN dup USING (h)) q),
    tok AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(range(0, len(toks))) AS pos
      FROM d),
    tagged AS (
      SELECT t.doc_id, t.tok, t.pos, (c.doc_id IS NULL) AS keep
      FROM tok t LEFT JOIN covered c
        ON c.doc_id = t.doc_id AND c.pos = t.pos),
    agg AS (
      SELECT doc_id,
             md5(COALESCE(string_agg(CASE WHEN keep THEN tok END,
                                     ' ' ORDER BY pos), '')) AS text_md5,
             CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_tokens_kept,
             CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT)
               AS n_tokens_dropped
      FROM tagged GROUP BY doc_id)
    SELECT i.doc_id,
           COALESCE(a.text_md5, md5('')) AS text_md5,
           CAST(COALESCE(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
           CAST(COALESCE(a.n_tokens_dropped, 0) AS BIGINT)
             AS n_tokens_dropped
    FROM (SELECT doc_id FROM d) i LEFT JOIN agg a USING (doc_id)
    """


def _span_coverage_oracle() -> str:
    L = _SPAN_L
    h = _h60(f"array_to_string(list_slice(toks, p + 1, p + {L}), ' ')")
    return f"""
    {_DOCS_CTE},
    g AS (
      SELECT doc_id, toks,
             unnest(range(0, GREATEST(len(toks) - {L} + 1, 0))) AS p
      FROM d),
    hashed AS (SELECT doc_id, p, {h} AS h FROM g),
    dup AS (SELECT h FROM hashed GROUP BY h
            HAVING COUNT(DISTINCT doc_id) > 1),
    covered AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT hashed.doc_id, unnest(range(p, p + {L})) AS pos
        FROM hashed JOIN dup USING (h)) q),
    cc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered
           FROM covered GROUP BY doc_id)
    SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(cc.n_covered, 0) AS BIGINT) AS n_covered,
           CASE WHEN len(d.toks) > 0
                THEN ROUND(COALESCE(cc.n_covered, 0)
                           / CAST(len(d.toks) AS DOUBLE), 4)
                ELSE 0.0 END AS coverage_frac
    FROM d LEFT JOIN cc ON cc.doc_id = d.doc_id
    """


@query(
    "doc_dup_span_coverage",
    _span_coverage_oracle(),
    tags=("llm", "dedup", "spans", "profile"),
)
def doc_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight profile for [[doc_span_dedup]]: per document, the token
    count that cross-document duplicate 5-token windows WOULD remove,
    and its fraction — the corpus-rollup of this is what decides whether
    the rewrite is worth running, and coverage_frac near 1 flags
    template-dominated documents that pass every line-grain screen.
    Stops at the covered-position count; strictly cheaper than the
    rewrite it predicts (operators/corpus.duplicate_span_profile)."""
    d = load_table(spark, sf_dir, "documents")
    return CP.duplicate_span_profile(
        d, "text", "doc_id", span_len=_SPAN_L, max_docs=1
    )


@query("doc_span_dedup", _span_dedup_oracle(), tags=("llm", "dedup", "spans"))
def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-grain duplicate-span removal (operators/corpus.py
    drop_duplicate_spans): every token covered by a 5-token sliding
    window whose content appears in >1 distinct documents is dropped —
    the fixed-grain distributed approximation of suffix-array exact-
    substring dedup, catching templated passages that cross the line
    boundaries [[doc_line_dedup]] operates on. Shuffles key on the
    60-bit window hash and the doc id; the covered-position blow-up is
    span_len x DUPLICATE windows only."""
    d = load_table(spark, sf_dir, "documents")
    out = CP.drop_duplicate_spans(
        d, "text", "doc_id", span_len=_SPAN_L, max_docs=1
    )
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_tokens_kept",
        "n_tokens_dropped",
    )


# ---------------------------------------------------------------------------
# PCA / whitening (operators/pca.py)
# ---------------------------------------------------------------------------

from etl_gardener_spark.operators import pca as PC  # noqa: E402


@query(
    "emb_pca_variance_check",
    """
    WITH x AS (
      SELECT unnest(embedding) AS v, unnest(range(0, len(embedding))) AS i
      FROM embeddings),
    q AS (SELECT i, CAST(FLOOR(v * 1e6 + 0.5) AS HUGEINT) AS m FROM x),
    pv AS (SELECT i, CAST(COUNT(*) AS HUGEINT) AS n,
                  SUM(m) AS sx, SUM(m * m) AS sxx
           FROM q GROUP BY i),
    ve AS (SELECT i,
                  {0} AS ve12
           FROM pv)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
           {1} AS total_var,
           TRUE AS pca_ok
    FROM ve
    """.format(
        floor_div_sql("2 * (n * sxx - sx * sx) + n * n", "2 * n * n"),
        half_up_display_sql("SUM(ve12)", 12, 4),
    ),
    tags=("llm", "pca", "bound-check"),
)
def emb_pca_variance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable PCA certification via trace preservation: a full-
    rank PCA's eigenvalue sum must equal the total per-dimension
    population variance (trace of the covariance). Eigendecomposition is
    not SQL-expressible, so — like the HLL sketch rows — the oracle pins
    the EXACT side (total variance) and a constant-TRUE bound flag; the
    Spark side emits the same total variance plus ``pca_ok`` =
    |Σ eigenvalues − total_var| / total_var < 1e-6 (the flag compares
    against the RAW double trace, so quantization cannot flip it).

    Round-6 representation fix (caught by the new plan_lint output
    rule): the displayed total variance previously went through
    ROUND over a 64-term double SUM of var_pop — fold-order-dependent
    on BOTH engines. It now derives from exact integer micro-moments:
    per-dim ve12 = half-up((n·Σm² − (Σm)²) / n²) with m = floor(v·1e6
    + 0.5) HUGEINT/DECIMAL(38,0), summed as integers and displayed at
    4 dp through the sign-correct floor kernel — order-free and
    bit-identical across engines."""
    e = load_table(spark, sf_dir, "embeddings")
    if e.limit(1).count() == 0:
        # empty corpus: nothing to decompose — the oracle's aggregate
        # shape (one row: 0 vecs, NULL variance, constant-TRUE flag)
        return local_df(
            spark, [(0, None, True)],
            "n_vecs long, total_var double, pca_ok boolean"
        )
    model = PC.pca_fit(e, "embedding", k=64)
    ev_sum = float(sum(model.explained_var))
    counts = e.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    exploded = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
    ).withColumn("m", F.floor(F.col("v") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"))
    pv = exploded.groupBy("i").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("m").alias("sx"),
        F.sum(F.col("m") * F.col("m")).alias("sxx"),
        F.var_pop("v").alias("var"),
    )
    tv = pv.agg(
        F.sum(
            F.expr(
                floor_div_expr("2 * (n * sxx - sx * sx) + n * n", "2 * n * n")
            )
        ).alias("__sve"),
        F.sum("var").alias("tv_raw"),
    )
    return counts.crossJoin(F.broadcast(tv)).select(
        "n_vecs",
        F.expr(half_up_display_expr("__sve", 12, 4)).alias("total_var"),
        (
            F.abs(F.lit(ev_sum) - F.col("tv_raw")) / F.col("tv_raw") < 1e-6
        ).alias("pca_ok"),
    )


_WHITEN_K = 4


@query(
    "emb_pca_whiten",
    f"""
    SELECT CAST(t.i AS BIGINT) AS component,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
           TRUE AS mean_ok, TRUE AS var_ok, TRUE AS decorrelated
    FROM range(0, {_WHITEN_K}) t(i)
    """,
    tags=("llm", "pca", "bound-check"),
)
def emb_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening certificate: project every vector onto the whitened
    top-4 principal components (pure codegen — coefficients folded in as
    array literals, no Python, no join), then verify the DEFINING
    whitening invariants over the projected corpus: per-component mean
    ~ 0, per-component population variance ~ 1, and every pairwise
    covariance ~ 0. The per-vector component values depend on eigh,
    which SQL cannot mirror, so — like the HLL sketch rows and the
    trace identity above — the oracle pins the EXACT side (component
    index, corpus count) plus constant-TRUE epsilon-bound flags; the
    Spark side earns each TRUE from the actual projected output
    (|mean| < 1e-6, |var - 1| < 1e-6, max |cov| < 1e-6). A wrong mean
    vector, eigenvector, or eigenvalue scaling turns a flag FALSE and
    the hash red."""
    k = _WHITEN_K
    e = load_table(spark, sf_dir, "embeddings")
    if e.limit(1).count() == 0:
        # empty corpus: invariants hold vacuously — mirror the oracle's
        # k rows of (component, 0, TRUE, TRUE, TRUE)
        return local_df(
            spark, [(i, 0, True, True, True) for i in range(k)],
            "component long, n_vecs long, mean_ok boolean, "
            "var_ok boolean, decorrelated boolean",
        )
    model = PC.pca_fit(e, "embedding", k=k)
    out = PC.pca_project(e, "embedding", model, whiten=True)
    comps = out.select(
        *[F.col("pc")[i].alias(f"c{i}") for i in range(k)]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(k):
        aggs.append(F.avg(F.col(f"c{i}")).alias(f"m{i}"))
        aggs.append(F.var_pop(F.col(f"c{i}")).alias(f"v{i}"))
        for j in range(i + 1, k):
            aggs.append(
                F.covar_pop(F.col(f"c{i}"), F.col(f"c{j}")).alias(f"cv{i}_{j}")
            )
    stats = comps.agg(*aggs)  # one row: 1 + k + k + C(k,2) doubles
    eps = 1e-6
    rows = []
    for i in range(k):
        off_diag = [
            F.abs(F.col(f"cv{min(i, j)}_{max(i, j)}"))
            for j in range(k)
            if j != i
        ]
        rows.append(
            F.struct(
                F.lit(i).cast("long").alias("component"),
                F.col("n").alias("n_vecs"),
                (F.abs(F.col(f"m{i}")) < eps).alias("mean_ok"),
                (F.abs(F.col(f"v{i}") - 1.0) < eps).alias("var_ok"),
                (F.greatest(*off_diag) < eps).alias("decorrelated"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline: scrub-grade cleaning -> split, one query
# ---------------------------------------------------------------------------


def _training_ready_oracle() -> str:
    h = _h60("lower(trim(line))")
    c = _LINE_CHUNK
    return f"""
    {_DOCS_CTE},
    chunked AS (
      SELECT doc_id, text,
             -- empty docs carry one blank line (see _line_dedup_oracle)
             CASE WHEN len(toks) = 0 THEN ['']
                  ELSE list_transform(
                         range(0, CAST(ceil(len(toks) / {c}.0) AS BIGINT)),
                         i -> array_to_string(
                                list_slice(toks, i*{c}+1, i*{c}+{c}), ' '))
             END AS lines
      FROM d),
    lines AS (
      SELECT doc_id, unnest(lines) AS line,
             unnest(range(0, len(lines))) AS pos
      FROM chunked),
    hashed AS (SELECT doc_id, pos, line, {h} AS h FROM lines),
    verdictl AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM hashed GROUP BY h),
    rebuilt AS (
      SELECT doc_id,
             COALESCE(string_agg(CASE WHEN nd <= 1 OR trim(line) = ''
                                      THEN line END,
                                 chr(10) ORDER BY pos), '') AS text2
      FROM hashed JOIN verdictl USING (h) GROUP BY doc_id),
    fp AS (
      SELECT doc_id,
             MIN(doc_id) OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)),
                                               '\\s+', ' ', 'g'))) AS keep_id
      FROM documents),
    scored AS (
      SELECT r.doc_id, r.text2, f.keep_id,
             len(list_filter(string_split_regex(lower(trim(r.text2)), '\\s+'),
                             x -> len(x) > 0)) AS ntok,
             ('0x' || substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000000 AS b
      FROM rebuilt r JOIN fp f USING (doc_id))
    SELECT doc_id,
           CASE WHEN doc_id <> keep_id THEN 'dup'
                WHEN ntok < 10 THEN 'short'
                ELSE 'ok' END AS verdict,
           CASE WHEN b < 960000 THEN 'train'
                WHEN b < 980000 THEN 'val'
                ELSE 'test' END AS split,
           md5(text2) AS clean_md5
    FROM scored
    """


@query(
    "corpus_training_ready",
    _training_ready_oracle(),
    tags=("llm", "pipeline", "end-to-end"),
)
def corpus_training_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus pipeline in ONE declarative plan: duplicate-
    line (boilerplate) removal -> exact-dup survivor election -> length
    gate on the CLEANED text -> deterministic train/val/test assignment.
    Per doc: verdict ('dup' | 'short' | 'ok', first failing gate wins),
    split, and the md5 of the cleaned text a writer would persist.

    Composition stays Catalyst-native end to end: line dedup's two
    hash-keyed shuffles, a window over the content fingerprint, a narrow
    split projection — no operator boundary materializes anything, so
    AQE sees the whole pipeline and the corpus makes three keyed passes
    total regardless of scale."""
    c = _LINE_CHUNK
    d = load_table(spark, sf_dir, "documents")
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(__toks) / {c}.0) as int) - 1),"
        f" i -> concat_ws(' ', slice(__toks, i*{c}+1, {c})))"
    )
    lined = d.select(
        "doc_id", TX.ws_tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.when(F.size("__toks") > 0, F.array_join(chunks, "\n"))
        .otherwise(F.lit(""))
        .alias("text"),
    )
    rebuilt = CP.drop_duplicate_lines(lined, "text", "doc_id").select(
        "doc_id", F.col("text").alias("text2")
    )
    from pyspark.sql import Window as W

    fp = d.select(
        "doc_id",
        F.min("doc_id")
        .over(W.partitionBy(TX.fingerprint_md5("text")))
        .alias("keep_id"),
    )
    scored = rebuilt.join(fp, "doc_id").withColumn(
        "ntok", F.size(TX.ws_tokens("text2"))
    )
    out = SP.hash_split(
        scored, "doc_id", {"train": 0.96, "val": 0.02, "test": 0.02}
    )
    return out.select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("keep_id"), "dup")
        .when(F.col("ntok") < 10, "short")
        .otherwise("ok")
        .alias("verdict"),
        "split",
        F.md5("text2").alias("clean_md5"),
    )


@query(
    "doc_mixture_sample",
    """
    WITH c AS (
      SELECT source, COUNT(*) AS n FROM documents
      WHERE source IN ('src0','src1','src2') GROUP BY source),
    t(source, share) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
    s AS (SELECT MIN(n / share) AS scale FROM c JOIN t USING (source)),
    q AS (
      SELECT c.source, CAST(FLOOR(t.share * s.scale) AS BIGINT) AS quota
      FROM c JOIN t USING (source) CROSS JOIN s),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents WHERE source IN ('src0','src1','src2'))
    SELECT doc_id, source FROM r JOIN q USING (source) WHERE rn <= quota
    """,
    tags=("llm", "sampling", "mixture"),
)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture construction (operators/sampling.py mixture_sample):
    downsample three sources to a 50/30/20 output mixture at the largest
    feasible size (scale = min n_s/share_s), membership by md5 rank.
    Counts, the binding constraint, and quotas are all tiny broadcast
    relations around one window shuffle — no driver collect."""
    d = load_table(spark, sf_dir, "documents")
    out = SP.mixture_sample(
        d, "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}, "doc_id"
    )
    return out.select("doc_id", "source")


@query(
    "doc_dsir_select",
    f"""
    {_DOCS_CTE},
    tok0 AS (SELECT doc_id, COALESCE(source = 'src0', FALSE) AS is_t,
                    unnest(toks) AS tokval
             FROM d),
    tok AS (SELECT doc_id, is_t,
                   CAST({_h60("tokval")} % 1024 AS BIGINT) AS b
            FROM tok0),
    bc AS (SELECT b,
                  SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t,
                  SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS c_s
           FROM tok GROUP BY b),
    tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
                   CAST(SUM(c_s) AS BIGINT) AS n_s FROM bc),
    w AS (SELECT b,
                 CAST(FLOOR((
                     ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + 1024 AS DOUBLE))
                   - ln(CAST(c_s + 1 AS DOUBLE) / CAST(n_s + 1024 AS DOUBLE))
                 ) * 1e6 + 0.5) AS BIGINT) AS w_e6
          FROM bc CROSS JOIN tot),
    ds AS (SELECT t.doc_id, SUM(w.w_e6) AS s_e6,
                  CAST(COUNT(*) AS BIGINT) AS n_toks
           FROM tok t JOIN w USING (b) WHERE NOT t.is_t GROUP BY t.doc_id),
    scored AS (
      SELECT c.doc_id,
             COALESCE(ds.n_toks, 0) AS n_toks,
             CAST(COALESCE(ds.s_e6, 0) AS BIGINT) AS s_e6
      FROM (SELECT doc_id FROM documents
            WHERE NOT COALESCE(source = 'src0', FALSE)) c
      LEFT JOIN ds USING (doc_id)),
    r AS (SELECT doc_id, n_toks, s_e6,
                 CAST(ROW_NUMBER() OVER (ORDER BY s_e6 DESC, doc_id ASC)
                      AS BIGINT) AS rank,
                 COUNT(*) OVER () AS n
          FROM scored)
    SELECT doc_id, n_toks, CAST(s_e6 AS DOUBLE) / 1e6 AS dsir_score,
           rank, rank <= CEIL(0.2 * n) AS selected
    FROM r
    """,
    tags=("llm", "sampling", "selection"),
)
def doc_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (operators/sampling.dsir_scores, after
    Xie et al. 2023): hashed-unigram bag-of-words likelihood ratio of
    the src0 target set vs the candidate pool, top 20% selected. Bucket
    log-weights quantize to integer micros once; per-doc scores are
    exact integer sums; the global rank is the range-partitioned exact
    ranking (no single-partition window)."""
    d = load_table(spark, sf_dir, "documents")
    return SP.dsir_scores(
        d,
        "text",
        "doc_id",
        F.col("source").eqNullSafe(F.lit("src0")),
        n_buckets=1024,
        keep_frac=0.2,
    )


@query(
    "stream_scrub_split",
    f"""
    WITH raw AS (SELECT doc_id, {_SYNTH_PII_SQL} AS t FROM documents)
    SELECT doc_id,
           md5({SC.oracle_redact_sql('t')}) AS scrub_md5,
           {SC.oracle_count_sql('t', 'url')} AS n_url,
           {SC.oracle_count_sql('t', 'email')} AS n_email,
           {SC.oracle_count_sql('t', 'ip')} AS n_ip,
           {SC.oracle_count_sql('t', 'phone')} AS n_phone,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 1000000 < 960000 THEN 'train'
                WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 1000000 < 980000 THEN 'val'
                ELSE 'test' END AS split
    FROM raw
    """,
    tags=("llm", "streaming", "scrub", "split"),
)
def stream_scrub_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion with scrub + split (streaming/ingest.py): the
    documents stream is PII-redacted and split-assigned map-side, then
    lands in a split=-partitioned parquet directory via the NATIVE file
    sink (exactly-once via the sink manifest; no state store, no
    shuffle). The verified result is the directory READ BACK — sink
    layout, partition pruning column, and the round trip — against the
    identical batch expression as the oracle."""
    import shutil as _shutil
    import tempfile as _tf

    from etl_gardener_spark.streaming.ingest import (
        read_documents_stream,
        scrub_split_to_parquet,
    )

    root = _tf.mkdtemp(prefix="etl_gardener_spark_scrubsplit_")
    ckpt = _tf.mkdtemp(prefix="etl_gardener_spark_scrubsplit_ckpt_")
    try:
        docs = read_documents_stream(spark, sf_dir).select(
            "doc_id", _synth_pii_spark().alias("text")
        )
        q = scrub_split_to_parquet(docs, root, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.read.parquet(root).select(
            "doc_id",
            F.md5("text").alias("scrub_md5"),
            "n_url",
            "n_email",
            "n_ip",
            "n_phone",
            "split",
        )
        return local_df(spark, out.collect(), schema=out.schema)
    finally:
        _shutil.rmtree(root, ignore_errors=True)
        _shutil.rmtree(ckpt, ignore_errors=True)


@query(
    "emb_incremental_ann_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
    """,
    tags=("llm", "ann", "incremental"),
)
def emb_incremental_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact top-k maintenance (similarity.incremental_topk):
    vectors with id < 400 hold a materialized per-query top-5; the rest
    arrive as a batch and fold in by scoring ONLY the batch and
    merge-ranking against the store. The oracle is the full-corpus brute
    top-5 — green hash proves batch-fold ≡ full recompute, the append
    loop that avoids corpus rescans at scale."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    cut = F.col("vec_id") < 400
    old = e.filter(cut)
    new = e.filter(~cut)
    old_topk = SIM.cosine_topk(old, queries, k=5)
    out = SIM.incremental_topk(old_topk, queries, new, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _profile_oracle() -> str:
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    parts = [
        f"""
    SELECT '{c}' AS "column",
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM orders
    """
        for c in cols
    ]
    return " UNION ALL ".join(parts)


@query("profile_orders", _profile_oracle(), tags=("quality", "profile"))
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profile (operators/quality.profile, the ANALYZE-TABLE
    summary): per column, rows / nulls / exact distincts / min / max in
    ONE aggregation job (stack-unpivot of a single wide agg — one table
    scan for the whole profile). exact_distinct=True here because the
    oracle needs exact counts; the default approx mode is the 100 TB
    path (HLL, no Expand multiplication)."""
    from etl_gardener_spark.operators.quality import profile

    o = load_table(spark, sf_dir, "orders")
    return profile(o, exact_distinct=True)


@query(
    "dq_k_anonymity",
    """
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT CAST(value AS VARCHAR)) AS BIGINT)
             AS n_sensitive
    FROM events
    GROUP BY user_id, event_type
    HAVING COUNT(*) < 5
    """,
    tags=("quality", "privacy"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (quality.k_anonymity_violations): quasi-identifier
    groups (user_id, event_type) smaller than k=5, with the distinct
    sensitive-value count for the l-diversity homogeneity check. One
    keyed aggregate; only the offender list leaves the shuffle."""
    from etl_gardener_spark.operators.quality import k_anonymity_violations

    e = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("string")
    )
    return k_anonymity_violations(
        e, ["user_id", "event_type"], k=5, sensitive_col="value"
    )


@query(
    "scd2_point_in_time_join",
    """
    WITH obs AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events WHERE event_type = 'click'),
    flagged AS (
      SELECT user_id, ts, event_id, k,
             CASE WHEN k IS DISTINCT FROM LAG(k) OVER w THEN 1 ELSE 0 END
               AS changed
      FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
      SELECT user_id, ts, k,
             SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged),
    periods AS (
      SELECT user_id, MIN(k) AS attr_value, MIN(ts) AS valid_from
      FROM runs GROUP BY user_id, run_id),
    p AS (SELECT event_id, ts, user_id, value FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id, p.ts, p.user_id, p.value,
           d.attr_value, d.valid_from
    FROM p ASOF LEFT JOIN periods d
      ON p.user_id = d.user_id AND p.ts >= d.valid_from
    """,
    tags=("analytics", "scd2", "asof", "feature-store"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature lookup (the feature-store
    correctness join): the SCD2 dimension is run-length encoded from
    CLICK observations (operators/scd2.scd2_encode), then every PURCHASE
    reads the attribute version valid AT ITS TIMESTAMP via the backward
    as-of join (operators/asof.py) — never a future version (no feature
    leakage), never a stale one. Both stages share the user_id shuffle;
    the oracle is DuckDB's native ASOF JOIN over the same encoded
    periods."""
    from etl_gardener_spark.operators.asof import asof_join
    from etl_gardener_spark.operators.scd2 import scd2_encode

    e = load_table(spark, sf_dir, "events")
    obs = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    # payload wrapped in ONE struct for row-atomicity: a NULL attr_value
    # inside a matched period must read as NULL, not as the previous
    # period's value (asof_join carries payload columns independently
    # with last(ignorenulls) — the struct is never NULL, so the whole
    # row travels together).
    dim = scd2_encode(obs, "user_id", "k", "ts", "event_id").select(
        "user_id",
        F.struct("attr_value", "valid_from").alias("__pit"),
        "valid_from",
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    out = asof_join(
        purchases,
        dim.select("user_id", "valid_from", "__pit"),
        on="user_id",
        left_time="ts",
        right_time="valid_from",
        payload=["__pit"],
    )
    return out.select(
        "event_id",
        "ts",
        "user_id",
        "value",
        F.col("__pit.attr_value").alias("attr_value"),
        F.col("__pit.valid_from").alias("valid_from"),
    )


@query(
    "emb_negative_samples",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    topm AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id ASC) AS rk FROM scored) t
      WHERE rk <= 5),
    cand AS (
      SELECT q.query_id, c.vec_id AS neg_id
      FROM embeddings c, q
      WHERE c.vec_id <> q.query_id
        AND NOT EXISTS (SELECT 1 FROM topm t
                        WHERE t.query_id = q.query_id
                          AND t.neighbor_id = c.vec_id))
    SELECT query_id, neg_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY md5(CAST(query_id AS VARCHAR) || '_'
                          || CAST(neg_id AS VARCHAR)), neg_id) AS BIGINT)
             AS rank
    FROM cand QUALIFY rank <= 8
    """,
    tags=("llm", "ann", "sampling", "training"),
)
def emb_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training
    (similarity.negative_samples): 8 uniform negatives per query, chosen
    by md5-of-pair rank, excluding the query's true top-5 neighbors
    (false-negative correction) and itself. No RNG — reruns and engine
    swaps produce identical training pairs; only the top-m exclusion
    touches vector data."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.negative_samples(
        e, e.filter(F.col("vec_id") < 10), k_neg=8, exclude_topm=5
    )


@query(
    "emb_knn_label_agreement",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS nid, c.label AS nlabel,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    topk AS (
      SELECT query_id, nlabel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, nid ASC) AS rk FROM scored) t
      WHERE rk <= 5),
    votes AS (
      -- unlabeled neighbors don't vote (a NULL can't name a winner, and
      -- the engines disagree on where NULL sorts in the tie-break)
      SELECT query_id, nlabel, COUNT(*) AS c FROM topk
      WHERE nlabel IS NOT NULL GROUP BY 1, 2),
    winner AS (
      SELECT query_id, nlabel AS knn_label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY c DESC, nlabel ASC) AS r FROM votes) t
      WHERE r = 1)
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS own_label,
           CAST(w.knn_label AS BIGINT) AS knn_label,
           e.label = w.knn_label AS agree
    FROM embeddings e JOIN winner w ON w.query_id = e.vec_id
    """,
    tags=("llm", "ann", "eval"),
)
def emb_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality evaluation: per vector, the majority label of
    its 5 nearest neighbors (ties -> smallest label) vs its own label —
    the kNN label-agreement probe that tells you whether the embedding
    space separates the classes before you trust it for semantic dedup
    or retrieval. A deterministic 2% of vectors (id % 50 == 0) serve as
    probe queries — the evaluation is a sampled statistic, and the probe
    set stays a broadcastable sliver at any corpus size (all-vectors
    probing would be the corpus² scan this repo never does): one
    broadcast against the corpus scan, a WindowGroupLimit top-5, two
    tiny keyed aggregates for the vote."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    topk = SIM.cosine_topk(e, e.filter(F.col("vec_id") % 50 == 0), k=5)
    labels = e.select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel")
    )
    votes = (
        topk.join(F.broadcast(labels), topk.neighbor_id == labels.nid)
        # unlabeled neighbors don't vote (differential-fuzz finding:
        # a NULL label group wins under Spark's NULLS-FIRST tie-break
        # but loses under DuckDB's NULLS-LAST)
        .filter(F.col("nlabel").isNotNull())
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("nlabel").asc()
    )
    winner = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("nlabel").alias("knn_label"))
    )
    return (
        e.select("vec_id", "label")
        .join(winner, F.col("vec_id") == F.col("query_id"))
        .select(
            "vec_id",
            F.col("label").cast("long").alias("own_label"),
            F.col("knn_label").cast("long").alias("knn_label"),
            (F.col("label") == F.col("knn_label")).alias("agree"),
        )
    )


def _langid_pred_sql() -> str:
    g = ("greatest(" + ", ".join(_hits_sql(x) for x in
         ["de", "en", "es", "fr", "zh"]) + ")")
    cases = " ".join(
        f"WHEN {_hits_sql(lg)} = {g} THEN '{lg}'"
        for lg in ["de", "en", "es", "fr"]
    )
    return f"CASE {cases} ELSE 'zh' END"


@query(
    "doc_langid_confusion",
    f"""
    {_DOCS_CTE},
    pred AS (SELECT doc_id, lang, {_langid_pred_sql()} AS lang_pred FROM d)
    SELECT lang AS actual, lang_pred AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
    tags=("llm", "text", "eval"),
)
def doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class query: the language-ID
    confusion matrix (actual lang column vs stopword-argmax prediction).
    The diagonal mass is the accuracy the pipeline's language gate
    actually runs at — the eval that belongs next to the classifier, not
    in a notebook. One scan + one tiny keyed aggregate."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", "lang", TX.ws_tokens("text").alias("__toks")
    )
    pred = staged.select(
        "lang", TX.langid_struct_of(F.col("__toks"))[-1]
    )
    return (
        pred.groupBy(F.col("lang").alias("actual"),
                     F.col("lang_pred").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_SPAN_N = 8  # tokens per rolling window for the span-overlap gate


@query(
    "doc_span_overlap_stats",
    f"""
    {_DOCS_CTE},
    spans AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               {_shingles_sql(_SPAN_N)},
               s -> {_h60('s')}))) AS h
      FROM d WHERE len(toks) >= {_SPAN_N}),
    owners AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (WHERE o.nd > 1) AS BIGINT) AS n_shared,
           ROUND(CAST(COUNT(*) FILTER (WHERE o.nd > 1) AS DOUBLE)
                 / COUNT(*), 4) AS dup_frac
    FROM spans s JOIN owners o USING (h)
    GROUP BY s.doc_id
    """,
    tags=("llm", "dedup", "spans"),
)
def doc_span_overlap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-SPAN fraction per document (the RefinedWeb/MassiveText
    substring-overlap gate, at rolling 8-token grain): share of a doc's
    distinct token windows that appear in ANY other document — the
    signal that catches partial plagiarism and templated boilerplate
    that document- and line-grain dedup both miss. Same two hash-keyed
    shuffles as line dedup (span ownership aggregate + join-back); spans
    travel as 60-bit hashes, never strings."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", TX.ws_tokens("text").alias("__toks")
    ).filter(F.size("__toks") >= _SPAN_N)
    spans = staged.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    TX.shingles_of(F.col("__toks"), n=_SPAN_N),
                    lambda s: CP._h60(s),
                )
            )
        ).alias("h"),
        # two consumers (owners aggregate + join-back): pin the hashed
        # span stream so the shingle+md5 kernel runs once (guide §2.4)
    ).localCheckpoint(eager=True)
    owners = spans.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("long")
    return (
        spans.join(owners, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            shared.alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_spans"), 4
            ).alias("dup_frac"),
        )
    )


def _emb_training_ready_oracle(k: int = 8, n_iter: int = 2, threshold: float = 0.4) -> str:
    ctes, fin = _kmeans_ctes(k, n_iter)
    return f"""
    WITH {ctes},
    av AS (SELECT a.vec_id, a.cid, e.embedding
           FROM {fin} a JOIN embeddings e USING (vec_id)),
    dups AS (SELECT DISTINCT x.vec_id
             FROM av x JOIN av y ON x.cid = y.cid AND y.vec_id < x.vec_id
             WHERE ROUND({_cosine_sql("x.embedding", "y.embedding")}, 6)
                   >= {threshold}),
    verdict AS (
      SELECT a.vec_id, a.cid AS cluster_id, d.vec_id IS NULL AS keep
      FROM {fin} a LEFT JOIN dups d USING (vec_id)),
    prep AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
      FROM embeddings),
    spans AS (
      SELECT vec_id, xd, list_aggregate(xd, 'min') AS vmin,
             CASE WHEN list_aggregate(xd, 'max') > list_aggregate(xd, 'min')
                  THEN list_aggregate(xd, 'max') - list_aggregate(xd, 'min')
                  ELSE 1.0 END AS span
      FROM prep),
    q8 AS (
      SELECT vec_id,
             CAST(list_aggregate(list_transform(xd,
                  x -> LEAST(FLOOR(((x - vmin) / span) * 256), 255)),
                  'sum') AS BIGINT) AS code_sum
      FROM spans)
    SELECT v.vec_id, v.cluster_id, v.keep,
           CASE WHEN ('0x' || substr(md5(CAST(v.vec_id AS VARCHAR)), 1, 8))
                     ::BIGINT % 1000000 < 960000 THEN 'train'
                WHEN ('0x' || substr(md5(CAST(v.vec_id AS VARCHAR)), 1, 8))
                     ::BIGINT % 1000000 < 980000 THEN 'val'
                ELSE 'test' END AS split,
           q8.code_sum
    FROM verdict v JOIN q8 USING (vec_id)
    """


@query(
    "emb_training_ready",
    _emb_training_ready_oracle(),
    tags=("llm", "pipeline", "end-to-end", "embedding"),
)
def emb_training_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings twin of [[corpus_training_ready]]: semantic-dedup
    verdict (k-means-bounded SemDeDup), int8 quantization summary, and
    deterministic split assignment composed in ONE plan — per vector:
    cluster, keep flag, split, and the compressed-code checksum a vector
    store would persist. Cluster-bounded comparisons (never corpus²),
    map-only quantization lambdas, narrow split projection."""
    e = load_table(spark, sf_dir, "embeddings")
    verdict = SIM.semantic_dedup(
        e, "vec_id", "embedding", k=8, n_iter=2, threshold=0.4
    )
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    spans = e.select(
        "vec_id",
        xd.alias("xd"),
        F.array_min(xd).alias("vmin"),
        F.when(
            F.array_max(xd) > F.array_min(xd),
            F.array_max(xd) - F.array_min(xd),
        )
        .otherwise(F.lit(1.0))
        .alias("span"),
    )
    vmin, span = F.col("vmin"), F.col("span")
    code = lambda x: F.least(F.floor(((x - vmin) / span) * 256), F.lit(255))  # noqa: E731
    q8 = spans.select(
        "vec_id",
        F.aggregate(
            F.transform(F.col("xd"), code), F.lit(0.0), lambda a, x: a + x
        )
        .cast("long")
        .alias("code_sum"),
    )
    out = verdict.join(q8, "vec_id")
    out = SP.hash_split(out, "vec_id", {"train": 0.96, "val": 0.02, "test": 0.02})
    return out.select(
        "vec_id",
        F.col("cluster_id"),
        "keep",
        "split",
        "code_sum",
    )


def _emb_recall_oracle() -> str:
    brute = f"""
      SELECT t.query_id, t.vec_id AS neighbor_id FROM (
        SELECT q.query_id, c.vec_id,
               ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6)
                          DESC, c.vec_id ASC) AS rk
        FROM embeddings c,
             (SELECT vec_id AS query_id, embedding AS q_vec
              FROM embeddings WHERE vec_id < 10) q
        WHERE c.vec_id <> q.query_id) t(query_id, vec_id, score, rk)
      WHERE rk <= 5
    """
    return f"""
    WITH brute AS ({brute}),
    lshr AS (SELECT query_id, neighbor_id FROM ({_srp_oracle()}) t),
    ivfr AS (SELECT query_id, neighbor_id FROM ({_ivf_oracle()}) t),
    m AS (
      SELECT 'lsh' AS method,
             CAST((SELECT COUNT(*) FROM brute) AS BIGINT) AS n_brute,
             CAST((SELECT COUNT(*) FROM lshr l JOIN brute b
                   USING (query_id, neighbor_id)) AS BIGINT) AS n_matched
      UNION ALL
      SELECT 'ivf',
             CAST((SELECT COUNT(*) FROM brute) AS BIGINT),
             CAST((SELECT COUNT(*) FROM ivfr i JOIN brute b
                   USING (query_id, neighbor_id)) AS BIGINT))
    SELECT method, n_brute, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_brute, 4) AS recall
    FROM m
    """


@query(
    "emb_ann_recall_report",
    _emb_recall_oracle(),
    tags=("llm", "ann", "eval", "quality"),
)
def emb_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement as a first-class query (the embedding twin
    of [[doc_lsh_recall_report]]): what fraction of the exact brute-force
    top-5 does each approximate index (SRP-LSH buckets, IVF probed
    cells) recover for the probe queries — the number that tells you
    whether num_planes / nprobe are tuned before trusting the scale
    path. All three pipelines share the query broadcast; matching is an
    equi-join on (query, neighbor)."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    # exact ground truth computed ONCE and checkpointed — three actions
    # consume it (count + one join per method); see emb_pq_recall_report
    brute = (
        SIM.cosine_topk(e, probes, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    lsh = SIM.cosine_topk_lsh(e, probes, k=5, num_planes=4, dim=_DIM).select(
        "query_id", "neighbor_id"
    )
    ivf = SIM.cosine_topk_ivf(
        e, probes, k=5, n_centroids=16, nprobe=4
    ).select("query_id", "neighbor_id")
    n_brute = brute.count()

    def _arm(method, approx):
        matched = approx.join(brute, ["query_id", "neighbor_id"]).count()
        # recall of an empty probe set is undefined -> NULL (the SQL
        # x/0 answer the oracle produces; differential-fuzz, seed 0)
        recall = round(matched / n_brute, 4) if n_brute else None
        return (method, n_brute, matched, recall)

    # both index arms search the same materialized ground truth —
    # overlap their job chains (guide §2.6)
    rows = run_jobs([
        lambda: _arm("lsh", lsh),
        lambda: _arm("ivf", ivf),
    ])
    return local_df(
        spark, rows,
        "method string, n_brute long, n_matched long, recall double"
    )


def _dot_sql_dim(a: str, b: str, dim: int) -> str:
    """Dim-bounded variant of _dot_sql: the fold runs over the first
    ``dim`` components only (Matryoshka prefix truncation)."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cosine_sql_dim(a: str, b: str, dim: int) -> str:
    return (
        f"({_dot_sql_dim(a, b, dim)} / (SQRT({_dot_sql_dim(a, a, dim)})"
        f" * SQRT({_dot_sql_dim(b, b, dim)})))"
    )


_MATRYOSHKA_DIMS = (16, 32)


def _matryoshka_oracle(k: int = 5) -> str:
    def brute(dim: int) -> str:
        cos = _cosine_sql_dim("q.q_vec", "c.embedding", dim)
        return f"""
          SELECT t.query_id, t.vec_id AS neighbor_id FROM (
            SELECT q.query_id, c.vec_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.query_id
                     ORDER BY ROUND({cos}, 6) DESC, c.vec_id ASC) AS rk
            FROM embeddings c,
                 (SELECT vec_id AS query_id, embedding AS q_vec
                  FROM embeddings WHERE vec_id < 10) q
            WHERE c.vec_id <> q.query_id) t(query_id, vec_id, rk)
          WHERE rk <= {k}
        """

    arms = "\n      UNION ALL\n".join(
        f"""SELECT CAST({dim} AS BIGINT) AS dim,
             CAST((SELECT COUNT(*) FROM fulltop) AS BIGINT) AS n_exact,
             CAST((SELECT COUNT(*) FROM t{dim} a JOIN fulltop b
                   USING (query_id, neighbor_id)) AS BIGINT) AS n_matched"""
        for dim in _MATRYOSHKA_DIMS
    )
    truncs = ",\n    ".join(
        f"t{dim} AS ({brute(dim)})" for dim in _MATRYOSHKA_DIMS
    )
    return f"""
    WITH fulltop AS ({brute(_DIM)}),
    {truncs},
    m AS ({arms})
    SELECT dim, n_exact, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_exact, 4) AS recall
    FROM m
    """


@query(
    "emb_matryoshka_recall_report",
    _matryoshka_oracle(),
    tags=("llm", "ann", "eval", "quality"),
)
def emb_matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality report (Kusupati et al. 2022): what
    fraction of the full-dimension exact cosine top-5 survives when the
    index stores only the first 16 / 32 of 64 components — the number
    that decides whether prefix-truncated embeddings (4×/2× cheaper
    storage and GEMM at search time) are usable for THIS corpus before
    re-embedding anything. Ground truth is computed once and
    checkpointed (the shared-ground-truth pattern of
    [[emb_ann_recall_report]]); each truncation arm is the same exact
    brute-force search over sliced arrays, so the comparison isolates
    truncation loss, not index approximation."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    full = (
        SIM.cosine_topk(e, probes, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    n_exact = full.count()

    def _arm(dim):
        te = e.select(
            "vec_id", F.slice("embedding", 1, dim).alias("embedding")
        )
        tp = probes.select(
            "vec_id", F.slice("embedding", 1, dim).alias("embedding")
        )
        trunc = SIM.cosine_topk(te, tp, k=5).select(
            "query_id", "neighbor_id"
        )
        matched = trunc.join(full, ["query_id", "neighbor_id"]).count()
        # empty corpus: recall undefined -> NULL (the SQL x/0 answer)
        recall = round(matched / n_exact, 4) if n_exact else None
        return (dim, n_exact, matched, recall)

    # each truncation arm is an independent brute-force search over the
    # materialized full-dim ground truth — overlap them (guide §2.6)
    rows = run_jobs([
        (lambda dim=dim: _arm(dim)) for dim in _MATRYOSHKA_DIMS
    ])
    return local_df(
        spark, rows,
        "dim long, n_exact long, n_matched long, recall double"
    )


@query(
    "doc_boilerplate_lines",
    f"""
    {_DOCS_CTE},
    chunked AS (
      SELECT doc_id,
             list_transform(range(0, CAST(ceil(len(toks) / {_LINE_CHUNK}.0)
                                          AS BIGINT)),
                            i -> array_to_string(
                                   list_slice(toks, i*{_LINE_CHUNK}+1,
                                              i*{_LINE_CHUNK}+{_LINE_CHUNK}),
                                   ' '))
               AS lines
      FROM d),
    lines AS (SELECT doc_id, unnest(lines) AS line FROM chunked),
    owned AS (
      SELECT lower(trim(line)) AS norm,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM lines GROUP BY 1)
    SELECT norm AS line, n_docs, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, norm ASC) AS BIGINT)
             AS rank
    FROM owned WHERE n_docs > 1 QUALIFY rank <= 15
    """,
    tags=("llm", "dedup", "lines", "report"),
)
def doc_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inspection view behind the line filter: the 15 most widely
    shared normalized lines (the ones drop_duplicate_lines would strip),
    with document reach and raw occurrence counts — what a data curator
    reads before turning the filter on. Same chunk-line construction as
    [[doc_line_dedup]]; one keyed aggregate plus a tiny top-k."""
    c = _LINE_CHUNK
    d = load_table(spark, sf_dir, "documents")
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(__toks) / {c}.0) as int) - 1),"
        f" i -> concat_ws(' ', slice(__toks, i*{c}+1, {c})))"
    )
    lines = (
        d.select("doc_id", TX.ws_tokens("text").alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("doc_id", F.explode(chunks).alias("line"))
        .select("doc_id", F.lower(F.trim(F.col("line"))).alias("norm"))
    )
    owned = lines.groupBy("norm").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_docs").desc(), F.col("norm").asc())
    return (
        owned.filter(F.col("n_docs") > 1)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 15)
        .select(F.col("norm").alias("line"), "n_docs", "n_occurrences", "rank")
    )


_CONTRACT_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@query(
    "dq_table_contracts",
    "\nUNION ALL\n".join(
        f"SELECT '{t}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_cols,"
        f" CAST((SELECT COUNT(*) FROM {t}) AS BIGINT) AS n_rows"
        f" FROM pragma_table_info('{t}')"
        for t in _CONTRACT_TABLES
    ),
    tags=("quality", "contract"),
)
def dq_table_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema contract check across the whole warehouse surface: per
    table, the column count and row count the consumer contract pins —
    the cheap tripwire that catches a producer dropping a column or
    shipping an empty partition. Column counts come from the schemas
    (metadata only); row counts are one count job per table."""
    def _contract(t):
        df = load_table(spark, sf_dir, t)
        return (t, len(df.columns), df.count())

    # one independent count job per table — overlap them (guide §2.6)
    rows = run_jobs([(lambda t=t: _contract(t)) for t in _CONTRACT_TABLES])
    return local_df(
        spark, rows, "tbl string, n_cols long, n_rows long"
    )


@query(
    "emb_cluster_balance",
    f"""
    WITH {_kmeans_ctes(8, 2)[0]},
    sizes AS (
      SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM {_kmeans_ctes(8, 2)[1]} GROUP BY cid),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(MAX(n) AS BIGINT) AS max_n FROM sizes)
    SELECT s.cluster_id, s.n,
           ROUND(CAST(s.n AS DOUBLE) / t.total, 4) AS share,
           ROUND(CAST(t.max_n * t.k AS DOUBLE) / t.total, 4)
             AS imbalance
    FROM sizes s CROSS JOIN tot t
    """,
    tags=("llm", "clustering", "eval"),
)
def emb_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balance report for the k-means partitioner behind IVF and
    SemDeDup: per-cluster sizes/shares plus the imbalance coefficient
    (max cluster / ideal uniform size). An imbalanced clustering makes
    IVF probes and cluster-bounded dedup degenerate toward corpus scans
    — this is the gate that says the routing structure is usable. One
    keyed count over the fitted assignment; totals broadcast back."""
    e = load_table(spark, sf_dir, "embeddings")
    assign = SIM.kmeans(e, "vec_id", "embedding", k=8, n_iter=2)
    sizes = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = sizes.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n").cast("long").alias("max_n"),
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cluster_id",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 4).alias("share"),
        F.round(
            (F.col("max_n") * F.col("k")).cast("double") / F.col("total"), 4
        ).alias("imbalance"),
    )


@query(
    "doc_perplexity_filter",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS t FROM d),
    v AS (SELECT t, count(*) AS c FROM t GROUP BY t),
    tot AS (SELECT sum(c) AS tot FROM v),
    s AS (SELECT t, CAST(FLOOR(log2(c / tot) * 1e6 + 0.5) AS HUGEINT)
                      AS lpm FROM v, tot),
    lm AS (
      SELECT doc_id,
             FLOOR((-(CAST(sum(lpm) AS DOUBLE) / 1e6
                      / CAST(count(*) AS DOUBLE))) * 1e4 + 0.5) / 1e4
               AS bits_per_token
      FROM t JOIN s USING (t) GROUP BY doc_id),
    ranked AS (
      SELECT l.doc_id, doc.lang, l.bits_per_token,
             ROW_NUMBER() OVER (PARTITION BY doc.lang
                                ORDER BY l.bits_per_token ASC, l.doc_id ASC)
               AS rn,
             COUNT(*) OVER (PARTITION BY doc.lang) AS n
      FROM lm l JOIN documents doc USING (doc_id))
    SELECT doc_id, lang, bits_per_token,
           rn <= FLOOR(0.9 * n) AS keep
    FROM ranked
    """,
    tags=("llm", "text", "quality", "perplexity"),
)
def doc_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-bucket filter: per language, drop the worst
    10% of documents by corpus-unigram bits-per-token ([[doc_lm_score]]).
    The cut is an EXACT deterministic rank (rn <= floor(0.9n), tie-break
    doc_id) — not an approximate percentile whose boundary docs would
    flip between engines. One vocabulary broadcast + one lang-keyed
    window."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    lm = CP.unigram_logprob(d, "text", "doc_id").select(
        "doc_id", "bits_per_token"
    )
    joined = lm.join(d.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("bits_per_token").asc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("lang")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .select(
            "doc_id",
            "lang",
            "bits_per_token",
            (F.col("rn") <= F.floor(0.9 * F.col("n"))).alias("keep"),
        )
    )


def _lsh_cost_oracle() -> str:
    # the minhash CTE chain up through bands(doc_id, band, band_key),
    # exposed as a named piece — no string-slicing of the full chain
    upto_bands = _minhash_ctes_through_bands()
    return f"""
    WITH {upto_bands},
    buckets AS (
      SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS c
      FROM bands GROUP BY band, band_key)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS est_pairs
    FROM buckets GROUP BY band
    """


@query("doc_lsh_cost_estimate", _lsh_cost_oracle(), tags=("llm", "dedup", "lsh", "cost"))
def doc_lsh_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight cost estimate for the LSH candidate join: per band, the
    bucket count, the largest bucket, and the exact candidate-pair count
    the self-join would generate (sum of C(c,2) over buckets) — the
    number an operator checks BEFORE launching the join at corpus scale
    (a hot bucket means the banding needs more rows per band, see
    neardup.lsh_tuning). Costs come from the band-key aggregate alone;
    no pair is ever materialized."""
    d = load_table(spark, sf_dir, "documents")
    sig = ND.minhash_signature(d, "text", "doc_id", num_hashes=12, n=3)
    bands = ND.exploded_bands(sig, "doc_id", num_hashes=12, bands=4)
    buckets = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        buckets.groupBy(F.col("band").cast("long").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("c").cast("long").alias("max_bucket"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("est_pairs"),
        )
    )


def _winnow_oracle(n: int = 4, window: int = 4, min_shared: int = 2) -> str:
    return f"""
    {_DOCS_CTE},
    seq AS (
      SELECT doc_id,
             list_transform({_shingles_sql(n)},
                            s -> {_h60('s')}) AS h
      FROM d WHERE len(toks) >= {n + window - 1}),
    fp AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(h) - {window - 2}),
               i -> list_aggregate(list_slice(h, i, i + {window - 1}),
                                   'min'))) AS fps
      FROM seq),
    ex AS (SELECT doc_id, unnest(fps) AS h FROM fp)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
    """


@query("doc_winnow_pairs", _winnow_oracle(), tags=("llm", "dedup", "winnowing"))
def doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing overlap pairs (the MOSS fingerprint sample,
    neardup.winnow_fingerprints): documents sharing >= 2 winnowed span
    fingerprints. The sampled index stores ~2/(w+1) of the spans with a
    guaranteed detection floor (any overlap of n+w-1 tokens surfaces) —
    the storage/recall trade the exact span index can't make."""
    d = load_table(spark, sf_dir, "documents")
    return ND.winnow_pairs(d, "text", "doc_id", n=4, window=4, min_shared=2)


def _winnow_incr_oracle(n: int = 4, window: int = 4, min_shared: int = 2) -> str:
    """Incremental twin of _winnow_oracle: identical fingerprint CTEs,
    then a store/batch split with min-id survivor assignment (the
    incremental-family oracle shape)."""
    return f"""
    {_DOCS_CTE},
    seq AS (
      SELECT doc_id,
             list_transform({_shingles_sql(n)},
                            s -> {_h60('s')}) AS h
      FROM d WHERE len(toks) >= {n + window - 1}),
    fp AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(h) - {window - 2}),
               i -> list_aggregate(list_slice(h, i, i + {window - 1}),
                                   'min'))) AS fps
      FROM seq),
    ex AS (SELECT doc_id, unnest(fps) AS h FROM fp),
    st AS (SELECT doc_id, h FROM ex WHERE doc_id % 2 = 0),
    b AS (SELECT doc_id, h FROM ex WHERE doc_id % 2 = 1),
    m AS (
      SELECT l.doc_id AS id_b, s.doc_id AS id_a,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM b l JOIN st s ON s.h = l.h
      GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
      UNION ALL
      SELECT l.doc_id, e.doc_id, CAST(COUNT(*) AS BIGINT)
      FROM b l JOIN b e ON e.h = l.h AND e.doc_id < l.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}),
    best AS (SELECT id_b, MIN(id_a) AS dup_of FROM m GROUP BY id_b),
    wj AS (SELECT best.id_b, best.dup_of,
                  (SELECT MIN(n_shared) FROM m
                   WHERE m.id_b = best.id_b AND m.id_a = best.dup_of)
                    AS n_shared
           FROM best)
    SELECT i.doc_id, w.dup_of, w.n_shared,
           CASE WHEN w.dup_of IS NULL THEN 'unique'
                WHEN w.dup_of % 2 = 0 THEN 'dup_of_store'
                ELSE 'dup_in_batch' END AS status
    FROM (SELECT doc_id FROM fp WHERE doc_id % 2 = 1) i
    LEFT JOIN wj w ON i.doc_id = w.id_b
    """


@query(
    "doc_incremental_winnow",
    _winnow_incr_oracle(),
    tags=("llm", "dedup", "winnowing", "incremental"),
)
def doc_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[doc_winnow_pairs]]' incremental twin
    (operators/neardup.incremental_winnow_dedup): the odd-id half of
    the corpus dedups against the even-id half's persisted winnowing
    fingerprint index at >= 2 shared fingerprints — the LAST dedup
    family to gain an incremental member (MinHash, SimHash,
    containment, line, URL all have one). Inverted-index probe joins on
    the fingerprint hash; min-id survivor; the MOSS guarantee carries
    over per ingest (any >= n+w-1-token overlap with the store always
    surfaces). Per-ingest cost O(batch) fingerprinting + postings
    equi-joins — never O(corpus)."""
    d = load_table(spark, sf_dir, "documents")
    store_docs = d.filter(F.col("doc_id") % 2 == 0)
    new_docs = d.filter(F.col("doc_id") % 2 == 1)
    store_fp = ND.winnow_fingerprints(store_docs, "text", "doc_id")
    return ND.incremental_winnow_dedup(
        new_docs, store_fp, "text", "doc_id", n=4, window=4, min_shared=2
    )


@query(
    "doc_group_split",
    """
    SELECT doc_id, source,
           CASE WHEN b < 960000 THEN 'train'
                WHEN b < 980000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, source,
                 ('0x' || substr(md5(source), 1, 8))::BIGINT % 1000000 AS b
          FROM documents)
    """,
    tags=("llm", "sampling", "split", "leakage"),
)
def doc_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-level split assignment (operators/sampling.hash_split keyed
    on the group column): every document of a source lands in the SAME
    split, so near-duplicates and templated siblings within a domain can
    never straddle train/test — the leakage-prevention variant of
    [[doc_hash_split]] (row-level splitting leaks whenever intra-group
    correlation exists). Same zero-shuffle narrow projection; the split
    is a pure function of the group key."""
    d = load_table(spark, sf_dir, "documents")
    return SP.hash_split(
        d, "source", {"train": 0.96, "val": 0.02, "test": 0.02}
    ).select("doc_id", "source", "split")


@query(
    "emb_split_leakage",
    f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_cosine_sql("a.embedding", "b.embedding")} >= 0.4),
    s AS (
      SELECT vec_id,
             CASE WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 1000000 < 960000 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 1000000 < 980000 THEN 'val'
                  ELSE 'test' END AS split
      FROM embeddings)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE sa.split <> sb.split) AS BIGINT)
             AS n_cross_split,
           ROUND(CAST(COUNT(*) FILTER (WHERE sa.split <> sb.split) AS DOUBLE)
                 / COUNT(*), 4) AS leak_frac
    FROM pairs p
    JOIN s sa ON sa.vec_id = p.id_a
    JOIN s sb ON sb.vec_id = p.id_b
    """,
    tags=("llm", "dedup", "split", "leakage", "eval"),
)
def emb_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage MEASUREMENT: of the exact near-duplicate pairs
    (cosine >= 0.4, distributed blocked GEMM), how many straddle
    train/test under the row-level hash split — the number that
    motivates group-level splitting ([[doc_group_split]]) or dedup-
    before-split: every cross-split near-dup pair is an eval example the
    model effectively saw in training. Pairs come from the scale-safe
    block join; split labels are the standard narrow projection joined
    twice (broadcast)."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.embedding_near_dup_pairs(e, threshold=0.4)
    s = SP.hash_split(
        e.select("vec_id"), "vec_id",
        {"train": 0.96, "val": 0.02, "test": 0.02},
    )
    sa = s.select(F.col("vec_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("vec_id").alias("id_b"), F.col("split").alias("split_b"))
    tagged = pairs.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    # coalesce: SUM over ZERO pairs is NULL but the count of cross-split
    # pairs is 0; try_divide: 0/0 -> NULL like the oracle (fuzz, seed 0)
    cross = F.coalesce(
        F.sum(F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)),
        F.lit(0),
    ).cast("long")
    return tagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        cross.alias("n_cross_split"),
    ).select(
        "n_pairs",
        "n_cross_split",
        F.round(
            F.try_divide(
                F.col("n_cross_split").cast("double"), F.col("n_pairs")
            ),
            4,
        ).alias("leak_frac"),
    )


@query(
    "bench_contamination_report",
    f"""
    WITH d AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, source, unnest({_DECON_HASHES}) AS g FROM d),
    bids AS (SELECT doc_id AS bench_id FROM d WHERE source = 'src0'),
    bg AS (SELECT doc_id AS bench_id, g FROM g WHERE source = 'src0'),
    spread AS (
      SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      FROM g WHERE source <> 'src0' GROUP BY g),
    agg AS (
      SELECT b.bench_id,
             CAST(COUNT(b.g) AS BIGINT) AS n_grams,
             CAST(COUNT(s.g) AS BIGINT) AS n_hit_grams,
             CAST(COALESCE(MAX(s.nd), 0) AS BIGINT) AS max_gram_spread,
             CAST(COALESCE(SUM(s.nd), 0) AS BIGINT) AS exposure
      FROM bg b LEFT JOIN spread s USING (g)
      GROUP BY b.bench_id)
    SELECT i.bench_id,
           CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(a.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
           CAST(COALESCE(a.max_gram_spread, 0) AS BIGINT) AS max_gram_spread,
           CAST(COALESCE(a.exposure, 0) AS BIGINT) AS exposure
    FROM bids i LEFT JOIN agg a ON a.bench_id = i.bench_id
    """,
    tags=("llm", "decontamination", "eval"),
)
def bench_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-side contamination view ([[doc_decontaminate]] reversed):
    per benchmark item, how many of its 5-grams occur in training, the
    widest single gram's training spread, and the total exposure mass —
    the list an eval owner reads to decide which items are compromised.
    The train side collapses to a per-gram spread aggregate BEFORE
    joining bench grams: a raw (bench x train) pair join would be
    quadratic on heavy-hitter grams (measured 19 s vs 3 s at sf0.1),
    while the per-gram aggregate is one keyed pass at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    # explode_outer via shingle_hash_sets, exactly like CP.decontaminate:
    # plain explode makes Catalyst infer size(sh) > 0 and push it below
    # the shingle projection, evaluating the whole tokenize+shingle+md5
    # tree twice per row.
    bg = ND.shingle_hash_sets(
        d.filter(F.col("source") == "src0"), "text", "doc_id", n=_DECON_N
    ).select(F.col("doc_id").alias("bench_id"), F.explode_outer("sh").alias("g"))
    # per-gram train spread FIRST (one keyed aggregate) — joining raw
    # (bench x train) pairs would explode on heavy-hitter grams
    spread = (
        ND.shingle_hash_sets(
            d.filter(F.col("source") != "src0"), "text", "doc_id", n=_DECON_N
        )
        .select("doc_id", F.explode_outer("sh").alias("g"))
        .groupBy("g")
        .agg(F.countDistinct("doc_id").cast("long").alias("nd"))
    )
    joined = bg.join(spread, "g", "left")
    # count("g"), not count(*): explode_outer keeps a <n-token bench doc
    # as one null-gram row so the doc still REPORTS (with all-zero
    # counts) — count(*) would score that null row as a gram.
    agg = joined.groupBy("bench_id").agg(
        F.count("g").cast("long").alias("n_grams"),
        F.count("nd").cast("long").alias("n_hit_grams"),
        F.coalesce(F.max("nd"), F.lit(0)).cast("long").alias("max_gram_spread"),
        F.coalesce(F.sum("nd"), F.lit(0)).cast("long").alias("exposure"),
    )
    # Every bench item reports, including docs shingle_sets' size>=n
    # filter never emits (an eval owner wants the full item list): the
    # src0 id spine left-joins the aggregate and zero-fills, exactly the
    # oracle's bids LEFT JOIN (differential-fuzz finding, seed 1).
    bids = d.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id")
    )
    z = F.lit(0).cast("long")
    return bids.join(agg, "bench_id", "left").select(
        "bench_id",
        F.coalesce("n_grams", z).alias("n_grams"),
        F.coalesce("n_hit_grams", z).alias("n_hit_grams"),
        F.coalesce("max_gram_spread", z).alias("max_gram_spread"),
        F.coalesce("exposure", z).alias("exposure"),
    )


@query(
    "doc_zipf_profile",
    f"""
    {_DOCS_CTE},
    tok AS (SELECT unnest(toks) AS t FROM d),
    freq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY t)
    SELECT t AS token, f,
           CAST(ROW_NUMBER() OVER (ORDER BY f DESC, t ASC) AS BIGINT)
             AS rank,
           ROUND(log10(CAST(f AS DOUBLE)), 4) AS log_freq
    FROM freq QUALIFY rank <= 30
    """,
    tags=("llm", "text", "zipf", "profile"),
)
def doc_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency (Zipf) profile of the corpus vocabulary: the top-30
    tokens with exact counts and log-frequency — plotted against log-rank
    this is the straight-line sanity check that a text corpus is natural
    (synthetic or template-dominated corpora bend it, which is the
    screen). One map-side-combined vocabulary aggregate; the top-k runs
    over distinct tokens only."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    freq = (
        d.select(F.explode(TX.ws_tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    w = Window.orderBy(F.col("f").desc(), F.col("t").asc())
    return (
        freq.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 30)
        .select(
            F.col("t").alias("token"),
            "f",
            "rank",
            F.round(F.log10(F.col("f").cast("double")), 4).alias("log_freq"),
        )
    )


@query(
    "emb_norm_outliers",
    f"""
    WITH norms AS (
      SELECT vec_id,
             SQRT({_dot_sql("embedding", "embedding")}) AS nrm
      FROM embeddings),
    stats AS (
      SELECT AVG(nrm) AS mu, STDDEV_POP(nrm) AS sigma FROM norms)
    SELECT n.vec_id, ROUND(n.nrm, 4) AS norm,
           ROUND((n.nrm - s.mu) / s.sigma, 4) AS z
    FROM norms n CROSS JOIN stats s
    WHERE ABS(ROUND((n.nrm - s.mu) / s.sigma, 4)) > 2
    """,
    tags=("llm", "embedding", "quality", "outlier"),
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-embedding screen: vectors whose L2 norm sits more than
    2 sigma from the corpus mean — the cheap detector for zeroed, NaN-fed,
    or unnormalized rows before they poison cosine math downstream. Norms
    are one narrow array-lambda projection; the two-number stats broadcast
    back (same shape as the z-score gates on events)."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("embedding").cast("array<double>"),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norms = e.select("vec_id", nrm.alias("nrm"))
    stats = norms.agg(
        F.avg("nrm").alias("mu"), F.stddev_pop("nrm").alias("sigma")
    )
    z = (F.col("nrm") - F.col("mu")) / F.col("sigma")
    # membership is decided on the 4-dp ROUNDED z (the display value):
    # mu/sigma are fold-order-sensitive double aggregates, so raw-z
    # compares could flip rows at the |z|=2 boundary between engines.
    return (
        norms.crossJoin(F.broadcast(stats))
        .filter(F.abs(F.round(z, 4)) > 2)
        .select(
            "vec_id",
            F.round(F.col("nrm"), 4).alias("norm"),
            F.round(z, 4).alias("z"),
        )
    )


_BLOOM_BITS = 1 << 17
_BLOOM_K = 3


def _bloom_pos_sql(i: int) -> str:
    """DuckDB mirror of corpus._bloom_pos (portable md5 bucket kernel)."""
    return (
        f"('0x' || substr(md5('bloom{i}:' || CAST(g AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_BLOOM_BITS}"
    )


@query(
    "doc_bloom_decontaminate",
    f"""
    {_DOCS_CTE},
    g AS (SELECT doc_id, source, unnest({_DECON_HASHES}) AS g FROM d),
    bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
    store AS (SELECT DISTINCT unnest(
                [{', '.join(_bloom_pos_sql(i) for i in range(_BLOOM_K))}])
                AS bit_pos FROM bench),
    tg AS (SELECT doc_id, g FROM g WHERE source <> 'src0'),
    probe AS (SELECT doc_id, g, unnest(
                [{', '.join(_bloom_pos_sql(i) for i in range(_BLOOM_K))}])
                AS bit_pos FROM tg),
    hits AS (
      SELECT p.doc_id, p.g, COUNT(s.bit_pos) AS nset
      FROM probe p LEFT JOIN store s USING (bit_pos)
      GROUP BY 1, 2),
    bloom AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(*) FILTER (WHERE nset = {_BLOOM_K}) AS BIGINT)
               AS n_maybe_hits
      FROM hits GROUP BY 1),
    exact AS (
      SELECT t.doc_id,
             CAST(COUNT(*) FILTER (WHERE b.g IS NOT NULL) AS BIGINT)
               AS n_exact_hits
      FROM tg t LEFT JOIN bench b USING (g) GROUP BY 1)
    SELECT b.doc_id, b.n_grams, b.n_maybe_hits, e.n_exact_hits,
           CAST(b.n_maybe_hits - e.n_exact_hits AS BIGINT) AS n_false_pos,
           b.n_maybe_hits >= e.n_exact_hits AS no_false_negatives
    FROM bloom b JOIN exact e USING (doc_id)
    """,
    tags=("llm", "text", "decontamination", "sketch"),
)
def doc_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered benchmark decontamination, certified against
    the exact join it accelerates: treat source 'src0' as the held-out
    eval suite, build the md5-derived k=3 / 2^17-bit Bloom store of its
    distinct 5-gram hashes (corpus.bloom_gram_store — a ≤1 MiB
    broadcastable positions table, mergeable by UNION), then flag every
    training document's grams through the filter
    (corpus.bloom_decontaminate) AND through the exact benchmark-set
    join ([[doc_decontaminate]]'s kernel). Emitted per doc: gram count,
    Bloom maybe-hits, exact hits, the false-positive overhead the
    pre-filter would hand to exact verification, and the constant-TRUE
    ``no_false_negatives`` invariant (a benchmark gram always has all
    its bits set — the property that makes the pre-filter safe). Both
    engines derive bucket positions from the same md5 kernel, so even
    the false-positive counts are bit-exact. Scale shape: the corpus
    probes a BROADCAST store; the only shuffles are the two per-doc
    re-counts (map-side combined); the store build touches only the
    tiny benchmark side."""
    from etl_gardener_spark.operators import corpus as CP2

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0")
    train = d.filter(F.col("source") != "src0")
    # one md5 shingling pass PER SIDE, shared by the Bloom branch and the
    # exact-verification branch (guide §2.4 — the two branches previously
    # each recomputed their side's hashes, doubling the query's CPU floor)
    bench_sh = ND.shingle_hash_sets(
        bench, "text", "doc_id", _DECON_N
    ).localCheckpoint(eager=True)
    train_sh = ND.shingle_hash_sets(
        train, "text", "doc_id", _DECON_N
    ).localCheckpoint(eager=True)
    store = CP2.bloom_gram_store(
        bench, "text", "doc_id", n=_DECON_N, bits=_BLOOM_BITS, hashes=_BLOOM_K,
        gram_hashes=bench_sh,
    )
    bloom = CP2.bloom_decontaminate(
        train, store, "text", "doc_id",
        n=_DECON_N, bits=_BLOOM_BITS, hashes=_BLOOM_K,
        gram_hashes=train_sh,
    )
    tg = (
        train_sh
        .select(F.col("doc_id"), F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    bg = (
        bench_sh
        .select(F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    exact = tg.join(F.broadcast(bg), "g", "left").groupBy("doc_id").agg(
        F.count("__hit").cast("long").alias("n_exact_hits")
    )
    return bloom.join(exact, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_maybe_hits",
        "n_exact_hits",
        (F.col("n_maybe_hits") - F.col("n_exact_hits"))
        .cast("long")
        .alias("n_false_pos"),
        (F.col("n_maybe_hits") >= F.col("n_exact_hits")).alias(
            "no_false_negatives"
        ),
    )


# ---------------------------------------------------------------------------
# Round 8 additions: URL canonicalization + host-level dedup
# ---------------------------------------------------------------------------

from etl_gardener_spark.functions import urls as UR  # noqa: E402
from etl_gardener_spark.operators import weburl as WB  # noqa: E402


def _synth_url_spark():
    """Deterministic messy-URL decoration of the synthetic docs (the
    testdata carries no URL column — same convention as
    ``_synth_pii_spark``): 8 mess variants keyed on doc_id, 40 page
    groups, so canonicalization must merge case/port/slash/tracking/
    fragment/userinfo noise while keeping real ?a=1 params and the
    http-vs-https split apart. The SAME expression feeds the oracle."""
    g = (F.col("doc_id") % 40).cast("string")
    v = F.expr("(doc_id div 40) % 8")
    d = F.col("doc_id").cast("string")
    page = F.concat(F.lit("example-"), g, F.lit(".com/path/"), g)
    return (
        F.when(v == 0, F.concat(F.lit("https://WWW.Example-"), g,
                                F.lit(".COM/path/"), g))
        .when(v == 1, F.concat(F.lit("https://example-"), g,
                               F.lit(".com:443/path/"), g))
        .when(v == 2, F.concat(F.lit("https://"), page, F.lit("/")))
        .when(v == 3, F.concat(F.lit("https://"), page,
                               F.lit("?utm_source=news&utm_medium=email")))
        .when(v == 4, F.concat(F.lit("https://"), page,
                               F.lit("?a=1&utm_campaign=x&fbclid=c"), d))
        .when(v == 5, F.concat(F.lit("https://"), page, F.lit("#frag"), d))
        .when(v == 6, F.concat(F.lit("HTTPS://u:pw@"), page))
        .otherwise(F.concat(F.lit("http://example-"), g,
                            F.lit(".com:80/path/"), g,
                            F.lit("/?igshid=xyz&ref=home")))
    )


_SYNTH_URL_SQL = """(CASE (doc_id // 40) % 8
    WHEN 0 THEN 'https://WWW.Example-' || CAST(doc_id % 40 AS VARCHAR)
                || '.COM/path/' || CAST(doc_id % 40 AS VARCHAR)
    WHEN 1 THEN 'https://example-' || CAST(doc_id % 40 AS VARCHAR)
                || '.com:443/path/' || CAST(doc_id % 40 AS VARCHAR)
    WHEN 2 THEN 'https://example-' || CAST(doc_id % 40 AS VARCHAR)
                || '.com/path/' || CAST(doc_id % 40 AS VARCHAR) || '/'
    WHEN 3 THEN 'https://example-' || CAST(doc_id % 40 AS VARCHAR)
                || '.com/path/' || CAST(doc_id % 40 AS VARCHAR)
                || '?utm_source=news&utm_medium=email'
    WHEN 4 THEN 'https://example-' || CAST(doc_id % 40 AS VARCHAR)
                || '.com/path/' || CAST(doc_id % 40 AS VARCHAR)
                || '?a=1&utm_campaign=x&fbclid=c' || CAST(doc_id AS VARCHAR)
    WHEN 5 THEN 'https://example-' || CAST(doc_id % 40 AS VARCHAR)
                || '.com/path/' || CAST(doc_id % 40 AS VARCHAR)
                || '#frag' || CAST(doc_id AS VARCHAR)
    WHEN 6 THEN 'HTTPS://u:pw@example-' || CAST(doc_id % 40 AS VARCHAR)
                || '.com/path/' || CAST(doc_id % 40 AS VARCHAR)
    ELSE 'http://example-' || CAST(doc_id % 40 AS VARCHAR)
         || '.com:80/path/' || CAST(doc_id % 40 AS VARCHAR)
         || '/?igshid=xyz&ref=home' END)"""


@query(
    "doc_url_canonical_dedup",
    f"""
    WITH raw AS (SELECT doc_id, {_SYNTH_URL_SQL} AS u FROM documents)
    SELECT {UR.canonical_url_sql('u')} AS canonical_url,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_docs
    FROM raw GROUP BY 1
    """,
    tags=("llm", "dedup", "url"),
)
def doc_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed exact dedup (operators/weburl.url_dedup over
    functions/urls.canonical_url) — the fetch-level first pass of a web
    corpus: scheme/host case, default ports, userinfo, fragments,
    tracking params, and trailing slashes all collapse to one canonical
    name with the smallest doc_id as the keeper, while real query
    params (?a=1) and a genuine scheme difference stay distinct. Pure
    regexp canonicalization (Java/RE2-portable, mirrored in the oracle)
    + ONE map-side-combined hash aggregate — no pairwise stage, scales
    with groupBy."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", _synth_url_spark().alias("u"))
    return WB.url_dedup(raw, "u", "doc_id")


@query(
    "doc_host_profile",
    f"""
    WITH raw AS (SELECT doc_id, {_SYNTH_URL_SQL} AS u FROM documents),
    per_url AS (
      SELECT {UR.url_host_sql('u')} AS host,
             {UR.canonical_url_sql('u')} AS canonical_url,
             COUNT(*) AS n
      FROM raw GROUP BY 1, 2)
    SELECT host,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS dup_count
    FROM per_url GROUP BY host
    """,
    tags=("llm", "dedup", "url", "profile"),
)
def doc_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host dedup profile (operators/weburl.host_profile): docs vs
    distinct canonical URLs per canonical host — the relation host caps
    and blocklists read (a host whose dup_count explodes serves one
    page under many URLs). Two stacked partial aggregations: the wide
    shuffle keys on the near-unique (host, canonical_url) composite,
    the host rollup then touches only distinct URLs — no per-host row
    explosion at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", _synth_url_spark().alias("u"))
    return WB.host_profile(raw, "u", "doc_id")


@query(
    "doc_incremental_url_dedup",
    f"""
    WITH raw AS (SELECT doc_id, {_SYNTH_URL_SQL} AS u FROM documents),
    canon AS (SELECT doc_id, {UR.canonical_url_sql('u')} AS canonical_url
              FROM raw),
    store AS (SELECT canonical_url, MIN(doc_id) AS keep_id
              FROM canon WHERE doc_id % 2 = 0 GROUP BY 1),
    b AS (SELECT doc_id, canonical_url FROM canon WHERE doc_id % 2 = 1),
    bmin AS (SELECT canonical_url, MIN(doc_id) AS bmin FROM b GROUP BY 1)
    SELECT b.doc_id, b.canonical_url,
           CASE WHEN s.keep_id IS NOT NULL THEN s.keep_id
                WHEN b.doc_id > m.bmin THEN m.bmin END AS dup_of,
           CASE WHEN s.keep_id IS NOT NULL THEN 'dup_of_store'
                WHEN b.doc_id > m.bmin THEN 'dup_in_batch'
                ELSE 'unique' END AS status
    FROM b JOIN bmin m USING (canonical_url)
           LEFT JOIN store s USING (canonical_url)
    """,
    tags=("llm", "dedup", "url", "incremental"),
)
def doc_incremental_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[doc_url_canonical_dedup]]'s incremental twin
    (operators/weburl.incremental_url_dedup): even doc_ids are the
    persisted corpus (its url_dedup relation is the store), odd ids the
    incoming batch — the same store/batch convention as the other
    incremental oracles. Min-id survivor semantics: store keep_id
    outranks batch, earlier batch doc outranks later; per-ingest cost
    is O(batch) canonicalization + one store equi-join, never
    O(corpus)."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", _synth_url_spark().alias("u"))
    store = WB.url_dedup(raw.filter(F.col("doc_id") % 2 == 0), "u", "doc_id")
    return WB.incremental_url_dedup(
        raw.filter(F.col("doc_id") % 2 == 1), store, "u", "doc_id"
    )


# 2-flip noise for the wide-threshold variant: pairwise hamming <= 4
# between re-encodings of the same canvas.
_PHASH_NOISE2 = (
    "((CAST(1 AS BIGINT) << ((doc_id * 7) % 60))"
    " | (CAST(1 AS BIGINT) << ((doc_id * 13 + 3) % 60)))"
)


@query(
    "mm_phash_near_pairs_wide",
    f"""
    WITH p AS (SELECT doc_id,
                      CASE WHEN doc_id % 5 = 0
                           THEN 'img-canvas-' || CAST(doc_id // 20 AS VARCHAR)
                           ELSE text END AS text
               FROM documents),
    h AS (SELECT doc_id, xor({_PHASH60}, {_PHASH_NOISE2}) AS phash FROM p)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 4
    """,
    tags=("llm", "multimodal", "dedup", "lsh", "blocked"),
)
def mm_phash_near_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[mm_phash_near_pairs]] at a WIDER threshold (hamming <= 4) via
    the Manku block-combination construction
    (neardup.hamming_near_pairs_blocked, n_blocks=6 → C(6,2)=15 tables
    keyed on 2-block 20-bit combinations): classic banding at h=4
    would cut the 60-bit hash into 5 bands of 12-bit keys (4k buckets
    — pairwise-dense past ~100k items), while the blocked tables keep
    1M buckets at 3x the index rows. Same planted corpus as the h<=3
    twin but with a 2-flip noise mask, so re-encodings sit at pairwise
    hamming <= 4 — past the narrow twin's threshold, recovered here.
    Exact bit_count(xor) verification either way; the construction
    affects work, never results. The oracle brute-forces all pairs
    (quadratic, oracle-only)."""
    from etl_gardener_spark.operators import neardup as ND
    from etl_gardener_spark.operators.multimodal import attach_binary

    d = load_table(spark, sf_dir, "documents")
    decorated = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("img-canvas-"),
                F.expr("doc_id div 20").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    payloads = attach_binary(decorated, "text", "doc_id")

    def _phash(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            mask = pdf["payload"].notna()
            ids = pdf["doc_id"][mask]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "simhash": [
                        int(hashlib.md5(bytes(p)).hexdigest()[:15], 16)
                        ^ ((1 << ((i * 7) % 60)) | (1 << ((i * 13 + 3) % 60)))
                        for i, p in zip(ids, pdf["payload"][mask])
                    ],
                }
            )

    src = payloads.select("doc_id", "payload")
    if src.rdd.getNumPartitions() < 8:
        src = src.repartition(8)
    sim = src.mapInPandas(_phash, "doc_id long, simhash long")
    out = ND.hamming_near_pairs_blocked(
        sim, "doc_id", max_hamming=4, n_blocks=6, bits=60
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Curation pipeline composition (round 9): the orchestrator's post-Join
# curation chain (orchestrator/curation.py) as ONE certified query, so
# the exact operator composition a configured source runs per day —
# scrub -> quality gate -> exact dedup -> near dedup — is oracle-backed
# end-to-end, not just stage-by-stage.
# ---------------------------------------------------------------------------


def _curation_pipeline_oracle(
    min_quality: float = 0.25, threshold: float = 0.5
) -> str:
    """Composes the certified stage oracles in chain order: the scrub
    oracle feeds the quality-score oracle's expressions, exact dedup is
    the min-id window over the normalized scrubbed text, and the
    certified MinHash pairs CTE runs with its base relation swapped to
    the curated intermediate (docs_body parameter)."""
    redacted = SC.oracle_redact_sql("text")
    quality = (
        "FLOOR((0.4 * least(1.0, len(toks) / 100.0)"
        " + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
        " + 0.3 * (1 - CAST(length(text) - length(regexp_replace(lower(text),"
        " '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)))"
        " * 10000 + 0.5) / 10000"
    )
    curated_body = f"""scrubbed AS (
        SELECT doc_id, {redacted} AS text FROM documents),
    tokd AS (SELECT doc_id, text, {_TOKS} AS toks FROM scrubbed),
    gated AS (SELECT * FROM (SELECT *, {quality} AS quality FROM tokd)
              WHERE quality >= {min_quality}),
    exact AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
            ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1),
    d AS (SELECT doc_id, text, toks, quality FROM exact)"""
    return f"""
    WITH {_minhash_ctes(docs_body=curated_body, threshold=threshold)}
    SELECT d.doc_id, md5(d.text) AS text_md5,
           CAST(len(d.toks) AS BIGINT) AS n_tokens, d.quality
    FROM d
    WHERE d.doc_id NOT IN (SELECT id_b FROM pairs)
    """


@query(
    "corpus_curation_pipeline",
    _curation_pipeline_oracle(),
    tags=("llm", "curation", "pipeline", "dedup", "quality"),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orchestrator's curation chain (orchestrator/curation.py,
    MIGRATION.md §curation) composed over the documents corpus exactly
    as CurationActions runs it per day partition: [[doc_scrub_pii]]'s
    redaction -> [[doc_quality_score]]'s composite gate (>= 0.25) ->
    exact dedup (min-id per normalized scrubbed text) ->
    [[doc_minhash_lsh_pairs]] near-dedup (12/4 banding, verify >= 0.5,
    min-id survivor: any doc verified against a smaller id drops).
    Output: surviving (doc_id, text_md5, n_tokens, quality).

    100 TB shape: four chained one-scan stages — scrub is pure column
    exprs, the gate is a filter on the same scan, exact dedup shuffles
    once on the normalized-text key (bounded dup groups), near-dedup is
    the banded LSH plan (never all-pairs). The key difference from the
    per-stage queries: each stage consumes the PREVIOUS stage's output
    (scrubbed text changes shingles; gated corpus changes banding
    candidates), which is exactly what staging them as one certified
    composition proves correct."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from pyspark.sql import Window

    scrubbed = d.select("doc_id", SC.redact("text").alias("text"))
    gated = scrubbed.withColumn(
        "quality", TX.quality_score("text")
    ).filter(F.col("quality") >= 0.25)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    w = Window.partitionBy(norm).orderBy(F.col("doc_id").asc())
    exact = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # localCheckpoint: the curated relation feeds BOTH the pair plan's
    # shingle scan and the survivor projection — same discipline as the
    # orchestrator stage bodies (one materialization, two consumers).
    exact = exact.localCheckpoint(eager=True)
    pairs = ND.minhash_lsh_pairs(
        exact, "text", "doc_id", num_hashes=12, bands=4, threshold=0.5
    )
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return exact.join(drops, "doc_id", "left_anti").select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        TX.token_count("text").cast("long").alias("n_tokens"),
        "quality",
    )


def _incremental_curation_oracle(
    min_quality: float = 0.25, threshold: float = 0.5
) -> str:
    """Incremental twin of _curation_pipeline_oracle: odd ids arrive as
    the batch, even ids are the persisted curated store. Reuses the
    scrub/quality fragments, an exact-dup norm equi-join with the
    store-or-smaller-batch survivor rule, and the certified MinHash
    pairs CTE over (store UNION exact-surviving batch) via docs_body —
    the parity trick then reads near-dup survivors off the oriented
    pairs exactly like _incremental_dedup_oracle."""
    redacted = SC.oracle_redact_sql("text")
    quality = (
        "FLOOR((0.4 * least(1.0, len(toks) / 100.0)"
        " + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
        " + 0.3 * (1 - CAST(length(text) - length(regexp_replace(lower(text),"
        " '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)))"
        " * 10000 + 0.5) / 10000"
    )
    prefix = f"""scr AS (SELECT doc_id, {redacted} AS text FROM documents),
    tokd AS (SELECT doc_id, text, {_TOKS} AS toks FROM scr),
    q AS (SELECT *, {quality} AS quality FROM tokd),
    b1 AS (SELECT * FROM q WHERE doc_id % 2 = 1 AND quality >= {min_quality}),
    normed AS (SELECT doc_id,
                      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                        AS norm
               FROM q),
    ex AS (
      SELECT nb.doc_id, MIN(o.doc_id) AS dup_of
      FROM (SELECT n.* FROM normed n JOIN b1 USING (doc_id)) nb
      JOIN normed o ON o.norm = nb.norm AND o.doc_id <> nb.doc_id
      WHERE o.doc_id % 2 = 0
         OR (o.doc_id < nb.doc_id
             AND o.doc_id IN (SELECT doc_id FROM b1))
      GROUP BY nb.doc_id),
    b2 AS (SELECT * FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
    d AS (SELECT doc_id, text, toks FROM q WHERE doc_id % 2 = 0
          UNION ALL SELECT doc_id, text, toks FROM b2)"""
    return f"""
    WITH {_minhash_ctes(docs_body=prefix, threshold=threshold)},
    near AS (
      SELECT x.doc_id, MIN(x.other) AS dup_of FROM (
        SELECT p.id_b AS doc_id, p.id_a AS other FROM pairs p
          WHERE p.id_b % 2 = 1
        UNION ALL
        SELECT p.id_a AS doc_id, p.id_b AS other FROM pairs p
          WHERE p.id_a % 2 = 1 AND p.id_b % 2 = 0
      ) x GROUP BY x.doc_id)
    SELECT b.doc_id,
           CASE WHEN b.quality IS NULL OR b.quality < {min_quality}
                  THEN 'rejected_quality'
                WHEN ex.dup_of IS NOT NULL AND ex.dup_of % 2 = 0
                  THEN 'dup_exact_store'
                WHEN ex.dup_of IS NOT NULL THEN 'dup_exact_batch'
                WHEN nr.dup_of IS NOT NULL AND nr.dup_of % 2 = 0
                  THEN 'dup_near_store'
                WHEN nr.dup_of IS NOT NULL THEN 'dup_near_batch'
                ELSE 'unique' END AS status,
           CASE WHEN b.quality IS NULL OR b.quality < {min_quality}
                  THEN NULL
                ELSE COALESCE(ex.dup_of, nr.dup_of) END AS dup_of
    FROM (SELECT * FROM q WHERE doc_id % 2 = 1) b
    LEFT JOIN ex ON b.doc_id = ex.doc_id
    LEFT JOIN near nr ON b.doc_id = nr.doc_id
    """


@query(
    "corpus_incremental_curation",
    _incremental_curation_oracle(),
    tags=("llm", "curation", "pipeline", "incremental", "dedup"),
)
def corpus_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental twin of [[corpus_curation_pipeline]] — the DAILY
    INGEST shape: the odd-id half arrives as a batch and is curated
    against the even-id half playing the persisted, already-curated
    store. Per batch doc: scrub -> quality gate ('rejected_quality') ->
    exact dedup vs store norms and earlier surviving batch norms
    ('dup_exact_store'/'dup_exact_batch', min-id survivor) -> MinHash
    near-dedup vs (store UNION exact survivors)
    ('dup_near_store'/'dup_near_batch') -> 'unique'. Output
    (doc_id, status, dup_of).

    Per-ingest cost is O(batch): the exact probe is an equi-join on the
    normalized-text key (store side pre-bucketable), the near probe the
    banded LSH join of the incremental family — nothing rescans store
    text beyond its (persistable) signatures. At 100 TB this is the
    chain the orchestrator's curation stages run per day partition,
    with the store roles played by the warehouse's curated tiers."""
    from pyspark.sql import Window  # noqa: F401 (parity with batch twin)

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", SC.redact("text").alias("text")
    )
    q = d.withColumn("quality", TX.quality_score("text")).localCheckpoint(
        eager=True
    )
    batch = q.filter(F.col("doc_id") % 2 == 1)
    b1 = batch.filter(F.col("quality") >= 0.25)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    normed = q.select("doc_id", norm.alias("norm")).join(
        b1.select("doc_id", F.lit(True).alias("__in_b1")), "doc_id", "left"
    )
    nb = normed.join(b1.select("doc_id"), "doc_id").select(
        F.col("doc_id").alias("b_id"), F.col("norm")
    )
    ex = (
        nb.join(
            normed.select(
                F.col("doc_id").alias("o_id"), F.col("norm"), "__in_b1"
            ),
            "norm",
        )
        .filter(
            (F.col("o_id") != F.col("b_id"))
            & (
                (F.col("o_id") % 2 == 0)
                | ((F.col("o_id") < F.col("b_id")) & F.col("__in_b1"))
            )
        )
        .groupBy("b_id")
        .agg(F.min("o_id").alias("ex_dup_of"))
        .select(F.col("b_id").alias("doc_id"), "ex_dup_of")
    )
    b2 = b1.join(ex.select("doc_id"), "doc_id", "left_anti")
    pool = q.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text").unionByName(
        b2.select("doc_id", "text")
    )
    pairs = ND.minhash_lsh_pairs(
        pool, "text", "doc_id", num_hashes=12, bands=4, threshold=0.5
    )
    near = (
        pairs.filter(F.col("id_b") % 2 == 1)
        .select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("other"))
        .unionByName(
            pairs.filter(
                (F.col("id_a") % 2 == 1) & (F.col("id_b") % 2 == 0)
            ).select(
                F.col("id_a").alias("doc_id"), F.col("id_b").alias("other")
            )
        )
        .groupBy("doc_id")
        .agg(F.min("other").alias("nr_dup_of"))
    )
    rejected = F.col("quality").isNull() | (F.col("quality") < 0.25)
    return (
        batch.select("doc_id", "quality")
        .join(ex, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(rejected, F.lit("rejected_quality"))
            .when(
                F.col("ex_dup_of").isNotNull() & (F.col("ex_dup_of") % 2 == 0),
                F.lit("dup_exact_store"),
            )
            .when(F.col("ex_dup_of").isNotNull(), F.lit("dup_exact_batch"))
            .when(
                F.col("nr_dup_of").isNotNull() & (F.col("nr_dup_of") % 2 == 0),
                F.lit("dup_near_store"),
            )
            .when(F.col("nr_dup_of").isNotNull(), F.lit("dup_near_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.when(
                rejected, F.lit(None).cast("long")
            ).otherwise(F.coalesce("ex_dup_of", "nr_dup_of")).alias("dup_of"),
        )
    )


def _charlm_oracle(k: float = 0.5) -> str:
    """Mirror of corpus.char_trigram_nll: even ids train the smoothed
    char-trigram model, odd ids are scored; per-trigram -ln(p) floors
    to integer micro-units before the per-doc sum (the DSIR kernel),
    so the distributed aggregate matches bit-for-bit."""
    return f"""
    WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
    tr AS (SELECT doc_id, substring(s, i, 2) AS ctx,
                  substring(s, i + 2, 1) AS ch
           FROM (SELECT doc_id, s, unnest(range(1, length(s) - 1)) AS i
                 FROM t WHERE length(s) >= 3)),
    cnt AS (SELECT ctx, ch, CAST(COUNT(*) AS BIGINT) AS c
            FROM tr WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    ctxn AS (SELECT ctx, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT substring(s, i, 1)) AS DOUBLE) AS v
              FROM (SELECT s, unnest(range(1, length(s) + 1)) AS i
                    FROM t WHERE doc_id % 2 = 0)),
    scored AS (
      SELECT b.doc_id,
             CAST(FLOOR(-ln((CAST(COALESCE(c.c, 0) AS DOUBLE) + {k})
                 / (CAST(COALESCE(x.n, 0) AS DOUBLE) + {k} * v.v))
                 * 1e6 + 0.5) AS BIGINT) AS nll_e6
      FROM tr b
      LEFT JOIN cnt c ON b.ctx = c.ctx AND b.ch = c.ch
      LEFT JOIN ctxn x ON b.ctx = x.ctx
      CROSS JOIN vocab v
      WHERE b.doc_id % 2 = 1)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           FLOOR(CAST(SUM(nll_e6) AS DOUBLE) / COUNT(*) / 1e6 * 10000 + 0.5)
             / 10000 AS avg_nll
    FROM scored GROUP BY doc_id
    """


@query(
    "doc_charlm_quality",
    _charlm_oracle(),
    tags=("llm", "quality", "text", "incremental"),
)
def doc_charlm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram LM quality gate (operators/corpus.char_trigram_nll)
    — the CCNet-style perplexity filter: the even-id half plays the
    persisted reference corpus (trains add-0.5-smoothed trigram counts);
    each odd-id batch doc is scored by mean -ln p per trigram. The
    third quality axis next to [[doc_quality_score]]'s heuristics and
    [[doc_dsir_select]]'s importance weights; in a configured pipeline
    it slots into the quality_gate curation stage. Model is bounded by
    alphabet^3 (broadcastable); scoring is one batch scan + two
    equi-joins + one integer aggregate — O(batch) per ingest."""
    d = load_table(spark, sf_dir, "documents")
    store = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    return CP.char_trigram_nll(store, batch, "text", "doc_id")


def _temp_mix_oracle(tau: float = 0.7) -> str:
    """Temperature-scaled source weights: pow outputs floored to
    integer micro-units before the normalizing sum (the DSIR/charlm
    kernel), so the cross-source normalization is order-independent
    and the one libm call (pow) sits behind the e6 floor."""
    return f"""
    {_DOCS_CTE},
    per AS (SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
            FROM d GROUP BY source),
    w AS (SELECT *,
                 CAST(FLOOR(pow(CAST(n_tokens AS DOUBLE), {tau})
                      * 1e6 + 0.5) AS BIGINT) AS w_e6
          FROM per),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tok_tot,
                   CAST(SUM(w_e6) AS BIGINT) AS w_tot FROM w)
    SELECT w.source, w.n_docs, w.n_tokens,
           FLOOR(CAST(w.n_tokens AS DOUBLE) / t.tok_tot * 10000 + 0.5)
             / 10000 AS natural_share,
           FLOOR(CAST(w.w_e6 AS DOUBLE) / CAST(t.w_tot AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS temp_share
    FROM w, tot t
    """


@query(
    "corpus_temperature_mix",
    _temp_mix_oracle(),
    tags=("llm", "sampling", "reporting", "curriculum"),
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per source (tau = 0.7, the
    mT5/Pile up-sampling pattern): natural token share vs the
    pow(n_tokens, tau)-normalized sampling share — the table a
    training run's data loader samples from, up-weighting small
    sources without letting any source dominate. Completes the mixture
    family ([[doc_mixture_report]] reports composition;
    [[doc_dsir_select]] selects within a source; this sets the
    BETWEEN-source curriculum). One strata aggregate + a broadcast
    one-row total; the single pow() per source rides the e6 floor
    kernel so both engines normalize identical integers."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select("source", TX.ws_tokens("text").alias("__toks")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("__toks")).cast("long").alias("n_tokens"),
    )
    w = per.withColumn(
        "__w_e6",
        F.floor(F.pow(F.col("n_tokens").cast("double"), F.lit(0.7)) * 1e6 + 0.5)
        .cast("long"),
    )
    tot = w.agg(
        F.sum("n_tokens").cast("double").alias("__tok_tot"),
        F.sum("__w_e6").cast("long").alias("__w_tot"),
    )

    def r4(c):
        return F.floor(c * 10000 + 0.5) / 10000

    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        r4(F.col("n_tokens").cast("double") / F.col("__tok_tot")).alias(
            "natural_share"
        ),
        r4(
            F.col("__w_e6").cast("double") / F.col("__w_tot").cast("double")
        ).alias("temp_share"),
    )


def _ivfpq_residual_oracle(
    n_centroids: int = 16, nprobe: int = 4, k: int = 5
) -> str:
    """Residual IVF-PQ (by_residual=true): coarse cells via the FLOOR
    kernel, residual vectors r = x - c(cell), residual-seeded codebook,
    per-(probed cell) query ADC tables — every distance through the
    integer-micro kernel, mirroring operators/pq.pq_topk_ivf_residual
    expression-for-expression."""
    cos_ec = _cosine_sql("e.embedding", "c.cvec")
    rsub = "list_transform(range(1, {d}), i -> CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))".format
    cd_arms = " UNION ALL ".join(
        f"SELECT r.nid, c.cid, {s} AS s,"
        f" {_pq_subdist_sql('r.rvec', 'c.cvec', s)} AS de6"
        f" FROM res r CROSS JOIN rcb c"
        for s in range(_PQ_M)
    )
    qd_arms = " UNION ALL ".join(
        f"SELECT q.query_id, q.cell, c.cid AS code, {s} AS s,"
        f" {_pq_subdist_sql('q.rvec', 'c.cvec', s)} AS de6"
        f" FROM qres q CROSS JOIN rcb c"
        for s in range(_PQ_M)
    )
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
                   FROM embeddings WHERE vec_id < {n_centroids}),
    asg AS (SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql(cos_ec)}
                   DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
    res AS (SELECT a.vec_id AS nid, a.cell,
                   {rsub(d=_DIM + 1, a="e.embedding", b="c.cvec")} AS rvec
            FROM asg a JOIN embeddings e USING (vec_id)
            JOIN cents c ON a.cell = c.cid),
    rcb AS (SELECT nid AS cid, rvec AS cvec FROM res WHERE nid < {_PQ_KSUB}),
    cd AS ({cd_arms}),
    pqcodes AS (SELECT nid, s, code FROM (
        SELECT nid, s, cid AS code,
               ROW_NUMBER() OVER (PARTITION BY nid, s
                 ORDER BY de6 ASC, cid ASC) AS rn
        FROM cd) t WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql(cos_ec)}
                   DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) t
        WHERE rn <= {nprobe}),
    qres AS (SELECT p.query_id, p.cell,
                    {rsub(d=_DIM + 1, a="e.embedding", b="c.cvec")} AS rvec
             FROM qprobe p JOIN embeddings e ON e.vec_id = p.query_id
             JOIN cents c ON p.cell = c.cid),
    qd AS ({qd_arms}),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.cell
             FROM qprobe p JOIN asg a ON p.cell = a.cell
             WHERE a.vec_id <> p.query_id),
    adc AS (SELECT c.query_id, c.neighbor_id,
                   CAST(SUM(d.de6) AS DOUBLE) / 1e6 AS score
            FROM cand c
            JOIN pqcodes p ON p.nid = c.neighbor_id
            JOIN qd d ON d.query_id = c.query_id AND d.cell = c.cell
                     AND d.s = p.s AND d.code = p.code
            GROUP BY 1, 2),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score ASC, neighbor_id ASC) AS BIGINT) AS rank
          FROM adc)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query(
    "emb_ann_topk_ivfpq_residual",
    _ivfpq_residual_oracle(),
    tags=("llm", "ann", "ivf", "pq"),
)
def emb_ann_topk_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ ANN (operators/pq.pq_topk_ivf_residual —
    FAISS IndexIVFPQ's by_residual=true DEFAULT, completing the
    by_residual=false [[emb_ann_topk_ivfpq]]): corpus vectors are
    PQ-coded as residuals against their coarse centroid, and each query
    builds a per-probed-cell ADC table from its own residual —
    residuals concentrate near zero, so the same codebook budget buys
    finer resolution. The extra cost over the plain variant is exactly
    the nprobe tables of m x k_sub entries per query, built on the
    driver; the corpus side is still one narrow scoring pass."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_topk_ivf_residual(
        e, e.filter(F.col("vec_id") < 10),
        k=5, n_centroids=16, nprobe=4,
        m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
    )


def _ivfpq_residual_recall_oracle(k: int = 5) -> str:
    """Both IVF-PQ encodings' recall vs the exact cosine top-k, shared
    ground truth — one arm nests the certified by_residual=false oracle,
    the other the by_residual=true oracle."""
    variants = {
        "plain": _ivfpq_oracle(k=k),
        "residual": _ivfpq_residual_oracle(k=k),
    }
    p_ctes = ",\n    ".join(
        f"p_{v} AS (SELECT query_id, neighbor_id FROM ({sql}) t)"
        for v, sql in variants.items()
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT '{v}' AS variant,"
        f" CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,"
        f" CAST((SELECT COUNT(*) FROM p_{v} p JOIN exact b"
        f" USING (query_id, neighbor_id)) AS BIGINT) AS n_matched"
        for v in variants
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored) t WHERE rank <= {k}),
    {p_ctes}
    SELECT variant, n_exact, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_exact, 4) AS recall
    FROM ({arms})
    """


@query(
    "emb_pq_residual_recall_report",
    _ivfpq_residual_recall_oracle(),
    tags=("llm", "ann", "ivf", "pq", "eval", "quality"),
)
def emb_pq_residual_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOES residual encoding help HERE? — recall of
    [[emb_ann_topk_ivfpq]] (by_residual=false) vs
    [[emb_ann_topk_ivfpq_residual]] (by_residual=true) against the
    exact cosine top-5, shared ground truth: the instrument that turns
    the residual variant's finer-resolution claim into a measured
    number on the corpus at hand (on near-uniform synthetic embeddings
    the gap can be small or inverted — which is exactly why a pipeline
    measures before picking an encoding). Exact GT computed once; both
    arms run the certified searches."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    exact = (
        SIM.cosine_topk(e, probes, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    n_exact = exact.count()
    arms = {
        "plain": lambda: PQ.pq_topk_ivf(
            e, probes, k=5, n_centroids=16, nprobe=4,
            m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        ),
        "residual": lambda: PQ.pq_topk_ivf_residual(
            e, probes, k=5, n_centroids=16, nprobe=4,
            m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        ),
    }
    def _arm(v, fn):
        matched = (
            fn().select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .count()
        )
        recall = round(matched / n_exact, 4) if n_exact else None
        return (v, n_exact, matched, recall)

    # both arms are independent searches over the materialized ground
    # truth — overlap their job chains (guide §2.6)
    rows = run_jobs([
        (lambda v=v, fn=fn: _arm(v, fn)) for v, fn in arms.items()
    ])
    return local_df(
        spark, rows,
        "variant string, n_exact long, n_matched long, recall double",
    )


# -- trained PQ codebooks (r9 verdict item 2) -----------------------------


def _pq_svec_dist_sql(a: str, b: str, w: int = _PQ_SUB) -> str:
    """Integer-micro squared-L2 over two whole sub-vectors — the SQL
    mirror of operators/pq._sub_dist and of the Catalyst sub-vector
    distance reference in tests/test_pq_fit_kernels.py (same fold, same
    floor kernel)."""
    diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"CAST(FLOOR(list_reduce(list_transform(range(1, {w + 1}),"
        f" i -> {diff} * {diff}), (x, y) -> x + y) * 1e6 + 0.5) AS BIGINT)"
    )


def _pq_fit_ctes(
    src: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    k_sub: int = _PQ_KSUB,
    n_iter: int = 2,
    prefix: str = "pf",
) -> tuple[str, str, str]:
    """Per-sub-space k-means codebook training as unrolled CTEs — the
    exact mirror of operators/pq.pq_fit: melted sub-vectors, seeds =
    first k_sub DISTINCT sub-vectors by min-id (cid = rank-1; see
    pq_fit's docstring for why distinctness is load-bearing on residual
    corpora), integer-micro argmin assignment with the (de6 ASC, cid
    ASC) tie-break, integer-micro-mean Lloyd update (exact int64 sums —
    order-independent, unlike a double AVG whose fold order can flip
    ROUND's last digit between engines). Returns (cte_block, subs_rel,
    final_cb_rel)."""
    p = prefix
    arms = " UNION ALL ".join(
        f"SELECT {id_col} AS sid, {s} AS s,"
        f" {vec_col}[{s * sub_dim + 1}:{(s + 1) * sub_dim}] AS svec"
        f" FROM {src}"
        for s in range(m)
    )
    dist = _pq_svec_dist_sql("v.svec", "c.cvec", sub_dim)
    parts = [
        f"{p}subs AS ({arms})",
        f"""{p}cb0 AS (SELECT s, rk - 1 AS cid, svec AS cvec FROM (
          SELECT s, svec, ROW_NUMBER() OVER (PARTITION BY s
                   ORDER BY mid) AS rk
          FROM (SELECT s, svec, MIN(sid) AS mid FROM {p}subs
                GROUP BY s, svec) t) t2 WHERE rk <= {k_sub})""",
    ]
    for it in range(n_iter):
        parts.append(
            f"""{p}a{it} AS (SELECT sid, s, cid FROM (
          SELECT v.sid, v.s, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY v.sid, v.s
                   ORDER BY {dist} ASC, c.cid ASC) AS rn
          FROM {p}subs v JOIN {p}cb{it} c ON v.s = c.s) t WHERE rn = 1)"""
        )
        parts.append(
            f"""{p}cb{it + 1} AS (
          SELECT s, cid, list(mv ORDER BY i) AS cvec FROM (
            SELECT a.s, a.cid, i,
                   CAST(FLOOR(CAST(SUM(CAST(FLOOR(
                     CAST(v.svec[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
                     AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) / 1e6 AS mv
            FROM {p}a{it} a JOIN {p}subs v
              ON v.sid = a.sid AND v.s = a.s,
                 range(1, {sub_dim + 1}) r(i)
            GROUP BY a.s, a.cid, i) t GROUP BY s, cid)"""
        )
    return ",\n    ".join(parts), f"{p}subs", f"{p}cb{n_iter}"


def _pq_trainedcb_topk_oracle(k: int = 5, n_iter: int = 2) -> str:
    """ADC top-k over trained codebooks — pq_topk's certified search
    body with _pq_fit_ctes' codebook relation in place of pqseeds."""
    fit, subs, cb = _pq_fit_ctes(n_iter=n_iter)
    dist = _pq_svec_dist_sql("v.svec", "c.cvec")
    return f"""
    WITH {fit},
    tcodes AS (SELECT sid AS nid, s, cid AS code FROM (
        SELECT v.sid, v.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.sid, v.s
                 ORDER BY {dist} ASC, c.cid ASC) AS rn
        FROM {subs} v JOIN {cb} c ON v.s = c.s) t WHERE rn = 1),
    qd AS (SELECT v.sid AS query_id, v.s, c.cid AS code,
                  {dist} AS de6
           FROM {subs} v JOIN {cb} c ON v.s = c.s WHERE v.sid < 10),
    cand AS (
      SELECT d.query_id, p.nid AS neighbor_id,
             CAST(SUM(d.de6) AS DOUBLE) / 1e6 AS score
      FROM tcodes p JOIN qd d ON d.s = p.s AND d.code = p.code
      WHERE p.nid <> d.query_id
      GROUP BY 1, 2),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score ASC, neighbor_id ASC) AS BIGINT) AS rank
          FROM cand)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query(
    "emb_ann_topk_pq_trainedcb",
    _pq_trainedcb_topk_oracle(),
    tags=("llm", "ann", "pq", "quantization", "clustering"),
)
def emb_ann_topk_pq_trainedcb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-5 over TRAINED sub-quantizer codebooks
    (operators/pq.pq_fit + pq_topk_trained — FAISS
    ProductQuantizer::train, r9 verdict item 2): per-sub-space k-means
    (k_sub=16, 2 Lloyd iterations, all 4 sub-spaces trained together in
    one narrow numpy pass per iteration) replaces the seeded codebook of
    [[emb_ann_topk_pq]]; the ADC search body (driver-built query tables,
    one numpy scoring pass over the codes, integer-micro sum) is
    unchanged. Training is a
    build-side job amortized across every future query; at 100 TB the
    fit runs on a bounded corpus sample (FAISS's own convention)."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_topk_trained(
        e, e.filter(F.col("vec_id") < 10),
        k=5, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB, n_iter=2,
    )


def _ivfpq_residual_trainedcb_oracle(
    n_centroids: int = 16, nprobe: int = 4, k: int = 5, n_iter: int = 2,
    src: str = "embeddings",
) -> str:
    """Residual IVF-PQ with a TRAINED residual codebook: the certified
    residual front half (cells, residuals, per-probe query residuals —
    verbatim from _ivfpq_residual_oracle) feeding _pq_fit_ctes trained
    ON the residual relation, then the per-cell ADC tail."""
    cos_ec = _cosine_sql("e.embedding", "c.cvec")
    rsub = "list_transform(range(1, {d}), i -> CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))".format
    fit, subs, cb = _pq_fit_ctes(
        src="res", id_col="nid", vec_col="rvec", n_iter=n_iter, prefix="rf"
    )
    dist = _pq_svec_dist_sql("v.svec", "c.cvec")
    # melt the query residuals: the trained codebook entry is ALREADY a
    # sub_dim-slice, so the distance is whole-sub-vector vs
    # whole-sub-vector (_pq_subdist_sql would slice the codebook entry
    # at offset s — out of range for s > 0)
    qsub_arms = " UNION ALL ".join(
        f"SELECT query_id, cell, {s} AS s,"
        f" rvec[{s * _PQ_SUB + 1}:{(s + 1) * _PQ_SUB}] AS svec FROM qres"
        for s in range(_PQ_M)
    )
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
                   FROM {src} WHERE vec_id < {n_centroids}),
    asg AS (SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql(cos_ec)}
                   DESC, c.cid ASC) AS rn
        FROM {src} e CROSS JOIN cents c) t WHERE rn = 1),
    res AS (SELECT a.vec_id AS nid, a.cell,
                   {rsub(d=_DIM + 1, a="e.embedding", b="c.cvec")} AS rvec
            FROM asg a JOIN {src} e USING (vec_id)
            JOIN cents c ON a.cell = c.cid),
    {fit},
    tcodes AS (SELECT sid AS nid, s, cid AS code FROM (
        SELECT v.sid, v.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.sid, v.s
                 ORDER BY {dist} ASC, c.cid ASC) AS rn
        FROM {subs} v JOIN {cb} c ON v.s = c.s) t WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql(cos_ec)}
                   DESC, c.cid ASC) AS rn
        FROM {src} e CROSS JOIN cents c WHERE e.vec_id < 10) t
        WHERE rn <= {nprobe}),
    qres AS (SELECT p.query_id, p.cell,
                    {rsub(d=_DIM + 1, a="e.embedding", b="c.cvec")} AS rvec
             FROM qprobe p JOIN {src} e ON e.vec_id = p.query_id
             JOIN cents c ON p.cell = c.cid),
    qsubs AS ({qsub_arms}),
    qd AS (SELECT v.query_id, v.cell, c.cid AS code, v.s,
                  {dist} AS de6
           FROM qsubs v JOIN {cb} c ON v.s = c.s),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.cell
             FROM qprobe p JOIN asg a ON p.cell = a.cell
             WHERE a.vec_id <> p.query_id),
    adc AS (SELECT c.query_id, c.neighbor_id,
                   CAST(SUM(d.de6) AS DOUBLE) / 1e6 AS score
            FROM cand c
            JOIN tcodes p ON p.nid = c.neighbor_id
            JOIN qd d ON d.query_id = c.query_id AND d.cell = c.cell
                     AND d.s = p.s AND d.code = p.code
            GROUP BY 1, 2),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score ASC, neighbor_id ASC) AS BIGINT) AS rank
          FROM adc)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query(
    "emb_ann_topk_ivfpq_residual_trainedcb",
    _ivfpq_residual_trainedcb_oracle(),
    tags=("llm", "ann", "ivf", "pq", "clustering"),
)
def emb_ann_topk_ivfpq_residual_trainedcb(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Residual IVF-PQ with a TRAINED sub-quantizer codebook
    (operators/pq.pq_topk_ivf_residual_trained) — the full
    FAISS-faithful IndexIVFPQ composition: by_residual=true (the FAISS
    default, [[emb_ann_topk_ivfpq_residual]]) PLUS
    ProductQuantizer::train over the residual distribution. The r9
    recall instrument attributed residual PQ's 0.04-vs-0.18 loss to
    the residual-SEEDED codebook; the mechanism turned out even
    sharper: under the seeded coarse quantizer the first k_sub
    residuals are all the ZERO vector, so the seeded residual codebook
    is degenerate (one effective codeword, constant ADC scores).
    pq_fit's distinct-first-k seeding + Lloyd training is the fix this
    instrument called for — [[emb_pq_codebook_recall_report]] measures
    the before/after."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_topk_ivf_residual_trained(
        e, e.filter(F.col("vec_id") < 10),
        k=5, n_centroids=16, nprobe=4,
        m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB, n_iter=2,
    )


def _pq_codebook_recall_oracle(k: int = 5) -> str:
    """Seeded-vs-trained codebook recall, four arms sharing one exact
    cosine ground truth: plain ADC (seeded / trained codebooks) and
    residual IVF-PQ (seeded / trained codebooks)."""
    variants = {
        "pq_seeded": _pq_topk_oracle(k=k),
        "pq_trained": _pq_trainedcb_topk_oracle(k=k),
        "residual_seeded": _ivfpq_residual_oracle(k=k),
        "residual_trained": _ivfpq_residual_trainedcb_oracle(k=k),
    }
    p_ctes = ",\n    ".join(
        f"p_{v} AS (SELECT query_id, neighbor_id FROM ({sql}) t)"
        for v, sql in variants.items()
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT '{v}' AS variant,"
        f" CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,"
        f" CAST((SELECT COUNT(*) FROM p_{v} p JOIN exact b"
        f" USING (query_id, neighbor_id)) AS BIGINT) AS n_matched"
        for v in variants
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({_cosine_sql("q.q_vec", "c.embedding")}, 6) AS score
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored) t WHERE rank <= {k}),
    {p_ctes}
    SELECT variant, n_exact, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_exact, 4) AS recall
    FROM ({arms})
    ORDER BY variant
    """


@query(
    "emb_pq_codebook_recall_report",
    _pq_codebook_recall_oracle(),
    tags=("llm", "ann", "pq", "eval", "quality", "clustering"),
)
def emb_pq_codebook_recall_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOES codebook training pay? — the seeded-vs-trained arms the r9
    verdict asked for: recall of plain ADC ([[emb_ann_topk_pq]] vs
    [[emb_ann_topk_pq_trainedcb]]) and residual IVF-PQ
    ([[emb_ann_topk_ivfpq_residual]] vs
    [[emb_ann_topk_ivfpq_residual_trainedcb]]) against the exact
    cosine top-5, one shared ground truth. The residual pair is the
    headline: the seeded residual codebook is degenerate (all-zero
    seeds under the seeded coarse quantizer), so this instrument
    measures the recall the trained codebook buys back."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    exact = (
        SIM.cosine_topk(e, probes, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    n_exact = exact.count()
    arms = {
        "pq_seeded": lambda: PQ.pq_topk(
            e, probes, k=5, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        ),
        "pq_trained": lambda: PQ.pq_topk_trained(
            e, probes, k=5, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
            n_iter=2,
        ),
        "residual_seeded": lambda: PQ.pq_topk_ivf_residual(
            e, probes, k=5, n_centroids=16, nprobe=4,
            m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        ),
        "residual_trained": lambda: PQ.pq_topk_ivf_residual_trained(
            e, probes, k=5, n_centroids=16, nprobe=4,
            m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB, n_iter=2,
        ),
    }
    def _arm(v, fn):
        matched = (
            fn().select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .count()
        )
        recall = round(matched / n_exact, 4) if n_exact else None
        return (v, n_exact, matched, recall)

    # the four arms are independent fit+search chains over the shared
    # materialized ground truth — overlap them (guide §2.6)
    rows = run_jobs([
        (lambda v=v, fn=fn: _arm(v, fn)) for v, fn in sorted(arms.items())
    ])
    return local_df(
        spark, rows,
        "variant string, n_exact long, n_matched long, recall double",
    )


# -- persisted-index search certification (r9 verdict item 3) -------------


@query(
    "emb_ann_topk_ivf_persisted",
    _ivf_trained_oracle(),
    tags=("llm", "ann", "ivf", "clustering", "index"),
)
def emb_ann_topk_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over a LOADED persisted index (operators/index_store):
    fit the coarse quantizer ([[emb_ann_topk_ivf_trained]]'s kmeans),
    build the cell relation once (ivf_build_cells), SAVE it — cells
    partitioned on the ``cell`` pruning key, centroids alongside, plus
    the _PARTS marker — then LOAD it back and run the search entirely
    over the loaded relations. The oracle is the in-memory trained-IVF
    search's oracle verbatim: save -> load -> search must be
    bit-identical to never having touched disk, which turns the
    index_store round-trip pytest into a driver-graded guarantee.

    At 100 TB the LOAD path is the production path: the index is built
    once per corpus version and every search session starts from these
    files; cell-partitioned parquet means a probed search lists and
    reads ~nprobe/C of the index files (partition pruning — asserted at
    plan level in tests/test_ivf_trained.py::
    test_persisted_cells_prune_to_probed_partitions)."""
    from etl_gardener_spark.operators.index_store import (
        load_ann_index,
        save_ann_index,
    )
    from etl_gardener_spark.plans.queries import _scratch

    e = load_table(spark, sf_dir, "embeddings")
    _final, cents = SIM.kmeans_fit(e, "vec_id", "embedding", k=16, n_iter=2)
    cells = SIM.ivf_build_cells(e, n_centroids=16, centroids=cents)
    d = _scratch("annidx")
    save_ann_index(d, cells, centroids=cents)
    idx = load_ann_index(spark, d)
    out = SIM.cosine_topk_ivf(
        e, e.filter(F.col("vec_id") < 10), k=5, nprobe=4,
        centroids=idx["centroids"], cells=idx["cells"],
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# -- IVF-PQ with exact re-rank (IndexRefineFlat) ---------------------------


def _ivfpq_refined_oracle(k: int = 5, refine_factor: int = 4) -> str:
    """IVF-PQ candidates (the certified oracle, k·refine_factor deep)
    re-ranked by EXACT integer-micro squared-L2 on the raw vectors —
    the SQL mirror of pq.pq_topk_ivf_refined's two stages."""
    refine_arms = " UNION ALL ".join(
        f"SELECT c.query_id, c.neighbor_id,"
        f" {_pq_subdist_sql('q.q_vec', 'e.embedding', s)} AS de6"
        f" FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id"
        f" JOIN pqq q ON q.query_id = c.query_id"
        for s in range(_PQ_M)
    )
    return f"""
    WITH pqq AS (SELECT vec_id AS query_id, embedding AS q_vec
                 FROM embeddings WHERE vec_id < 10),
    cand AS (SELECT query_id, neighbor_id
             FROM ({_ivfpq_oracle(k=k * refine_factor)}) t),
    ex AS (SELECT query_id, neighbor_id,
                  CAST(SUM(de6) AS DOUBLE) / 1e6 AS score
           FROM ({refine_arms}) GROUP BY 1, 2),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score ASC, neighbor_id ASC) AS BIGINT) AS rank
          FROM ex)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query(
    "emb_ann_topk_ivfpq_refined",
    _ivfpq_refined_oracle(),
    tags=("llm", "ann", "ivf", "pq"),
)
def emb_ann_topk_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with an exact re-rank tail
    (operators/pq.pq_topk_ivf_refined — FAISS's IndexRefineFlat, the
    standard production composition): [[emb_ann_topk_ivfpq]]'s
    cell-pruned ADC search runs 4x deeper (k·refine_factor candidates),
    then ONLY those candidates' raw vectors are fetched and re-ranked
    by exact squared-L2 on the same integer-micro grid. The exact tail
    is a point lookup bounded by k·refine_factor rows per query — the
    corpus-bounded work stays inside the compressed index, so the
    refine step costs O(queries · k · refine_factor) regardless of
    corpus size. Recall becomes candidate-coverage-bounded: ordering
    error from PQ quantization among the survivors is eliminated
    ([[emb_pq_refine_recall_report]] measures the lift)."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_topk_ivf_refined(
        e, e.filter(F.col("vec_id") < 10),
        k=5, refine_factor=4, n_centroids=16, nprobe=4,
        m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
    )


def _pq_refine_recall_oracle(k: int = 5) -> str:
    """Recall of IVF-PQ with and without the exact re-rank tail vs the
    exact-L2 top-k on the same integer grid — the _pq_recall_oracle
    pattern with the refined arm swapped in."""
    exact_arms = " UNION ALL ".join(
        f"SELECT q.query_id, c.vec_id AS neighbor_id,"
        f" {_pq_subdist_sql('q.q_vec', 'c.embedding', s)} AS de6"
        f" FROM embeddings c CROSS JOIN pqq q WHERE c.vec_id <> q.query_id"
        for s in range(_PQ_M)
    )
    return f"""
    WITH pqq AS (SELECT vec_id AS query_id, embedding AS q_vec
                 FROM embeddings WHERE vec_id < 10),
    exact_pairs AS (
      SELECT query_id, neighbor_id, SUM(de6) AS d
      FROM ({exact_arms}) GROUP BY 1, 2),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY d ASC, neighbor_id ASC) AS rk
        FROM exact_pairs) t WHERE rk <= {k}),
    ivfpqr AS (SELECT query_id, neighbor_id FROM ({_ivfpq_oracle(k=k)}) t),
    refr AS (SELECT query_id, neighbor_id
             FROM ({_ivfpq_refined_oracle(k=k)}) t),
    m AS (
      SELECT 'ivfpq' AS method,
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
             CAST((SELECT COUNT(*) FROM ivfpqr i JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT) AS n_matched
      UNION ALL
      SELECT 'ivfpq_refined',
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT),
             CAST((SELECT COUNT(*) FROM refr r JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT))
    SELECT method, n_exact, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_exact, 4) AS recall
    FROM m
    """


@query(
    "emb_pq_refine_recall_report",
    _pq_refine_recall_oracle(),
    tags=("llm", "ann", "pq", "eval", "quality"),
)
def emb_pq_refine_recall_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHAT does the exact re-rank tail buy? — recall of
    [[emb_ann_topk_ivfpq]] (pure ADC ordering) vs
    [[emb_ann_topk_ivfpq_refined]] (same candidate generation, exact
    ordering) against the exact-L2 top-5 on the same integer grid.
    Isolates the two loss sources of a compressed index: candidate
    coverage (shared by both arms — nprobe's territory) and
    quantization-induced ORDERING error (eliminated by refine). The
    production tuning rule this instrument grounds: buy recall with
    refine_factor before buying it with nprobe — the refine tail is
    O(k·refine_factor) point lookups per query, while nprobe scales
    the whole cell scan."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    kw = dict(m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB)
    exact = (
        PQ.exact_l2_topk(e, probes, k=5, m=_PQ_M, sub_dim=_PQ_SUB)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    codes = PQ.pq_encode(e, "vec_id", "embedding", **kw).localCheckpoint(
        eager=False
    )
    ivfpq = PQ.pq_topk_ivf(
        e, probes, k=5, n_centroids=16, nprobe=4, codes=codes, **kw
    ).select("query_id", "neighbor_id")
    refined = PQ.pq_topk_ivf_refined(
        e, probes, k=5, refine_factor=4, n_centroids=16, nprobe=4,
        codes=codes, **kw
    ).select("query_id", "neighbor_id")
    # materialize the shared inputs concurrently (ground truth + the
    # encode both arms search over), then overlap the arms (guide §2.6)
    n_exact, _ = run_jobs([exact.count, codes.count])

    def _arm(method, approx):
        matched = approx.join(exact, ["query_id", "neighbor_id"]).count()
        recall = round(matched / n_exact, 4) if n_exact else None
        return (method, n_exact, matched, recall)

    rows = run_jobs([
        lambda: _arm("ivfpq", ivfpq),
        lambda: _arm("ivfpq_refined", refined),
    ])
    return local_df(
        spark, rows,
        "method string, n_exact long, n_matched long, recall double"
    )


# -- curation chain with the decontam stage (round 10) ---------------------


def _curation_decontam_oracle(min_quality: float = 0.25) -> str:
    """Composes the certified stage oracles in the orchestrator's chain
    order with the decontam stage in the middle: scrub -> quality gate
    -> benchmark-gram drop (the doc_decontaminate oracle's hit logic at
    max_overlap = 0.0) -> exact dedup. Source 'src0' plays the held-out
    benchmark table, exactly as in [[doc_decontaminate]]."""
    redacted = SC.oracle_redact_sql("text")
    quality = (
        "FLOOR((0.4 * least(1.0, len(toks) / 100.0)"
        " + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
        " + 0.3 * (1 - CAST(length(text) - length(regexp_replace(lower(text),"
        " '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)))"
        " * 10000 + 0.5) / 10000"
    )
    return f"""
    WITH scrubbed AS (SELECT doc_id, {redacted} AS text
                      FROM documents WHERE source <> 'src0'),
    tokd AS (SELECT doc_id, text, {_TOKS} AS toks FROM scrubbed),
    gated AS (SELECT * FROM (SELECT *, {quality} AS quality FROM tokd)
              WHERE quality >= {min_quality}),
    bt AS (SELECT {_TOKS} AS toks FROM documents WHERE source = 'src0'),
    bg AS (SELECT DISTINCT unnest({_DECON_HASHES}) AS g FROM bt),
    tg AS (SELECT doc_id, unnest({_DECON_HASHES}) AS g FROM gated),
    hits AS (SELECT DISTINCT t.doc_id FROM tg t JOIN bg USING (g)),
    clean AS (SELECT * FROM gated
              WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
    exact AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
            ORDER BY doc_id) AS rn
        FROM clean) WHERE rn = 1)
    SELECT doc_id, md5(text) AS text_md5,
           CAST(len(toks) AS BIGINT) AS n_tokens, quality
    FROM exact
    """


@query(
    "corpus_curation_with_decontam",
    _curation_decontam_oracle(),
    tags=("llm", "curation", "pipeline", "decontamination", "quality"),
)
def corpus_curation_with_decontam(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curation chain with the DECONTAM stage composed in
    (orchestrator/curation.py `decontam`, r10): [[doc_scrub_pii]]'s
    redaction -> [[doc_quality_score]]'s gate (>= 0.25) ->
    [[doc_decontaminate]]'s benchmark-gram check at
    decontam_max_overlap = 0.0 (source 'src0' plays the benchmark
    table; any shared distinct 5-gram drops the doc; docs too short to
    shingle are unscorable and kept) -> exact dedup (min-id per
    normalized scrubbed text). The composition point the per-stage
    queries can't certify: decontam shingles the SCRUBBED text, so
    redaction tokens participate in gram identity exactly as the
    orchestrator stage sees them.

    100 TB shape: the benchmark-gram set is static eval data — tiny,
    distinct, broadcast; the corpus-side gram stream never shuffles for
    the check (one left-anti on doc_id after a map-side-combined
    per-doc hit count). Stages chain as one-scan passes like
    [[corpus_curation_pipeline]]."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0").select("doc_id", "text")
    corp = d.filter(F.col("source") != "src0").select("doc_id", "text")
    scrubbed = corp.select("doc_id", SC.redact("text").alias("text"))
    gated = (
        scrubbed.withColumn("quality", TX.quality_score("text"))
        .filter(F.col("quality") >= 0.25)
        .localCheckpoint(eager=True)
    )
    rep = CP.decontaminate(gated, bench, "text", "doc_id", n=_DECON_N)
    drops = rep.filter(F.col("overlap_frac") > 0.0).select("doc_id")
    clean = gated.join(drops, "doc_id", "left_anti")
    from pyspark.sql import Window

    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    w = Window.partitionBy(norm).orderBy(F.col("doc_id").asc())
    exact = (
        clean.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return exact.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        TX.token_count("text").cast("long").alias("n_tokens"),
        "quality",
    )


@query(
    "emb_ann_topk_ivfpq_persisted",
    _ivfpq_trained_oracle(),
    tags=("llm", "ann", "ivf", "pq", "clustering", "index"),
)
def emb_ann_topk_ivfpq_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Search over a LOADED persisted COMPRESSED index — the IVF-PQ twin
    of [[emb_ann_topk_ivf_persisted]]: fit the coarse quantizer
    ([[emb_ann_topk_ivfpq_trained]]'s kmeans), build the cell relation
    and the PQ code table once, SAVE all three index parts
    (operators/index_store: cells partitioned on the ``cell`` pruning
    key, centroids, codes, plus the _PARTS marker), then LOAD them back
    and run the search entirely over the loaded relations. The oracle
    is the in-memory trained-IVF-PQ search's oracle verbatim:
    save -> load -> search must be bit-identical to never touching
    disk.

    At 100 TB this IS the deployment: the m-bytes-per-vector code table
    and the cell assignment are the index artifacts (raw vectors are
    never read at search time), rebuilt only when ensure_ann_index's
    corpus fingerprint moves; a probed search reads ~nprobe/C of the
    cell files (partition pruning) plus the code table."""
    from etl_gardener_spark.operators import pq as PQ
    from etl_gardener_spark.operators.index_store import (
        load_ann_index,
        save_ann_index,
    )
    from etl_gardener_spark.plans.queries import _scratch

    e = load_table(spark, sf_dir, "embeddings")
    kw = dict(m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB)
    _final, cents = SIM.kmeans_fit(e, "vec_id", "embedding", k=16, n_iter=2)
    cells = SIM.ivf_build_cells(e, n_centroids=16, centroids=cents)
    codes = PQ.pq_encode(e, "vec_id", "embedding", **kw)
    d = _scratch("pqidx")
    save_ann_index(d, cells, centroids=cents, codes=codes)
    idx = load_ann_index(spark, d)
    return PQ.pq_topk_ivf(
        e, e.filter(F.col("vec_id") < 10),
        k=5, n_centroids=16, nprobe=4,
        codes=idx["codes"], centroids=idx["centroids"], cells=idx["cells"],
        **kw,
    )


# -- Hadamard-rotated PQ (the OPQ/random-rotation family) -------------------

_HAD_DIM = 64


def _hadamard_rot_cte(base: str = "embeddings", dim: int = _HAD_DIM) -> str:
    """The normalized Hadamard rotation as a SQL relation: the mirror of
    pq.hadamard_rotate (same left-assoc fold and the float-exact
    1/sqrt(dim) multiply for dim = 4^k). DuckDB's list_reduce starts at
    t0 where pq.hadamard_rotate starts at 0.0 + t0; the two differ only
    in the sign of an all-zero fold (-0.0 vs 0.0), which the downstream
    squared-difference distances do not see."""
    scale = 1.0 / (dim ** 0.5)
    return f"""rot AS (SELECT vec_id,
      list_transform(range(0, {dim}), i ->
        list_reduce(
          list_transform(range(0, {dim}), j ->
            CASE WHEN bit_count(CAST(i AS BIGINT) & CAST(j AS BIGINT))
                      % 2 = 0
                 THEN CAST({base}.embedding[j + 1] AS DOUBLE)
                 ELSE -CAST({base}.embedding[j + 1] AS DOUBLE) END),
          (a, b) -> a + b) * {scale!r}) AS embedding
      FROM {base})"""


def _pq_rot_ctes() -> str:
    """_pq_ctes with the base relation swapped to the rotated corpus:
    seeded codebook (first k_sub rotated vectors), per-sub-space arms,
    argmin codes — all over ``rot``."""
    arms = " UNION ALL ".join(
        f"SELECT e.vec_id, c.cid, {s} AS s,"
        f" {_pq_subdist_sql('e.embedding', 'c.cvec', s)} AS de6"
        f" FROM rot e CROSS JOIN rqseeds c"
        for s in range(_PQ_M)
    )
    return f"""{_hadamard_rot_cte()},
    rqseeds AS (SELECT vec_id AS cid, embedding AS cvec
                FROM rot WHERE vec_id < {_PQ_KSUB}),
    rsd AS ({arms}),
    rqcodes AS (
      SELECT vec_id, s, cid AS code, de6 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                  ORDER BY de6 ASC, cid ASC) AS rn FROM rsd) t
      WHERE rn = 1)"""


def _pq_hadamard_topk_oracle(k: int = 5) -> str:
    qd_arms = " UNION ALL ".join(
        f"SELECT q.query_id, c.cid AS code, {s} AS s,"
        f" {_pq_subdist_sql('q.q_vec', 'c.cvec', s)} AS de6"
        f" FROM rpqq q CROSS JOIN rqseeds c"
        for s in range(_PQ_M)
    )
    return f"""
    WITH {_pq_rot_ctes()},
    rpqq AS (SELECT vec_id AS query_id, embedding AS q_vec
             FROM rot WHERE vec_id < 10),
    rqd AS ({qd_arms}),
    cand AS (
      SELECT d.query_id, p.vec_id AS neighbor_id,
             CAST(SUM(d.de6) AS DOUBLE) / 1e6 AS score
      FROM rqcodes p JOIN rqd d ON d.s = p.s AND d.code = p.code
      WHERE p.vec_id <> d.query_id
      GROUP BY 1, 2),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score ASC, neighbor_id ASC) AS BIGINT) AS rank
          FROM cand)
    SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= {k}
    """


@query(
    "emb_ann_topk_pq_hadamard",
    _pq_hadamard_topk_oracle(),
    tags=("llm", "ann", "pq", "rotation"),
)
def emb_ann_topk_pq_hadamard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC search over HADAMARD-ROTATED vectors
    (operators/pq.hadamard_rotate + pq_topk) — the deterministic,
    oracle-exact stand-in for FAISS's pre-PQ random orthogonal rotation
    (OPQ / PCAR energy balancing): H mixes every input coordinate into
    every output coordinate with equal weight, so per-dimension
    variance spreads evenly across the m sub-spaces instead of letting
    one sub-space carry all the signal. The rotation is orthogonal —
    exact distances are preserved — so only the QUANTIZATION changes;
    [[emb_pq_hadamard_recall_report]] measures whether the balanced
    sub-spaces quantize better on this corpus. Codebook, codes, and
    search are the certified seeded-PQ machinery applied after the
    rotation (first-k_sub seeding now draws ROTATED seeds)."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    rot = PQ.hadamard_rotate(e, "embedding", _HAD_DIM).localCheckpoint(
        eager=False
    )
    return PQ.pq_topk(
        rot, rot.filter(F.col("vec_id") < 10),
        k=5, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
    )


_OPQ_NS = 40
_OPQ_SAMPLE = 256


def _opq_rot_ctes(
    ns_iter: int = _OPQ_NS,
    bound: int = _OPQ_SAMPLE,
    dim: int = _DIM,
    p: str = "opq",
) -> str:
    """The learned OPQ rotation as pure SQL — the exact mirror of
    operators/pq.opq_fit + opq_rotate (1 alternation): sample fit
    (_pq_fit_ctes), PQ reconstruction, integer-micro scatter X^T Yhat,
    Frobenius normalization, ``ns_iter`` unrolled Newton-Schulz steps
    (relational 64x64 matmuls — every product int64, every
    re-quantization the same FLOOR(CAST(int AS DOUBLE)/div + 0.5)
    kernel numpy applies), then the rotated corpus. Emits the CTE block
    ending in ``{p}rot`` (vec_id, embedding). Empty/degenerate samples
    fall back to the identity rotation via the fro = 0 CASE, exactly as
    _ns_polar_e6 does."""
    fit, subs, cb = _pq_fit_ctes(
        src=f"{p}samp", id_col="sid", vec_col="vec", prefix=f"{p}f"
    )
    dist = _pq_svec_dist_sql("v.svec", "c.cvec")
    micro = "CAST(FLOOR(CAST({x} AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
    parts = [
        f"""{p}samp AS MATERIALIZED (SELECT vec_id AS sid, embedding AS vec
        FROM embeddings WHERE vec_id < {bound}
          AND embedding IS NOT NULL AND len(embedding) = {dim})""",
        fit,
        f"""{p}codes AS MATERIALIZED (SELECT sid, s, cid FROM (
        SELECT v.sid, v.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.sid, v.s
                 ORDER BY {dist} ASC, c.cid ASC) AS rn
        FROM {subs} v JOIN {cb} c ON v.s = c.s) t WHERE rn = 1)""",
        f"""{p}yh AS MATERIALIZED (SELECT sid, flatten(list(ym ORDER BY s)) AS ym FROM (
        SELECT a.sid, a.s,
               list_transform(c.cvec, v -> {micro.format(x='v')}) AS ym
        FROM {p}codes a JOIN {cb} c ON a.s = c.s AND a.cid = c.cid) t
        GROUP BY sid)""",
        f"""{p}xm0 AS MATERIALIZED (SELECT sid,
          list_transform(vec, v -> {micro.format(x='v')}) AS xm
        FROM {p}samp)""",
        f"{p}n AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM {p}samp)",
        f"""{p}sc AS MATERIALIZED (SELECT r1.i AS i, r2.j AS j,
          SUM(x.xm[r1.i + 1] * y.ym[r2.j + 1]) AS sv
        FROM {p}xm0 x, {p}yh y, range(0, {dim}) r1(i), range(0, {dim}) r2(j)
        WHERE x.sid = y.sid GROUP BY r1.i, r2.j)""",
        f"""{p}mb AS MATERIALIZED (SELECT g.i, g.j,
          CASE WHEN n.cnt = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(FLOOR(CAST(COALESCE(s.sv, 0) AS DOUBLE)
                 / (CAST(n.cnt AS DOUBLE) * 1e6) + 0.5) AS BIGINT) END AS v
        FROM (SELECT r1.i AS i, r2.j AS j
              FROM range(0, {dim}) r1(i), range(0, {dim}) r2(j)) g
        LEFT JOIN {p}sc s ON s.i = g.i AND s.j = g.j CROSS JOIN {p}n n)""",
        f"""{p}fro AS MATERIALIZED (SELECT CAST(FLOOR(SQRT(CAST(SUM(v * v) AS DOUBLE))
          + 0.5) AS BIGINT) AS fro FROM {p}mb)""",
        f"""{p}y0 AS MATERIALIZED (SELECT m.i, m.j,
          CASE WHEN f.fro = 0 THEN
                 CASE WHEN m.i = m.j THEN CAST(1000000 AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END
               ELSE CAST(FLOOR(CAST(m.v AS DOUBLE) * 1e6
                 / CAST(f.fro AS DOUBLE) + 0.5) AS BIGINT)
                 + CASE WHEN m.i = m.j THEN 10000 ELSE 0 END END AS v
        FROM {p}mb m CROSS JOIN {p}fro f)""",
    ]
    for t in range(ns_iter):
        parts.append(
            f"""{p}z{t} AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
          CAST(FLOOR(CAST(SUM(a.v * b.v) AS DOUBLE) / 1e6 + 0.5)
            AS BIGINT) AS v
        FROM {p}y{t} a, {p}y{t} b WHERE a.j = b.j GROUP BY a.i, b.i)"""
        )
        parts.append(
            f"""{p}w{t} AS MATERIALIZED (SELECT z.i AS i, y.j AS j,
          CAST(FLOOR(CAST(SUM(z.v * y.v) AS DOUBLE) / 1e6 + 0.5)
            AS BIGINT) AS v
        FROM {p}z{t} z, {p}y{t} y WHERE z.j = y.i GROUP BY z.i, y.j)"""
        )
        parts.append(
            f"""{p}y{t + 1} AS MATERIALIZED (SELECT y.i, y.j,
          CAST(FLOOR(CAST(3 * y.v - w.v AS DOUBLE) / 2 + 0.5)
            AS BIGINT) AS v
        FROM {p}y{t} y JOIN {p}w{t} w ON y.i = w.i AND y.j = w.j)"""
        )
    parts.append(
        f"""{p}r AS MATERIALIZED (SELECT list(row ORDER BY i) AS R FROM (
        SELECT i, list(v ORDER BY j) AS row FROM {p}y{ns_iter}
        GROUP BY i) t)"""
    )
    parts.append(
        f"""{p}xm AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, v -> {micro.format(x='v')}) AS xm
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {dim})"""
    )
    parts.append(
        f"""{p}rot AS MATERIALIZED (SELECT x.vec_id,
          list_transform(range(0, {dim}), j ->
            CAST(CAST(FLOOR(CAST(list_reduce(
              list_transform(range(0, {dim}), i ->
                x.xm[i + 1] * r.R[i + 1][j + 1]),
              (a, b) -> a + b) AS DOUBLE) / 1e6 + 0.5) AS BIGINT)
              AS DOUBLE) / 1e6) AS embedding
        FROM {p}xm x CROSS JOIN {p}r r)"""
    )
    return ",\n    ".join(parts)


def _opq_topk_oracle(k: int = 5) -> str:
    """OPQ ADC top-k: the learned-rotation CTE chain feeding the
    certified trained-codebook search tail (fit on the rotated corpus,
    argmin codes, per-query table, integer-micro ADC sum)."""
    rot = _opq_rot_ctes()
    fit, subs, cb = _pq_fit_ctes(
        src="opqrot", id_col="vec_id", vec_col="embedding", prefix="oq"
    )
    dist = _pq_svec_dist_sql("v.svec", "c.cvec")
    return f"""
    WITH {rot},
    {fit},
    oqtcodes AS (SELECT sid AS nid, s, cid AS code FROM (
        SELECT v.sid, v.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.sid, v.s
                 ORDER BY {dist} ASC, c.cid ASC) AS rn
        FROM {subs} v JOIN {cb} c ON v.s = c.s) t WHERE rn = 1),
    oqqd AS (SELECT v.sid AS query_id, v.s, c.cid AS code,
                  {dist} AS de6
           FROM {subs} v JOIN {cb} c ON v.s = c.s WHERE v.sid < 10),
    oqcand AS (
      SELECT d.query_id, p.nid AS neighbor_id,
             CAST(SUM(d.de6) AS DOUBLE) / 1e6 AS score
      FROM oqtcodes p JOIN oqqd d ON d.s = p.s AND d.code = p.code
      WHERE p.nid <> d.query_id
      GROUP BY 1, 2),
    oqr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score ASC, neighbor_id ASC) AS BIGINT) AS rank
          FROM oqcand)
    SELECT query_id, neighbor_id, score, rank FROM oqr WHERE rank <= {k}
    """



def _pq_hadamard_recall_oracle(k: int = 5) -> str:
    """Plain seeded PQ vs Hadamard-rotated PQ, one shared exact-L2 GT
    on the RAW vectors (the rotation preserves exact distances, so raw
    GT is the right yardstick for both arms)."""
    exact_arms = " UNION ALL ".join(
        f"SELECT q.query_id, c.vec_id AS neighbor_id,"
        f" {_pq_subdist_sql('q.q_vec', 'c.embedding', s)} AS de6"
        f" FROM embeddings c CROSS JOIN pqq q WHERE c.vec_id <> q.query_id"
        for s in range(_PQ_M)
    )
    return f"""
    WITH pqq AS (SELECT vec_id AS query_id, embedding AS q_vec
                 FROM embeddings WHERE vec_id < 10),
    exact_pairs AS (
      SELECT query_id, neighbor_id, SUM(de6) AS d
      FROM ({exact_arms}) GROUP BY 1, 2),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY d ASC, neighbor_id ASC) AS rk
        FROM exact_pairs) t WHERE rk <= {k}),
    plainr AS (SELECT query_id, neighbor_id
               FROM ({_pq_topk_oracle(k)}) t),
    hadr AS (SELECT query_id, neighbor_id
             FROM ({_pq_hadamard_topk_oracle(k)}) t),
    opqr AS (SELECT query_id, neighbor_id
             FROM ({_opq_topk_oracle(k)}) t),
    m AS (
      SELECT 'pq_plain' AS method,
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
             CAST((SELECT COUNT(*) FROM plainr p JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT) AS n_matched
      UNION ALL
      SELECT 'pq_hadamard',
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT),
             CAST((SELECT COUNT(*) FROM hadr h JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT)
      UNION ALL
      SELECT 'pq_opq',
             CAST((SELECT COUNT(*) FROM exact) AS BIGINT),
             CAST((SELECT COUNT(*) FROM opqr o JOIN exact b
                   USING (query_id, neighbor_id)) AS BIGINT))
    SELECT method, n_exact, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_exact, 4) AS recall
    FROM m
    """


@query(
    "emb_pq_hadamard_recall_report",
    _pq_hadamard_recall_oracle(),
    tags=("llm", "ann", "pq", "rotation", "eval", "quality"),
)
def emb_pq_hadamard_recall_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOES the rotation pay? — recall of plain seeded PQ
    ([[emb_ann_topk_pq]]) vs Hadamard-rotated PQ
    ([[emb_ann_topk_pq_hadamard]]) vs OPQ-rotated trained PQ
    ([[emb_ann_topk_pq_opq]], the r11 learned-rotation arm) against
    the exact-L2 top-5 on the RAW vectors (legitimate shared GT: the
    rotations are orthogonal, so every arm chases the same true
    neighbors). FAISS applies OPQ / random rotation by default ahead
    of PQ on real embedding distributions, where variance concentrates
    in a few directions; a near-uniform synthetic corpus is the null
    case — measure before picking, the codebook-report discipline.
    At tiny k x 10 queries each recall step is ~2 pairs, so the arm
    ordering here is noisy — [[emb_pq_opq_mse_report]] measures the
    rotation on its actual objective instead."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    kw = dict(m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB)
    exact = (
        PQ.exact_l2_topk(e, probes, k=5, m=_PQ_M, sub_dim=_PQ_SUB)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    plain = PQ.pq_topk(e, probes, k=5, **kw).select(
        "query_id", "neighbor_id"
    )
    rot = PQ.hadamard_rotate(e, "embedding", _HAD_DIM).localCheckpoint(
        eager=False
    )
    had = PQ.pq_topk(
        rot, rot.filter(F.col("vec_id") < 10), k=5, **kw
    ).select("query_id", "neighbor_id")
    n_exact = exact.count()

    def _match(method, approx):
        matched = approx.join(exact, ["query_id", "neighbor_id"]).count()
        recall = round(matched / n_exact, 4) if n_exact else None
        return (method, n_exact, matched, recall)

    def _opq_arm():
        # pq_topk_opq runs the opq_fit alternation at CONSTRUCTION time
        # (driver-side collects), so the whole build lives in this
        # thunk and the cheap arms back-fill around it (guide §2.6)
        opq = PQ.pq_topk_opq(
            e, probes, k=5, dim=_HAD_DIM, n_iter=2, n_opq_iter=1,
            ns_iter=_OPQ_NS, sample_bound=_OPQ_SAMPLE, **kw
        ).select("query_id", "neighbor_id")
        return _match("pq_opq", opq)

    rows = run_jobs([
        lambda: _match("pq_plain", plain),
        lambda: _match("pq_hadamard", had),
        _opq_arm,
    ])
    return local_df(
        spark, rows,
        "method string, n_exact long, n_matched long, recall double"
    )


# -- curation chain with the semantic_dedup stage (round 11) ---------------


def _curation_semdedup_oracle(
    min_quality: float = 0.25,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.4,
) -> str:
    """Composes the certified stage oracles in the orchestrator's chain
    order with the SemDeDup stage at the end: scrub -> quality gate ->
    exact dedup -> k-means (first_k seeding over the CURATED ids — the
    stage's string-id-safe seeding, here replayed on the curated
    survivor set) -> within-cluster smaller-id cosine drop. The k-means
    CTEs train on `vec_id IN cur` and the final assignment/dup logic is
    restricted to curated vectors, mirroring kmeans_fit(scored) +
    semantic_dedup_with_centroids(scored) in the stage body."""
    redacted = SC.oracle_redact_sql("text")
    quality = (
        "FLOOR((0.4 * least(1.0, len(toks) / 100.0)"
        " + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
        " + 0.3 * (1 - CAST(length(text) - length(regexp_replace(lower(text),"
        " '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)))"
        " * 10000 + 0.5) / 10000"
    )
    ctes, fin = _kmeans_ctes(
        k,
        n_iter,
        train_where="vec_id IN (SELECT vec_id FROM cur)",
        seed="first_k",
    )
    cos_xy = _cosine_sql("x.embedding", "y.embedding")
    return f"""
    WITH scr AS (SELECT doc_id, {redacted} AS text FROM documents),
    tokd AS (SELECT doc_id, text, {_TOKS} AS toks FROM scr),
    gated AS (SELECT * FROM (SELECT *, {quality} AS quality FROM tokd)
              WHERE quality >= {min_quality}),
    exact AS (SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
            PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
            ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1),
    cur AS (SELECT doc_id AS vec_id FROM exact),
    {ctes},
    av AS (SELECT a.vec_id, a.cid, e.embedding
           FROM {fin} a JOIN embeddings e USING (vec_id)
           JOIN cur USING (vec_id)),
    dups AS (SELECT DISTINCT x.vec_id
             FROM av x JOIN av y ON x.cid = y.cid AND y.vec_id < x.vec_id
             WHERE ROUND({cos_xy}, 6) >= {threshold})
    SELECT a.vec_id AS doc_id, a.cid AS cluster_id, d.vec_id IS NULL AS keep
    FROM av a LEFT JOIN dups d USING (vec_id)
    """


@query(
    "corpus_curation_with_semdedup",
    _curation_semdedup_oracle(),
    tags=("llm", "curation", "pipeline", "dedup", "clustering"),
)
def corpus_curation_with_semdedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curation chain with the SEMANTIC_DEDUP stage composed in
    (orchestrator/curation.py `semantic_dedup`, r11 — the SemDeDup
    pass a curation user runs after text-level dedup):
    [[doc_scrub_pii]]'s redaction -> [[doc_quality_score]]'s gate
    (>= 0.25) -> exact dedup (min-id per normalized scrubbed text) ->
    [[emb_semantic_dedup]]'s within-cluster cosine drop over the
    CURATED survivors' embeddings, with the stage's exact kernel:
    kmeans_fit(seed='first_k', k=8, 2 iters) on the curated vectors,
    then semantic_dedup_with_centroids routing the same vectors to the
    fitted centroids. Output: one row per scored curated doc
    (doc_id, cluster_id, keep) — keep=false marks semantic duplicates
    the stage would drop. The composition point the per-stage queries
    can't certify: the clustering is trained on the curated SUBSET
    (text-gating changes the seed set and the centroid means), exactly
    what the stage sees per day partition.

    100 TB shape: the text stages are the one-scan chain of
    [[corpus_curation_pipeline]]; the semantic stage is a broadcast
    centroid assignment + per-cluster GEMM (sum(|cluster|^2), never
    |corpus|^2) — the stage's own scale story, unchanged by the
    composition."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scrubbed = d.select("doc_id", SC.redact("text").alias("text"))
    gated = scrubbed.withColumn(
        "quality", TX.quality_score("text")
    ).filter(F.col("quality") >= 0.25)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    w = Window.partitionBy(norm).orderBy(F.col("doc_id").asc())
    cur = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("doc_id").alias("vec_id"))
        .localCheckpoint(eager=True)
    )
    e = load_table(spark, sf_dir, "embeddings")
    ce = e.join(cur, "vec_id").select("vec_id", "embedding")
    _assign, cents = SIM.kmeans_fit(
        ce, "vec_id", "embedding", k=8, n_iter=2, seed="first_k"
    )
    rep = SIM.semantic_dedup_with_centroids(
        ce, cents, "vec_id", "embedding", threshold=0.4
    )
    return rep.select(
        F.col("vec_id").alias("doc_id"), "cluster_id", "keep"
    )


# -- OPQ: learned rotation (r10 verdict item 4) ---------------------------

@query(
    "emb_ann_topk_pq_opq",
    _opq_topk_oracle(),
    tags=("llm", "ann", "pq", "rotation", "clustering"),
)
def emb_ann_topk_pq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-5 under a LEARNED rotation — OPQ proper (Ge et al.
    CVPR 2013; FAISS OPQMatrix; operators/pq.opq_fit + pq_topk_opq),
    upgrading the fixed Hadamard rotation of [[emb_ann_topk_pq_hadamard]]
    to the data-trained one: alternate PQ codebook fitting with the
    orthogonal Procrustes update R = UV^T of the scatter X^T Yhat,
    computed as the scatter's POLAR factor via integer-micro
    Newton-Schulz iteration (40 unrolled 64x64 matmul steps on the
    exact 1e-6 grid) so the oracle replays the whole fit bit-for-bit —
    FAISS reaches the same factor via driver SVD; the NS form is the
    deterministic, SQL-expressible equivalent. Rotation trains on the
    id-bounded sample (FAISS's bounded-training convention), then both
    relations rotate on the exact integer grid and the certified
    trained-codebook ADC search runs unchanged.
    [[emb_pq_hadamard_recall_report]] carries the recall arm;
    [[emb_pq_opq_mse_report]] measures the quantization-MSE objective
    OPQ actually minimizes."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_topk_opq(
        e, e.filter(F.col("vec_id") < 10),
        k=5, dim=_DIM, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        n_iter=2, n_opq_iter=1, ns_iter=_OPQ_NS, sample_bound=_OPQ_SAMPLE,
    )


def _opq_mse_oracle() -> str:
    """Per-arm PQ quantization MSE — trained codebook on the raw,
    Hadamard-rotated, and OPQ-rotated corpus. MSE is the mean over
    vectors of the summed chosen sub-space micro-distances (the exact
    integer reconstruction error the fit minimizes)."""
    arms = {}
    for name, src, pfx in (
        ("trained", "embeddings", "ma"),
        ("hadamard_trained", "rot", "mb"),
        ("opq_trained", "opqrot", "mc"),
    ):
        fit, subs, cb = _pq_fit_ctes(src=src, prefix=pfx)
        dist = _pq_svec_dist_sql("v.svec", "c.cvec")
        arms[name] = (
            fit,
            f"""{pfx}err AS (SELECT SUM(de6) AS tot,
              COUNT(DISTINCT sid) AS nv FROM (
            SELECT v.sid, v.s, {dist} AS de6,
                   ROW_NUMBER() OVER (PARTITION BY v.sid, v.s
                     ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM {subs} v JOIN {cb} c ON v.s = c.s) t WHERE rn = 1)""",
        )
    fits = ",\n    ".join(f + ",\n    " + e for f, e in arms.values())
    sel = "\n      UNION ALL ".join(
        f"SELECT '{name}' AS method,"
        f" CAST(COALESCE(nv, 0) AS BIGINT) AS n_vectors,"
        f" CASE WHEN COALESCE(nv, 0) = 0 THEN NULL"
        f" ELSE FLOOR(CAST(tot AS DOUBLE) / 1e6 / nv * 1e6 + 0.5) / 1e6 END AS mse"
        f" FROM {pfx}err"
        for (name, _, pfx), (_, _e) in zip(
            (
                ("trained", "embeddings", "ma"),
                ("hadamard_trained", "rot", "mb"),
                ("opq_trained", "opqrot", "mc"),
            ),
            arms.values(),
        )
    )
    return f"""
    WITH {_hadamard_rot_cte()},
    {_opq_rot_ctes()},
    {fits}
    SELECT method, n_vectors, mse FROM ({sel}) ORDER BY method
    """


@query(
    "emb_pq_opq_mse_report",
    _opq_mse_oracle(),
    tags=("llm", "ann", "pq", "rotation", "eval", "quality"),
)
def emb_pq_opq_mse_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOES the learned rotation optimize its own objective? — PQ
    quantization MSE (mean per-vector reconstruction error, the
    quantity OPQ's alternating minimization provably decreases) for a
    trained codebook over the raw corpus, the Hadamard-rotated corpus,
    and the OPQ-rotated corpus. Recall at tiny k on a 500-vector
    synthetic corpus is a noisy instrument (a 0.04 recall step is two
    pairs); the MSE is the objective itself — at sf0.01 OPQ lowers it
    where the fixed Hadamard rotation does not (0.739 -> 0.716 vs
    0.743), matching the FAISS expectation that learned beats fixed
    rotation on anisotropic reconstruction error. Fit relations are the
    certified pq_fit / _pq_fit_ctes pair; each arm's error is the exact
    long sum of the chosen argmin sub-distances (the de6 columns of the
    trained encode, ``pq._encode``)."""
    import math

    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    valid = e.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _DIM)
    )
    rot_h = PQ.hadamard_rotate(e, "embedding", _HAD_DIM).localCheckpoint(
        eager=False
    )

    def _arm(method, src):
        cb = PQ.pq_fit(src, "vec_id", "embedding", _PQ_M, _PQ_SUB,
                       _PQ_KSUB, 2)
        enc = PQ._encode(
            src, "vec_id", "embedding", _PQ_M, _PQ_SUB,
            PQ._trained_codebooks(cb, _PQ_M),
        )
        de6 = F.explode(F.array(*[f"de6_{s}" for s in range(_PQ_M)]))
        agg = enc.select("vec_id", de6.alias("de6")).agg(
            F.sum("de6").alias("tot"),
            F.count_distinct("vec_id").alias("nv"),
        ).collect()[0]
        nv = agg["nv"] or 0
        # the repo's floor-half-up kernel, NOT Python round (banker's):
        # the oracle writes FLOOR(x * 1e6 + 0.5) / 1e6
        mse = (
            math.floor(agg["tot"] / 1e6 / nv * 1e6 + 0.5) / 1e6
            if nv
            else None
        )
        return (method, nv, mse)

    def _opq_arm():
        # this arm alone depends on the opq_fit alternation chain; the
        # other two arms back-fill the box while it runs (guide §2.6)
        r_e6 = PQ.opq_fit(
            e, dim=_DIM, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
            n_iter=2, n_opq_iter=1, ns_iter=_OPQ_NS,
            sample_bound=_OPQ_SAMPLE,
        )
        rot_o = PQ.opq_rotate(valid, "embedding", r_e6, _DIM)
        return _arm("opq_trained", rot_o.localCheckpoint(eager=False))

    rows = run_jobs([
        lambda: _arm("trained", e),
        lambda: _arm("hadamard_trained", rot_h),
        _opq_arm,
    ])
    rows.sort(key=lambda r: r[0])
    return local_df(
        spark, rows, "method string, n_vectors long, mse double"
    )


def _ivfpq_opq_oracle(k: int = 5) -> str:
    """OPQ rotation CTEs feeding the certified residual-trainedcb IVF-PQ
    oracle with its source relation swapped to the rotated corpus."""
    rot = _opq_rot_ctes()
    inner = _ivfpq_residual_trainedcb_oracle(k=k, src="opqrot").strip()
    assert inner.startswith("WITH ")
    return f"""
    WITH {rot},
    {inner[len("WITH "):]}
    """


@query(
    "emb_ann_topk_ivfpq_opq",
    _ivfpq_opq_oracle(),
    tags=("llm", "ann", "ivf", "pq", "rotation", "clustering"),
)
def emb_ann_topk_ivfpq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS production composition —
    IndexPreTransform(OPQMatrix, IndexIVFPQ) with by_residual=true AND
    trained codebooks (operators/pq.pq_topk_ivfpq_opq): the learned
    Procrustes rotation of [[emb_ann_topk_pq_opq]] applied ahead of the
    residual IVF-PQ trained-codebook search of
    [[emb_ann_topk_ivfpq_residual_trainedcb]], everything downstream
    running in rotated space (rotated coarse seeds, rotated residuals,
    codebook trained on rotated residuals). This is the index FAISS
    documentation actually recommends for billion-scale corpora
    ("OPQ64,IVF...,PQ64"); each piece reuses a certified kernel, and
    the oracle is the certified residual-trainedcb SQL with its source
    relation swapped to the rotated-corpus CTE chain."""
    from etl_gardener_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    return PQ.pq_topk_ivfpq_opq(
        e, e.filter(F.col("vec_id") < 10),
        k=5, dim=_DIM, n_centroids=16, nprobe=4,
        m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        n_iter=2, n_opq_iter=1, ns_iter=_OPQ_NS, sample_bound=_OPQ_SAMPLE,
    )


@query(
    "emb_ann_topk_pq_opq_persisted",
    _opq_topk_oracle(),
    tags=("llm", "ann", "pq", "rotation", "persistence"),
)
def emb_ann_topk_pq_opq_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPQ search over a LOADED persisted pretransform + codebook
    (operators/index_store.save_opq_rotation / the ``codebooks`` index
    part): fit the rotation once (opq_fit), rotate the corpus, train
    the PQ codebooks on it (pq_fit), SAVE rotation + codebooks — FAISS
    serializes the OPQMatrix inside the index file; the warehouse
    writes a versioned integer-exact marker plus a codebook relation —
    then LOAD both back and search with only loaded artifacts. The
    oracle is [[emb_ann_topk_pq_opq]]'s verbatim: save -> load ->
    search must be bit-identical to never having touched disk (the
    rotation round-trips exactly by construction — int64 micros end to
    end). Completes the persisted family ([[emb_ann_topk_ivf_persisted]],
    [[emb_ann_topk_ivfpq_persisted]]) for the rotated stack."""
    from etl_gardener_spark.operators import pq as PQ
    from etl_gardener_spark.operators.index_store import (
        load_ann_index,
        load_opq_rotation,
        save_ann_index,
        save_opq_rotation,
    )
    from etl_gardener_spark.plans.queries import _scratch

    e = load_table(spark, sf_dir, "embeddings")
    valid = e.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _DIM)
    )
    r_fit = PQ.opq_fit(
        valid, dim=_DIM, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        n_iter=2, n_opq_iter=1, ns_iter=_OPQ_NS, sample_bound=_OPQ_SAMPLE,
    )
    rot_fit = PQ.opq_rotate(valid, "embedding", r_fit, _DIM).localCheckpoint(
        eager=False
    )
    cb_fit = PQ.pq_fit(
        rot_fit, "vec_id", "embedding", _PQ_M, _PQ_SUB, _PQ_KSUB, 2
    )
    d = _scratch("opqidx")
    # the cells slot is the IVF artifact; this flat-PQ index persists
    # rotation + codebooks, with an empty cells relation as the anchor.
    # local_df, NOT createDataFrame: a bare createDataFrame([]) spreads
    # the empty relation over defaultParallelism pickled slices, and
    # its partitionBy write then pays 32 Python-worker round-trips for
    # zero rows (measured 37.6 task-s in the save phase — the whole
    # query's worst job)
    empty_cells = local_df(
        spark, [], "neighbor_id long, c_vec array<double>, cell long"
    )
    save_ann_index(d, empty_cells, codebooks=cb_fit)
    save_opq_rotation(spark, d, r_fit)

    r = load_opq_rotation(spark, d)
    cb = load_ann_index(spark, d)["codebooks"]
    rc = PQ.opq_rotate(valid, "embedding", r, _DIM).localCheckpoint(
        eager=False
    )
    rq = rc.filter(F.col("vec_id") < 10)
    return PQ.pq_topk_trained(
        rc, rq, k=5, m=_PQ_M, sub_dim=_PQ_SUB, k_sub=_PQ_KSUB,
        codebooks=cb,
    )
