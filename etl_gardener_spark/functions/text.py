"""Text-analysis column functions: tokenization, token counting, quality
scoring, language-ID heuristic, document fingerprinting.

These are the per-document feature extractors a 100 TB training-data
pipeline runs over every document before filtering/dedup. All are pure
``pyspark.sql.functions`` expressions — they compile into WholeStageCodegen
alongside the parquet scan, so a feature pass is one read of the text
column with zero shuffles and zero Python.

Every function has an exact ANSI-SQL mirror (used by the DuckDB oracles in
plans/queries_llm.py): same tokenizer, same formulas, same rounding — so
correctness is checkable row-for-row on any engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Word-ish tokenizer: letter runs, digit runs, or single non-space symbols —
# the BPE-style pre-tokenization shape (lowercase first). Mirrors
# regexp_extract_all(lower(s), '[a-z]+|[0-9]+|[^a-z0-9\s]') in DuckDB.
TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# Tiny built-in stopword lists for the language-ID heuristic. Deliberately
# small and static: language ID at scale is a lookup against in-expression
# constants, not a model call.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokens of lowercased text (empty tokens removed).

    SQL mirror: list_filter(string_split_regex(lower(trim(s)), '\\s+'),
    x -> len(x) > 0).
    """
    c = F.lower(F.trim(F.col(col) if isinstance(col, str) else col))
    return F.filter(F.split(c, r"\s+"), lambda x: F.length(x) > 0)


def regex_tokens(col: Column | str) -> Column:
    """BPE-ish pre-tokenization: letter runs / digit runs / single symbols.

    SQL mirror: regexp_extract_all(lower(s), '[a-z]+|[0-9]+|[^a-z0-9\\s]').
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.regexp_extract_all(c, F.lit(TOKEN_REGEX), 0)


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(ws_tokens(col))


def regex_token_count(col: Column | str) -> Column:
    """BPE-ish token count (the "how many tokens will the tokenizer emit"
    estimator used for context budgeting)."""
    return F.size(regex_tokens(col))


def type_token_ratio(col: Column | str) -> Column:
    """Distinct tokens / total tokens — a repetition signal (low TTR =
    boilerplate / degenerate text)."""
    toks = ws_tokens(col)
    # try_divide: 0 tokens (empty/whitespace text) -> NULL, matching SQL
    # division-by-zero under every engine (differential-fuzz finding)
    return F.try_divide(F.size(F.array_distinct(toks)), F.size(toks))


def stopword_hits(col: Column | str, lang: str = "en") -> Column:
    """Number of token *positions* that are stopwords of ``lang``.

    Counted with multiplicity (a document of 'the the the' scores 3):
    size(filter(tokens, t -> t IN stopwords)).
    """
    toks = ws_tokens(col)
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    return F.try_divide(stopword_hits(col, lang), token_count(col))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    stripped = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    # try_divide: empty text -> NULL ratio (SQL x/0), not an ANSI error
    return F.try_divide(F.length(c) - F.length(stripped), F.length(c))


def quality_score(col: Column | str) -> Column:
    """Composite document-quality score in [0, 1].

    0.4 * saturating length term (100+ tokens = full credit)
    + 0.3 * type/token ratio (penalize repetition)
    + 0.3 * (1 - punct_ratio) (penalize symbol soup).
    The exact formula is mirrored in the oracle SQL; the weights are the
    usual heuristic-filter shape (length/diversity/punctuation), not tuned.
    """
    length_term = F.least(F.lit(1.0), token_count(col) / F.lit(100.0))
    # floor(x*1e4 + 0.5)/1e4, not ROUND: Spark's ROUND rounds the
    # shortest-decimal-repr half-up and disagrees with engines that round
    # the binary value when the score prints exactly on a 4-dp midpoint
    # (observed at sf0.1) — the floor kernel is engine-portable.
    score = (
        0.4 * length_term + 0.3 * type_token_ratio(col) + 0.3 * (1 - punct_ratio(col))
    )
    return F.floor(score * 10000 + 0.5) / 10000


def langid_struct(col: Column | str) -> list[Column]:
    """Stopword-hit counts per language plus the argmax prediction.

    Deterministic tie-break: highest hit count wins; ties resolve to the
    alphabetically-first language code. Returns columns
    ``hits_<lang>...`` and ``lang_pred``.
    """
    langs = sorted(STOPWORDS)
    hit_cols = [stopword_hits(col, lg).alias(f"hits_{lg}") for lg in langs]
    # argmax via greatest + chained when (alphabetical order = tie-break)
    hits = {lg: stopword_hits(col, lg) for lg in langs}
    best = F.greatest(*hits.values())
    pred = F.lit(None).cast("string")
    for lg in reversed(langs):
        pred = F.when(hits[lg] == best, F.lit(lg)).otherwise(pred)
    return hit_cols + [pred.alias("lang_pred")]


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, trim, collapse runs of
    whitespace to single spaces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def fingerprint_md5(col: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an existing token-array column.

    IMPORTANT (performance): pass an *attribute* (a column staged by a
    previous ``select``), not an inline expression. The construction
    indexes the token array n times per shingle; if ``toks`` is an
    unevaluated expression tree, every ``element_at`` re-evaluates it —
    measured 35x slower on real documents. Catalyst's CollapseProject
    preserves a staged projection because duplicating a non-cheap
    expression fails its collapse check.
    """
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (n consecutive whitespace tokens, space-joined).

    SQL mirror: list_transform(range(1, len(toks) - n + 2),
    i -> toks[i] || ' ' || ... || toks[i+n-1]).

    Convenience inline form — fine for one-off expressions; hot paths
    should stage tokens first and use ``shingles_of`` (see its docstring).
    """
    return shingles_of(ws_tokens(col), n)


# ---------------------------------------------------------------------------
# Staged-token variants: take an already-materialized token-array column.
# Hot paths should tokenize ONCE per row into an attribute and derive every
# feature from it — the convenience wrappers above re-run the tokenizer per
# expression when several features land in one projection (lang-ID alone
# re-splits 10x per row; see shingles_of for why staging survives Catalyst).
# ---------------------------------------------------------------------------


def stopword_hits_of(toks: Column, lang: str = "en") -> Column:
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))


def type_token_ratio_of(toks: Column) -> Column:
    return F.try_divide(F.size(F.array_distinct(toks)), F.size(toks))


def avg_token_len_of(toks: Column) -> Column:
    return F.try_divide(
        F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")),
        F.size(toks),
    )


def langid_struct_of(toks: Column) -> list[Column]:
    """Staged-token twin of langid_struct (same tie-break contract)."""
    langs = sorted(STOPWORDS)
    hits = {lg: stopword_hits_of(toks, lg) for lg in langs}
    best = F.greatest(*hits.values())
    pred = F.lit(None).cast("string")
    for lg in reversed(langs):
        pred = F.when(hits[lg] == best, F.lit(lg)).otherwise(pred)
    return [hits[lg].alias(f"hits_{lg}") for lg in langs] + [
        pred.alias("lang_pred")
    ]
