"""Text scrubbing: PII / URL redaction as pure Catalyst expressions.

Pretraining corpora are scrubbed of emails, URLs, IP addresses, and
phone-like digit runs before anything else touches the text (C4 and
RefinedWeb both document this as a first-pass filter). Redaction here is
a chain of ``regexp_replace`` calls — JVM-side, codegen'd, zero Python —
so it composes with the load path (table_ops.load_*) as a per-row map
with no shuffle.

Pattern portability: every pattern below uses only syntax with identical
semantics in Java's regex engine (Spark) and RE2 (DuckDB oracle):
character classes, bounded/unbounded greedy quantifiers, non-capturing
groups, ``\\b`` word boundaries, leftmost-first alternation. No
backreferences, no lookaround (RE2 has neither).

Replacement ORDER is part of the contract: URLs first (an email-shaped
userinfo inside a URL belongs to the URL), then emails, then IPs, then
phone runs. Both engines must apply the same order — `redact` pins it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: pattern registry: kind -> (regex, replacement token). Insertion order
#: is the application order.
PATTERNS: dict[str, tuple[str, str]] = {
    "url": (r"https?://[^\s]+", "<URL>"),
    "email": (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    "phone": (r"\+?\d[\d\-() ]{7,}\d", "<PHONE>"),
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def redact(col: Column | str, kinds: tuple[str, ...] = tuple(PATTERNS)) -> Column:
    """Replace each PII kind with its token, in registry order."""
    out = _c(col)
    for kind in kinds:
        pat, tok = PATTERNS[kind]
        out = F.regexp_replace(out, pat, tok)
    return out


def pii_counts(col: Column | str) -> list[Column]:
    """One aliased count column per registered kind (``n_url``,
    ``n_email``, ...). Counts are measured on the ORIGINAL text but after
    removing earlier kinds' matches, mirroring the redaction order — an
    email inside a URL counts as URL only."""
    cols: list[Column] = []
    stripped = _c(col)
    for kind in PATTERNS:
        pat, _ = PATTERNS[kind]
        cols.append(F.regexp_count(stripped, F.lit(pat)).cast("long").alias(f"n_{kind}"))
        stripped = F.regexp_replace(stripped, pat, "")
    return cols


def oracle_redact_sql(expr: str, kinds: tuple[str, ...] = tuple(PATTERNS)) -> str:
    """DuckDB mirror of `redact` over a SQL expression (global 'g' flag —
    Spark's regexp_replace is always global)."""
    out = expr
    for kind in kinds:
        pat, tok = PATTERNS[kind]
        # DuckDB standard strings pass backslashes through verbatim —
        # only quotes need escaping.
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{tok}', 'g')"
    return out


def oracle_count_sql(expr: str, kind: str) -> str:
    """DuckDB mirror of one `pii_counts` entry: count on the text with
    earlier kinds' matches removed."""
    stripped = expr
    for k in PATTERNS:
        pat, _ = PATTERNS[k]
        sql_pat = pat.replace("'", "''")
        if k == kind:
            return (
                f"CAST(len(regexp_extract_all({stripped}, '{sql_pat}')) AS BIGINT)"
            )
        stripped = f"regexp_replace({stripped}, '{sql_pat}', '', 'g')"
    raise KeyError(kind)
