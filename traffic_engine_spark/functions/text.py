"""Text-analysis column builders: normalisation, tokenisation, shingles,
stopword and punctuation ratios, fingerprints.

All pure Spark column expressions (JVM, codegen) — the 100 TB text path
never leaves the JVM.  Every builder has a documented ANSI-SQL equivalent
(used by the DuckDB oracles in __spark_entry__.py), and the shared hash
primitive is md5-prefix→int64 so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# languages × literal stopword profiles for the n-gram/stopword language ID.
# Deterministic, tiny, and shared verbatim with the SQL oracle.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "ich", "zu"],
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "se", "no", "por"],
    "fr": ["le", "la", "de", "et", "un", "que", "pour", "dans", "ce", "pas"],
}

EN_STOPWORDS = LANG_PROFILES["en"]

# BPE-ish token regex: letter runs, digit runs, or single other non-space
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def normalize(text: Column) -> Column:
    """lower + collapse whitespace (SQL: lower(regexp_replace(t,'\\s+',' ','g')))."""
    return F.lower(F.regexp_replace(text, r"\s+", " "))


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens of the normalised text."""
    return F.split(F.trim(normalize(text)), " ")


def n_tokens_ws(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(ws_tokens(text))
    )


def n_tokens_bpe(text: Column) -> Column:
    """Count of BPE-ish regex tokens (SQL: len(regexp_extract_all(t, RE)))."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles from an already-materialised token array.

    IMPORTANT perf note: pass a *column reference* to a materialised token
    array, not an inline split expression — Catalyst re-evaluates the
    lambda's free subexpressions per element, which turns an inline
    tokenise into O(tokens²) string work per row."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


def hash64(col: Column, salt: Column | str | None = None) -> Column:
    """Shared Spark↔DuckDB 60-bit hash: ('0x'||substr(md5(x),1,15))::BIGINT."""
    x = col if salt is None else F.concat(col, F.lit("_"), salt if isinstance(salt, Column) else F.lit(str(salt)))
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def stopword_count(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(words)))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^A-Za-z0-9\s]", "")
    return (F.length(text) - F.length(stripped)).cast("double") / F.greatest(
        F.length(text), F.lit(1)
    ).cast("double")


def stopword_ratio(text: Column) -> Column:
    toks = ws_tokens(text)
    return stopword_count(toks, EN_STOPWORDS).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    ).cast("double")


def avg_token_len(text: Column) -> Column:
    toks = ws_tokens(text)
    return F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    ) / F.greatest(F.size(toks), F.lit(1)).cast("double")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: 60-bit hash of the aggressively-normalised text
    (lower, strip punctuation, collapse whitespace) — dedup key robust to
    formatting-only edits."""
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return hash64(canon)
