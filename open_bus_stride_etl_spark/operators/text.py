"""Text-analysis operators for LLM training-data pipelines: language ID,
quality scoring, token counting, fingerprinting (BASELINE.json
extensions; no reference-repo analog — the reference is transit ETL).

All pure column expressions (JVM codegen, no Python UDFs): at 100 TB the
text columns stream through whole-stage codegen with nothing leaving the
executor. Ratios are integer basis points so oracle comparisons are
exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashing import md5_long

# Deterministic "BPE-ish" token regex: word pieces or single punctuation.
BPE_TOKEN_RE = r"\w+|[^\w\s]"
PUNCT_RE = r"[^\w\s]"
# Every shingle operator reads word 3-grams (the oracles' _SQL_SHINGLES).
SHINGLE_K = 3
# prefix_fingerprint's normalized-prefix length.
PREFIX_CHARS = 60
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

# Marker-word profiles for the n-gram language-ID heuristic. Tiny on
# purpose: the heuristic's job is deterministic scoring + argmax, the
# profile lists are swappable.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
}


def normalize_text(text: Column) -> Column:
    """Lowercase + collapse whitespace — the canonical form every dedup/
    fingerprint operator hashes."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def ws_token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def bpe_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def punct_ratio_bp(text: Column) -> Column:
    """Punctuation chars per total chars, in basis points."""
    n_punct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(
        F.round(10000.0 * n_punct / F.length(text)).cast("long")
    )


def stopword_ratio_bp(text: Column) -> Column:
    pattern = r"\b(" + "|".join(STOPWORDS) + r")\b"
    n_stop = F.regexp_count(F.lower(text), F.lit(pattern))
    n_tok = ws_token_count(text)
    return F.when(n_tok == 0, F.lit(0)).otherwise(
        F.round(10000.0 * n_stop / n_tok).cast("long")
    )


def quality_score_bp(text: Column) -> Column:
    """Composite quality heuristic in [0, 10000]: long-enough documents
    with moderate punctuation and a natural stopword rate score high.
    Integer arithmetic end-to-end (exact across engines)."""
    len_score = F.least(F.length(text), F.lit(400)) * 10  # ≤ 4000
    punct_pen = F.least(punct_ratio_bp(text), F.lit(3000))
    stop_score = F.least(stopword_ratio_bp(text), F.lit(3000))
    return F.greatest(
        F.lit(0), F.least(F.lit(10000), len_score - punct_pen + stop_score)
    ).cast("long")


def lang_scores(text: Column) -> dict[str, Column]:
    low = F.lower(text)
    return {
        lang: F.regexp_count(low, F.lit(r"\b(" + "|".join(words) + r")\b"))
        for lang, words in LANG_PROFILES.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax of marker-word counts with a fixed preference order on
    ties (en > es > de > fr); all-zero scores -> 'und'."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    out = F.lit("und")
    for lang in reversed(list(LANG_PROFILES)):
        out = F.when((s[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def doc_fingerprint(text: Column) -> Column:
    """Exact-dedup fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text))


def prefix_fingerprint(text: Column) -> Column:
    """Weak fingerprint over the normalized prefix — catches documents
    that share a head (boilerplate, near-copies with appended tails)."""
    return F.md5(F.substring(normalize_text(text), 1, PREFIX_CHARS))



# PII patterns kept to the regex subset Java regex and RE2 interpret
# identically (no backrefs, no lookaround) so the DuckDB oracle counts
# the same matches.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PHONE_RE = r"\+?[0-9][0-9 ()-]{6,}[0-9]"


def pii_counts(text: Column) -> dict[str, Column]:
    """Match counts per PII class — the audit side of redaction."""
    return {
        "n_emails": F.regexp_count(text, F.lit(EMAIL_RE)),
        "n_phones": F.regexp_count(text, F.lit(PHONE_RE)),
    }


def redact_pii(text: Column) -> Column:
    """Replace emails then phone-number-shaped spans with fixed tags —
    the curation stage that runs before a corpus leaves the lake. Order
    matters: emails first, so their digit-bearing local parts can't be
    half-eaten by the phone pattern."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def shingle_array(words_col: str, k: int = SHINGLE_K) -> Column:
    """Word k-gram shingles of an array<string> column (by name):
    ['a','b','c','d'] -> ['a b c', 'b c d']. Empty when fewer than k
    words."""
    # sequence(a, b) with a > b yields a DESCENDING sequence in Spark (not
    # an empty array!), so the short-text case needs an explicit guard.
    return F.expr(
        f"CASE WHEN size({words_col}) >= {k} THEN"
        f" transform(sequence(1, size({words_col}) - {k} + 1),"
        f" i -> array_join(slice({words_col}, i, {k}), ' '))"
        f" ELSE CAST(array() AS array<string>) END"
    )


def rolling_min_shingle_hash(words_col: str) -> Column:
    """Winnowing-lite: min over word-3-gram hashes (a cheap content
    anchor that survives small edits). NULL when no shingles."""
    return F.array_min(F.transform(shingle_array(words_col), lambda s: md5_long(s)))
