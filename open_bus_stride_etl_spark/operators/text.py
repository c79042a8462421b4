"""Text-analysis operators for LLM training-data pipelines: language ID,
quality scoring, token counting, fingerprinting (BASELINE.json
extensions; no reference-repo analog — the reference is transit ETL).

All pure column expressions (JVM codegen, no Python UDFs): at 100 TB the
text columns stream through whole-stage codegen with nothing leaving the
executor. Ratios are integer basis points so oracle comparisons are
exact.

Each text kernel comes twice, built from the same constants: the Spark
``Column`` and its DuckDB twin (``*_sql``, over a VARCHAR expression).
Oracles call the twins; no regex, cap or profile is spelled elsewhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashing import md5_long

# Deterministic "BPE-ish" token regex: word pieces or single punctuation.
BPE_TOKEN_RE = r"\w+|[^\w\s]"
PUNCT_RE = r"[^\w\s]"
WS_RE = r"\s+"
# The same three for DuckDB's RE2, whose \s lacks the vertical tab that
# Java's \s matches: Java's class is spelled out.
_JAVA_SPACE = r" \t\n\x0B\f\r"
BPE_TOKEN_RE_SQL = rf"\w+|[^\w{_JAVA_SPACE}]"
PUNCT_RE_SQL = rf"[^\w{_JAVA_SPACE}]"
WS_RE_SQL = rf"[{_JAVA_SPACE}]+"
# Every shingle operator reads word 3-grams (the oracles' shingle CTE).
SHINGLE_K = 3
# prefix_fingerprint's normalized-prefix length.
PREFIX_CHARS = 60
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
# quality_score_bp's caps: 10 bp per char up to LEN_CAP_CHARS chars;
# RATIO_CAP_BP on the punctuation penalty and on the stopword bonus.
LEN_CAP_CHARS = 400
RATIO_CAP_BP = 3000

# Marker-word profiles for the n-gram language-ID heuristic. Tiny on
# purpose: the heuristic's job is deterministic scoring + argmax, the
# profile lists are swappable. Insertion order is the tie preference.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
}


def _words_re(words: tuple[str, ...]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def _lower_sql(expr: str) -> str:
    """Java's ``toLowerCase`` in DuckDB: Java maps U+0130 (dotted
    capital I) to ``i`` + U+0307, DuckDB to a plain ``i``, so the
    replace comes first."""
    return f"lower(replace({expr}, '\u0130', 'i\u0307'))"


def normalize_text(text: Column) -> Column:
    """Case-fold + collapse whitespace — the canonical form every dedup/
    fingerprint operator hashes. The fold is ``lower`` with the final
    sigma ``ς`` mapped to ``σ``, as ``str.casefold`` does: Java lowercases
    a word-final ``Σ`` to ``ς``, DuckDB to ``σ``, and neither engine's
    regex can spell Unicode's Final_Sigma context."""
    return F.trim(F.regexp_replace(F.translate(F.lower(text), "ς", "σ"), WS_RE, " "))


def normalize_text_sql(expr: str) -> str:
    folded = f"replace({_lower_sql(expr)}, 'ς', 'σ')"
    return f"trim(regexp_replace({folded}, '{WS_RE_SQL}', ' ', 'g'))"


def ws_token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), WS_RE))
    )


def ws_token_count_sql(expr: str) -> str:
    return (
        f"CASE WHEN length(trim({expr})) = 0 THEN 0"
        f" ELSE len(regexp_split_to_array(trim({expr}), '{WS_RE_SQL}')) END"
    )


def bpe_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def bpe_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{BPE_TOKEN_RE_SQL}'))"


def punct_ratio_bp(text: Column) -> Column:
    """Punctuation chars per total chars, in basis points."""
    n_punct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(
        F.round(10000.0 * n_punct / F.length(text)).cast("long")
    )


def punct_ratio_bp_sql(expr: str) -> str:
    n_punct = f"(length({expr}) - length(regexp_replace({expr}, '{PUNCT_RE_SQL}', '', 'g')))"
    return (
        f"CASE WHEN length({expr}) = 0 THEN 0"
        f" ELSE CAST(ROUND(10000.0 * {n_punct} / length({expr})) AS BIGINT) END"
    )


def stopword_ratio_bp(text: Column) -> Column:
    n_stop = F.regexp_count(F.lower(text), F.lit(_words_re(STOPWORDS)))
    n_tok = ws_token_count(text)
    return F.when(n_tok == 0, F.lit(0)).otherwise(
        F.round(10000.0 * n_stop / n_tok).cast("long")
    )


def stopword_ratio_bp_sql(expr: str) -> str:
    n_stop = f"len(regexp_extract_all({_lower_sql(expr)}, '{_words_re(STOPWORDS)}'))"
    n_tok = f"len(regexp_split_to_array(trim({expr}), '{WS_RE_SQL}'))"
    return (
        f"CASE WHEN length(trim({expr})) = 0 THEN 0"
        f" ELSE CAST(ROUND(10000.0 * {n_stop} / {n_tok}) AS BIGINT) END"
    )


def quality_score_bp(text: Column) -> Column:
    """Composite quality heuristic in [0, 10000]: long-enough documents
    with moderate punctuation and a natural stopword rate score high.
    Integer arithmetic end-to-end (exact across engines)."""
    len_score = F.least(F.length(text), F.lit(LEN_CAP_CHARS)) * 10
    punct_pen = F.least(punct_ratio_bp(text), F.lit(RATIO_CAP_BP))
    stop_score = F.least(stopword_ratio_bp(text), F.lit(RATIO_CAP_BP))
    return F.greatest(
        F.lit(0), F.least(F.lit(10000), len_score - punct_pen + stop_score)
    ).cast("long")


def quality_score_bp_sql(expr: str) -> str:
    return (
        f"GREATEST(0, LEAST(10000, LEAST(length({expr}), {LEN_CAP_CHARS}) * 10"
        f" - LEAST({punct_ratio_bp_sql(expr)}, {RATIO_CAP_BP})"
        f" + LEAST({stopword_ratio_bp_sql(expr)}, {RATIO_CAP_BP})))"
    )


def lang_scores(text: Column) -> dict[str, Column]:
    low = F.lower(text)
    return {
        lang: F.regexp_count(low, F.lit(_words_re(words)))
        for lang, words in LANG_PROFILES.items()
    }


def lang_scores_sql(expr: str) -> dict[str, str]:
    return {
        lang: f"len(regexp_extract_all({_lower_sql(expr)}, '{_words_re(words)}'))"
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


def lang_id_sql(scores: dict[str, str]) -> str:
    """lang_id's CASE over the per-language scores: lang_scores_sql's
    expressions, or the columns an oracle selected them into (then each
    profile regex runs once per row). It walks LANG_PROFILES in
    preference order: a language wins when its score is the greatest of
    its own and every later one's."""
    s = list(scores.items())
    top = ["GREATEST(" + ", ".join(e for _, e in s[i:]) + ")" for i in range(len(s))]
    whens = "".join(f" WHEN {e} = {top[i]} THEN '{lang}'" for i, (lang, e) in enumerate(s[:-1]))
    return f"CASE WHEN {top[0]} = 0 THEN 'und'{whens} ELSE '{s[-1][0]}' END"


def doc_fingerprint(text: Column) -> Column:
    """Exact-dedup fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text))


def doc_fingerprint_sql(expr: str) -> str:
    return f"md5({normalize_text_sql(expr)})"


def prefix_fingerprint(text: Column) -> Column:
    """Weak fingerprint over the normalized prefix — catches documents
    that share a head (boilerplate, near-copies with appended tails)."""
    return F.md5(F.substring(normalize_text(text), 1, PREFIX_CHARS))


def prefix_fingerprint_sql(expr: str) -> str:
    return f"md5(substr({normalize_text_sql(expr)}, 1, {PREFIX_CHARS}))"


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


def pii_counts_sql(expr: str) -> dict[str, str]:
    return {
        "n_emails": f"len(regexp_extract_all({expr}, '{EMAIL_RE}'))",
        "n_phones": f"len(regexp_extract_all({expr}, '{PHONE_RE}'))",
    }


def redact_pii(text: Column) -> Column:
    """Replace emails then phone-number-shaped spans with fixed tags —
    the curation stage that runs before a corpus leaves the lake. Order
    matters: emails first, so their digit-bearing local parts can't be
    half-eaten by the phone pattern."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def redact_pii_sql(expr: str) -> str:
    out = f"regexp_replace({expr}, '{EMAIL_RE}', '<EMAIL>', 'g')"
    return f"regexp_replace({out}, '{PHONE_RE}', '<PHONE>', 'g')"


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
