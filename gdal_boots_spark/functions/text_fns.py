"""Text-analysis column functions for the training-data pipeline.

All pure native Column expressions (whole-stage codegen; zero Python at
runtime) so they hold up on a 10^12-doc table, and every formula is
reproducible in ANSI SQL for the DuckDB oracle.  The md5-based hashes
are engine-portable: Spark ``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)`` (60-bit, fits a
signed int64).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic mini stopword lists for the lang-id heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
}


def normalize_text(col) -> Column:
    """lower + trim + collapse whitespace — the canonical form every
    dedup/fingerprint op keys on."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def tokens(col) -> Column:
    return F.split(normalize_text(col), " ")


def token_count(col) -> Column:
    return F.size(tokens(col))


def md5_long(col) -> Column:
    """Portable 60-bit hash (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fingerprint(col) -> Column:
    """Document fingerprint: portable hash of the normalized text."""
    return md5_long(normalize_text(col))


def shingles(col, n: int = 3) -> Column:
    """Word n-gram shingle array (space-joined), [] when too short.

    NB: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — the
    short-doc case must be guarded explicitly or slice(start=0) throws.

    The token array is bound ONCE, as the lambda variable of a
    one-element transform: written inline, the split would sit inside
    the per-shingle lambda and re-run for every shingle.
    """

    def of(t):
        idx = F.when(F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))

    return F.element_at(F.transform(F.array(tokens(col)), of), 1)


def quality_features(col) -> dict[str, Column]:
    """Quality-scoring features: length, token count, mean token length,
    punctuation ratio, stopword(en) ratio, uppercase ratio."""
    raw = F.coalesce(col, F.lit(""))
    norm = normalize_text(col)
    toks = tokens(col)
    n_chars = F.length(raw)
    n_tokens = F.size(toks)
    punct = F.length(raw) - F.length(F.regexp_replace(raw, r"[^\w\s]", ""))
    upper = F.length(raw) - F.length(F.regexp_replace(raw, r"[A-Z]", ""))
    stop = F.size(F.filter(toks, lambda w: w.isin(*LANG_STOPWORDS["en"])))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": (F.length(norm) - n_tokens + 1).cast("double") / F.greatest(n_tokens, F.lit(1)),
        "punct_ratio": punct.cast("double") / F.greatest(n_chars, F.lit(1)),
        "upper_ratio": upper.cast("double") / F.greatest(n_chars, F.lit(1)),
        "stopword_ratio": stop.cast("double") / F.greatest(n_tokens, F.lit(1)),
    }


def quality_score(col) -> Column:
    """Scalar quality score in [0,1]: rewards mid-length docs with real
    words, penalizes punctuation soup (engine-pinned formula)."""
    f = quality_features(col)
    len_term = F.least(f["n_tokens"].cast("double") / 64.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(1.0) - f["punct_ratio"] * 4.0, F.lit(0.0))
    stop_term = F.least(f["stopword_ratio"] * 3.0 + 0.5, F.lit(1.0))
    return (len_term * 0.4 + punct_term * 0.4 + stop_term * 0.2).alias("quality")


def lang_scores(col) -> Column:
    """Per-language stopword-hit counts -> argmax language code
    ('und' when nothing matches)."""
    toks = tokens(col)
    best_lang = F.lit("und")
    best_n = F.lit(0)
    for lang, words in sorted(LANG_STOPWORDS.items()):
        n = F.size(F.filter(toks, lambda w: w.isin(*words)))
        cond = n > best_n
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_n = F.when(cond, n).otherwise(best_n)
    return best_lang


# BPE-ish sub-word segmentation: alpha runs | digit runs | non-space
# symbol runs — the GPT-2-pretokenizer shape reduced to character
# classes that mean the same thing in Java regex (Spark) and RE2
# (DuckDB), so the count has an exact SQL oracle.
BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def bpe_tokens(col) -> Column:
    """Sub-word-ish token array (brief: 'token counting (whitespace +
    a BPE-ish regex)'); pure codegen regexp_extract_all."""
    return F.regexp_extract_all(col, F.lit(BPE_PATTERN), 0)


def bpe_token_count(col) -> Column:
    return F.size(bpe_tokens(col))


# --- PII / URL scrubbing (r5; widened r6) -----------------------------
# Pattern set chosen to behave IDENTICALLY under Java regex (Spark
# codegen) and RE2 (DuckDB): no backrefs, no lookarounds, explicit
# classes.  `\s` is NOT identical across the engines (Java's ASCII \s
# includes \x0B, RE2's does not — ADVICE r5), so whitespace is spelled
# as one explicit class shared by both renderings.  Order matters:
# URLs first (they contain @, dots and digits), then emails, then the
# dotted/grouped digit formats (IP, card, phone), then bare digit runs.
_WS = r" \t\n\r\f\x0B"  # explicit ASCII whitespace, Java == RE2

SCRUB_RULES = [
    (rf"https?://[^{_WS}]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    (r"[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}", "<CC>"),
    # separator-format phone numbers: optional +country, then 3-4 digit
    # groups split by -, ., space or parens.  Digit-group dates
    # (2026-08-17) share this shape and get scrubbed too — for a
    # privacy pass, over-scrubbing is the safe direction (documented).
    (r"\+?[0-9]{1,4}([-. ()]{1,2}[0-9]{2,4}){2,3}", "<PHONE>"),
    (r"[0-9]{7,}", "<NUM>"),
]


def scrub_text(col) -> Column:
    """Redact URLs / emails / IPv4s / card-format and phone-format
    digit groups / long digit runs — the pre-training privacy scrub
    pass.  Pure codegen regexp_replace chain; the identical rules
    render to the DuckDB oracle via scrub_oracle_expr, so redacted
    output is byte-equal across engines."""
    out = col
    for pat, tag in SCRUB_RULES:
        out = F.regexp_replace(out, pat, tag)
    return out


SCRUB_COUNT_NAMES = ["n_urls", "n_emails", "n_ips", "n_cards", "n_phones", "n_longnums"]


def scrub_counts(col) -> dict[str, Column]:
    """Per-rule match counts (BIGINT, oracle-exact).  Rule i is counted
    on the text AFTER rules 0..i-1 have been applied — i.e. each count
    is exactly what the scrub pass redacted for that rule (a card
    number is not double-counted as a phone number).  The oracle
    mirrors the same progressive chain."""
    out: dict[str, Column] = {}
    cur = col
    for name, (pat, tag) in zip(SCRUB_COUNT_NAMES, SCRUB_RULES):
        out[name] = F.regexp_count(cur, F.lit(pat)).cast("long")
        cur = F.regexp_replace(cur, pat, tag)
    return out


def scrub_oracle_expr(col_sql: str) -> tuple[str, list[str]]:
    """(scrubbed-text SQL, [count SQLs]) — the same rules in DuckDB,
    with the same progressive-count semantics as scrub_counts (rule i
    counted on the output of rules 0..i-1)."""
    out = col_sql
    counts = []
    for pat, tag in SCRUB_RULES:
        sq = pat.replace("'", "''")
        counts.append(
            f"CAST(len(regexp_extract_all({out}, '{sq}')) AS BIGINT)"
        )
        out = f"regexp_replace({out}, '{sq}', '{tag}', 'g')"
    return out, counts
