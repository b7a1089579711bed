"""Text-analysis expression library for LLM training-data pipelines.

All pure Catalyst expressions (no Python in the hot path): language-ID
by stopword-hit heuristic, quality scoring from length/punct/stopword
ratios, token counting (whitespace + BPE-ish regex), and rolling-hash
document fingerprints. Each returns a Column usable in any query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists — the classic trigram/stopword-hit
# heuristic (deterministic, expression-only).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "un", "est", "pas"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
}

_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda w: F.length(w) > 0)


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of words that are stopwords of `lang`."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words(F.lower(text)), lambda w: F.array_contains(sw, w)))


def langid_scores(text: Column) -> Column:
    """array<struct<lang,hits>> of stopword hits per candidate language."""
    return F.array(
        *[
            F.struct(F.lit(lang).alias("lang"), stopword_hits(text, lang).alias("hits"))
            for lang in sorted(STOPWORDS)
        ]
    )


def predicted_lang(text: Column) -> Column:
    """argmax language by stopword hits ('und' = undetermined on zero hits).

    Ties break lexicographically (array_sort on (-hits, lang)) so the
    prediction is deterministic.
    """
    best = F.array_sort(
        langid_scores(text),
        lambda a, b: F.when(a["hits"] > b["hits"], -1)
        .when(a["hits"] < b["hits"], 1)
        .when(a["lang"] < b["lang"], -1)
        .when(a["lang"] > b["lang"], 1)
        .otherwise(0),
    )[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def n_words(text: Column) -> Column:
    return F.size(words(text))


def n_tokens_regex(text: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, single punctuation."""
    return F.size(F.regexp_extract_all(text, F.lit(_TOKEN_REGEX), 0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def mean_word_len(text: Column) -> Column:
    w = words(text)
    return F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    ) / F.greatest(F.size(w), F.lit(1))


def quality_score(text: Column, lang: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation,
    sane mean word length, has stopword signal. Weights are arbitrary
    but fixed; per-row double math → deterministic."""
    len_ok = F.least(F.length(text) / F.lit(200.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    mwl = mean_word_len(text)
    mwl_ok = F.when((mwl >= 3) & (mwl <= 10), 1.0).otherwise(0.3)
    sw_ok = F.when(predicted_lang(text) == lang, 1.0).otherwise(0.5)
    return (
        len_ok * 0.3 + punct_ok * 0.2 + mwl_ok * 0.2 + sw_ok * 0.3
    ).alias("quality")


FP_MOD = (1 << 31) - 1  # rolling-hash modulus (Mersenne 2^31-1)
FP_MUL = 131  # multiplier: acc*p + h < 2^39, no 64-bit overflow


def word_hash48_sql(word_sql: str, salt: str = "fp:") -> str:
    """ENGINE-PORTABLE 48-bit word hash (first 12 md5 hex digits as a
    BIGINT via instr arithmetic) — the one md5-bit hash: the KMV
    sketch hashes users with it, and pipeline's 0..255 buckets and
    (0,1) draws are its top 8 bits and its value over 2^48. Written
    in the SQL subset Spark and DuckDB share, so a fingerprint
    computed here is RECOMPUTABLE IN ANY ENGINE — the
    property that makes a document fingerprint useful as a stable
    cross-system identity (and lets the DuckDB oracle replay it
    bit-for-bit). xxhash64 would be ~2× cheaper per word but is
    Spark-private; fingerprints that cannot be re-derived outside the
    engine that minted them are a lock-in bug, not an optimization."""
    h = f"md5(concat('{salt}', {word_sql}))"
    terms = " + ".join(
        f"CAST(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1 "
        f"AS BIGINT) * {16 ** (11 - i)}"
        for i in range(12)
    )
    return f"({terms})"


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash of the word sequence (mod 2^31-1) —
    an order-sensitive document fingerprint (same word multiset in a
    different order fingerprints differently, unlike minhash). Built
    on the portable md5-bit word hash (word_hash48_sql), so the
    fingerprint is engine-independent and hash-checkable."""
    return F.expr(
        "aggregate("
        "  filter(split(" + _col_sql(text) + ", ' '), w -> length(w) > 0),"
        "  0L,"
        f"  (acc, w) -> (acc * {FP_MUL}L"
        f"               + pmod({word_hash48_sql('w')}, {FP_MOD}L))"
        f"              % {FP_MOD}L"
        ")"
    )


def _col_sql(col: Column) -> str:
    """Column → its SQL identifier (for composing HOF expressions that
    need engine-portable SQL bodies). Only plain named columns are
    composable this way; expressions should be aliased first."""
    # Column.__repr__ is "Column<'name'>" in classic mode
    import re

    m = re.fullmatch(r"Column<'([A-Za-z0-9_.]+)'>", repr(col))
    if not m:
        raise ValueError(
            f"rolling_fingerprint needs a plain named column, got {col!r}"
        )
    return m.group(1)
