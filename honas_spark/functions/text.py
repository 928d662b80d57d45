"""Per-row transforms — all Spark built-ins (JVM-side, whole-stage
codegen); no Python in any of these paths.

Reproduces the reference's key-derivation pipeline (P1-P3 in SURVEY.md §2.2)
over the code-corpus analog, plus the text-analysis operators a
training-data pipeline needs (language-ID heuristic, quality scoring, token
counting, fingerprinting)."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

# --------------------------------------------------------------------------
# P1 canonicalize (honas_state.c:286-294): lowercase + strip one trailing
# separator.  Hostnames strip '.'; the path analog strips '/'.
# --------------------------------------------------------------------------


def canonicalize(col: Column, sep: str = "/") -> Column:
    return F.lower(F.regexp_replace(col, f"[{sep}]$", ""))


# --------------------------------------------------------------------------
# P2/P3 key explosion (honas_state.c:296-453): for a canonical name with
# labels l0<sep>l1<sep>...<sep>ln emit
#   - the full name
#   - every label except the last ("non-TLD labels")
#   - the last two labels joined ("SLD.TLD")
#   - entity@variant of the full name and of each non-TLD label (P3)
# PTR-mode rows (Quirk Q3, honas_state.c:359) store only the full name
# (+ its entity variant) — no labels, no SLD.
# --------------------------------------------------------------------------


def key_array(
    name: Column,
    entity: Optional[Column] = None,
    sep: str = "/",
    ptr_mode: Optional[Column] = None,
) -> Column:
    cname = canonicalize(name, sep)
    labels = F.split(cname, f"[{sep}]")
    n = F.size(labels)
    non_tld = F.slice(labels, 1, n - 1)
    sld = F.array_join(F.slice(labels, -2, 2), sep)
    full_keys = F.concat(
        F.array(cname),
        non_tld,
        F.when(n >= 2, F.array(sld)).otherwise(F.array()),
    )
    ptr_keys = F.array(cname)
    if entity is not None:
        ent_of = lambda c: F.concat_ws("@", entity, c)  # noqa: E731
        full_keys = F.concat(
            full_keys,
            F.array(ent_of(cname)),
            F.transform(non_tld, ent_of),
        )
        ptr_keys = F.concat(ptr_keys, F.array(ent_of(cname)))
    keys = full_keys
    if ptr_mode is not None:
        keys = F.when(ptr_mode, ptr_keys).otherwise(full_keys)
    return F.array_distinct(keys)


def explode_keys(
    df: DataFrame,
    name_col: str,
    entity_col: Optional[str] = None,
    sep: str = "/",
    ptr_col: Optional[str] = None,
    out_col: str = "key",
) -> DataFrame:
    arr = key_array(
        F.col(name_col),
        F.col(entity_col) if entity_col else None,
        sep,
        F.col(ptr_col) if ptr_col else None,
    )
    return df.withColumn(out_col, F.explode(arr))


# --------------------------------------------------------------------------
# Text analysis for training-data pipelines (documents table).
# All pure built-in expressions.
# --------------------------------------------------------------------------

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "from",
]


def tokens(col: Column) -> Column:
    """Whitespace tokenization with empty-token removal."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def _whole_token_pattern(words) -> str:
    """Regex that matches exactly the tokens() elements equal to one of
    `words`: the width-1 lookarounds (?<!\\S)/(?!\\S) pin the match to
    maximal \\S+ run boundaries, so one non-overlapping match fires per
    whole-token occurrence — a single codegen'd Java-regex pass instead
    of an interpreted per-token isin lambda."""
    import re as _re

    return (
        r"(?<!\S)(?:"
        + "|".join(_re.escape(w) for w in words)
        + r")(?!\S)"
    )


def whole_token_count(col: Column, words) -> Column:
    return F.regexp_count(col, F.lit(_whole_token_pattern(words)))


def stopword_count(col: Column) -> Column:
    return whole_token_count(F.lower(col), _STOPWORDS)


def punct_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Integer/exact quality-scoring features (length, tokens, unique
    tokens, stopwords, punctuation) — the deterministic core of a quality
    classifier; thresholds compose on top as plain filters.

    Tokenizes ONCE into a bound column (n_tokens / n_unique_tokens
    both reference the array; inline copies would each re-split the
    document — no CSE in the interpreted HOF path).  The stopword
    count is a single whole-token regex pass (see stopword_count), not
    a second tokenization plus an interpreted isin filter."""
    c = F.col(text_col)
    out = df.select("*", tokens(c).alias("_qf_tk"))
    toks = F.col("_qf_tk")
    return (
        out.withColumn("n_chars_q", F.length(c))
        .withColumn("n_tokens", F.size(toks))
        .withColumn("n_unique_tokens", F.size(F.array_distinct(toks)))
        .withColumn("n_stopwords", stopword_count(c))
        .withColumn("n_punct", punct_count(c))
        .drop("_qf_tk")
    )


def language_guess(col: Column) -> Column:
    """Heuristic language ID: score = count of language-marker stopwords;
    argmax over a tiny marker table.  A deterministic n-gram/stopword
    heuristic — replace with a real model outside the sandbox."""
    markers = {
        "en": ["the", "and", "of", "is"],
        "es": ["el", "la", "los", "que", "y"],
        "fr": ["le", "la", "les", "et", "est"],
        "de": ["der", "die", "das", "und", "ist"],
        "zh": ["de5", "shi4", "he2"],
    }
    lowered = F.lower(col)
    scores = []
    for lang, words in markers.items():
        score = whole_token_count(lowered, words)
        scores.append(F.struct(score.alias("s"), F.lit(lang).alias("l")))
    return F.array_max(F.array(*scores))["l"]


def fingerprint(col: Column) -> Column:
    """Document fingerprint: MD5 of the whitespace-normalized, lowercased
    text — the exact-dedup key (rolling-hash analog, deterministic)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))


# PII scrubbing — a standard pretraining-pipeline redaction stage.
# Patterns are deliberately restricted to syntax with IDENTICAL
# semantics in Java regex (Spark codegen) and RE2 (the DuckDB oracle):
# character classes, bounded repetition, no lookaround, no \b.
PII_PATTERNS: "dict[str, tuple[str, str]]" = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "[EMAIL]"),
    "ipv4": (r"([0-9]{1,3}\.){3}[0-9]{1,3}", "[IP]"),
    "phone": (r"\+[0-9][0-9()\- ]{6,}[0-9]", "[PHONE]"),
}


def pii_counts(col: Column) -> "dict[str, Column]":
    """Per-kind PII match counts (regexp_count — JVM-side; same
    non-overlapping count as size(regexp_extract_all) without
    materializing the match array per row)."""
    out = {}
    for kind, (pat, _) in PII_PATTERNS.items():
        out[f"n_{kind}"] = F.regexp_count(col, F.lit(pat))
    return out


def scrub_pii(
    df: DataFrame, text_col: str, out_col: str = "text_scrubbed"
) -> DataFrame:
    """Redact emails / IPv4 addresses / international phone numbers to
    typed placeholders and count each kind — one codegen projection,
    applied email -> ipv4 -> phone so a redaction never creates a new
    match for a later pattern.  Counts are computed on the ORIGINAL
    text (what was present), the scrubbed column is what ships."""
    scrubbed = F.col(text_col)
    for kind in ("email", "ipv4", "phone"):
        pat, repl = PII_PATTERNS[kind]
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    cols = pii_counts(F.col(text_col))
    return df.withColumns({**cols, out_col: scrubbed})
