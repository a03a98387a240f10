"""Text scalar functions — all pure Catalyst expressions (JVM-side, codegen).

Parity targets in the reference:
  - normalize_text  <- ``_preprocess_text`` /root/reference/src/loader.py:97-122
    (whitespace collapse, truncate 2048, drop < 10 chars, optional prefix)
  - token_count / quality / langid / fingerprint are the training-data-pipeline
    extensions the engine adds (no reference analog; SURVEY.md §2.6).

No UDFs here: at 100 TB these run inside whole-stage codegen on the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(
    col: Column,
    max_chars: int = 2048,
    prefix: str = "",
) -> Column:
    """Whitespace-collapse + trim + truncate, mirroring the reference
    preprocess (src/loader.py:110-116). Returns the normalized string;
    filtering of short rows is a separate predicate (`is_valid_text`)."""
    out = F.regexp_replace(col, r"\s+", " ")
    out = F.trim(out)
    if max_chars:
        out = F.substring(out, 1, max_chars)
    if prefix:
        out = F.concat(F.lit(prefix), out)
    return out


def is_valid_text(col: Column, min_chars: int = 10) -> Column:
    """Reference drops texts shorter than 10 chars (src/loader.py:118-119)."""
    return F.length(col) >= min_chars


def tokens(col: Column) -> Column:
    """Whitespace tokenization -> array<string>. Empty string -> empty array."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def quality_features(col: Column) -> dict[str, Column]:
    """Cheap document-quality heuristics (length / punctuation / stopword /
    uniqueness ratios) as named columns — the kind of scoring a training-data
    pipeline runs before dedup. All built-ins."""
    toks = tokens(col)
    n_tok = F.size(toks)
    n_chars = F.length(col)
    stop = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    n_punct = n_chars - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    n_uniq = F.size(F.array_distinct(F.transform(toks, F.lower)))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "avg_token_len": F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "unique_token_ratio": F.when(n_tok > 0, n_uniq / n_tok).otherwise(F.lit(0.0)),
    }


# Tiny fixed stopword lists: enough for a deterministic heuristic, not a model.
_EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "this", "was", "are", "be",
]

_LANG_MARKERS: dict[str, list[str]] = {
    # language -> marker tokens (lowercase). Deterministic n-gram/stopword
    # heuristic in the spirit of classic langid; NOT a trained model.
    "en": ["the", "and", "of", "is", "was", "with", "this"],
    "es": ["el", "la", "los", "las", "es", "una", "por", "como"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "est", "une", "pour", "dans", "que"],
    "zh": ["的", "是", "了", "和", "在"],
}


def langid_scores(col: Column) -> dict[str, Column]:
    """Marker-token hit count per language; langid = argmax (ties -> 'en').
    Returns {lang: count_col}."""
    toks = F.transform(tokens(col), F.lower)
    out = {}
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
    return out


def langid(col: Column) -> Column:
    """Pick the language whose markers hit most often (deterministic order of
    comparison; 'und' when nothing matches)."""
    scores = langid_scores(col)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(scores):  # deterministic tie-break: alphabetical
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def fingerprint_md5(col: Column, max_chars: int = 2048) -> Column:
    """Content fingerprint of the normalized text (exact-dup key).

    max_chars follows normalize_text's default for RAW input text (the
    standalone exact-dup operator's semantics, reference src/loader.py
    truncation). Pass max_chars=0 when fingerprinting text that is already
    normalized and must be keyed on its FULL content — e.g. the pipeline's
    assembled doc_text: a truncated fingerprint falsely collapses any two
    long documents that share their first max_chars normalized characters
    into one "exact" group (found r5 by a synthetic prefix-sharing pair:
    the cascade reported jaccard 1.0 for a true-0.885 pair)."""
    return F.md5(normalize_text(col, max_chars=max_chars))
