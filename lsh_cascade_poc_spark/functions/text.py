"""Text scalar functions — all pure Catalyst expressions (JVM-side, codegen).

Parity targets in the reference:
  - normalize_text  <- ``_preprocess_text`` /root/reference/src/loader.py:97-122
    (whitespace collapse, truncate, drop < 10 chars). The reference's
    optional model prefix belongs to its encoder input, which this engine
    does not build.
  - fingerprint_md5 is the exact-dup key the engine adds (no reference
    analog; SURVEY.md §2.6).

No UDFs here: at 100 TB these run inside whole-stage codegen on the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column, max_chars: int = 2048) -> Column:
    """Whitespace-collapse + trim + truncate to max_chars (0 keeps the full
    text), mirroring the reference preprocess (src/loader.py:110-116).
    Returns the normalized string; filtering of short rows is a separate
    predicate (`is_valid_text`)."""
    out = F.regexp_replace(col, r"\s+", " ")
    out = F.trim(out)
    if max_chars:
        out = F.substring(out, 1, max_chars)
    return out


def is_valid_text(col: Column, min_chars: int = 10) -> Column:
    """Reference drops texts shorter than 10 chars (src/loader.py:118-119)."""
    return F.length(col) >= min_chars


def fingerprint_md5(col: Column) -> Column:
    """Exact-dup key: md5 of the FULL normalized text, never truncated.

    A truncated key would collapse any two long documents that share their
    first normalized characters into one "exact" group (found r5 by a
    synthetic prefix-sharing pair: the cascade reported jaccard 1.0 for a
    true-0.885 pair)."""
    return F.md5(normalize_text(col, max_chars=0))
