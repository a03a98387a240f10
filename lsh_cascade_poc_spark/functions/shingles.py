"""Shingle-set similarity.

Reference analog: the LSH chunk tokens stored per document
(/root/reference/src/db.py:65, produced by chunk_hash at src/lsh.py:266-304)
are the reference's "set representation" of a document. For text dedup the
set is word k-gram shingles, hashed to int64 by the fused signature kernel
(signature_udf.py); the exact Jaccard of two such sets stays a Catalyst
built-in expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def jaccard_on_shingle_arrays(a: Column, b: Column) -> Column:
    """Exact Jaccard of two shingle-set arrays — pure built-ins
    (verification stage; reference analog is the exact cosine rerank,
    src/pipeline.py:170-203)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))
