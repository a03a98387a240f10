"""lsh_cascade_poc_spark — a PySpark-native near-duplicate detection engine.

A from-scratch reimagination of cmscom/lsh-cascade-poc (reference read-only at
/root/reference): the reference's multi-stage cascade search (cheap coarse LSH
filter -> Hamming rerank -> exact cosine verify, /root/reference/src/pipeline.py:68-119)
is re-targeted as a bulk *all-pairs* near-duplicate detection + clustering
pipeline over tables of multi-turn conversation transcripts:

    exact md5 collapse  ->  MinHash + SimHash signatures  ->  candidates:
      coarse MinHash bands (tier 0) -> tight slice filter (tier 1, min-match)
      SimHash chunk bands -> Hamming prune
      winnowing fingerprints -> exact long-overlap extension
    ->  exact Jaccard verify  ->  connected-components clustering

(pipeline.py lists the stages; the three candidate sources are unioned
before the verify)

Everything is declarative DataFrame/SQL; Python appears only inside
Arrow-vectorized ``pandas_udf`` kernels (never per-row UDFs).
"""

__version__ = "0.1.0"
