"""Verification stage: exact Jaccard on candidate pairs (cascade Stage 3).

Reference analog: the exact cosine rerank over Stage-2 survivors
(/root/reference/src/pipeline.py:170-203) — the expensive, exact metric runs
only on the tiny candidate set. Here the exact metric is Jaccard over the
stored hashed-shingle sets; the cheap prune before it is the MinHash
signature-agreement estimate (lane-agreement fraction), mirroring the
reference's Hamming rerank (src/pipeline.py:135-168).

Both sides of each pair need their shingle arrays: two joins against the
signature table. The pair table is orders of magnitude smaller than the
corpus after banding (the reference measures ~6x Stage-1 reduction,
CASCADE_SEARCH_DESIGN.md:185-199; banding at our thresholds reduces far
more), so these are fine-grained shuffle joins on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.minhash import jaccard_estimate_from_signatures
from ..functions.shingles import jaccard_on_shingle_arrays

# stage-2 prune of verify_pairs_exact_jaccard: a pair survives iff its
# MinHash lane-agreement estimate is >= threshold - ESTIMATE_MARGIN (the
# __spark_entry__ dedup oracle reads this constant)
ESTIMATE_MARGIN = 0.1


def attach_pair_sides(
    pairs: DataFrame,
    signatures: DataFrame,
    cols: list[str],
) -> DataFrame:
    """pairs(id_a, id_b, ...) + signatures(doc_id, *cols) ->
    pairs + {c}_a + {c}_b for each requested column."""
    sig_a = signatures.select(
        F.col("doc_id").alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    sig_b = signatures.select(
        F.col("doc_id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    )
    return pairs.join(sig_a, "id_a").join(sig_b, "id_b")


def verify_pairs_exact_jaccard(
    pairs: DataFrame,
    signatures: DataFrame,
    threshold: float,
) -> DataFrame:
    """-> dup_pairs(id_a, id_b, jaccard), verified in three widening joins so
    the wide shingle arrays shuffle only for near-final survivors (the
    cascade principle applied to the verify stage itself):

      1. size-ratio prune (16-byte join): J >= t implies
         min(|A|,|B|)/max(|A|,|B|) >= t — EXACT, zero recall loss.
      2. MinHash lane-agreement estimate (1KB join): drop pairs whose
         estimate < t - ESTIMATE_MARGIN. The estimate is Binomial(n_perm, J)/
         n_perm, so at n_perm=128 and margin=0.1 the false-drop probability
         for a true J >= t pair is ~Phi(-0.1/0.035) < 0.3% — and the numpy
         reference applies the IDENTICAL rule, so parity is exact.
      3. exact Jaccard on shingle sets (wide join) >= t.
    """
    # n_shingles (every signatures table comes from build_signatures), not
    # F.size(shingles): the size-prune joins then read one int per doc, not
    # the WIDE shingle-array column (guide §2.3 "project before the
    # exchange" / §6 column pruning)
    sizes = signatures.select(
        F.col("doc_id"), F.col("n_shingles").alias("n_sh")
    )
    p = (
        attach_pair_sides(pairs, sizes, ["n_sh"])
        .filter(
            F.least("n_sh_a", "n_sh_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_sh_a", "n_sh_b").cast("double")
        )
        .select("id_a", "id_b")
    )

    p = (
        attach_pair_sides(p, signatures, ["minhash"])
        .filter(
            jaccard_estimate_from_signatures(F.col("minhash_a"),
                                             F.col("minhash_b"))
            >= F.lit(threshold - ESTIMATE_MARGIN)
        )
        .select("id_a", "id_b")
    )

    sided = attach_pair_sides(p, signatures, ["shingles"])
    jac = jaccard_on_shingle_arrays(F.col("shingles_a"), F.col("shingles_b"))
    return (
        sided.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
