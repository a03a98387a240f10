"""Candidate-pair generation: the cascade's Stage 1, as band self-joins.

Reference analog: the per-query coarse filter `WHERE list_has_any(lsh_chunks,
query_chunks)` (/root/reference/src/db.py:148-169) asks "which docs share a
band with THIS query". The all-pairs formulation asks it for every doc at
once: self-join the exploded band table on (tier, band_id, band_key) with
id_a < id_b. The reference's min-match counting knob (DF-LSH band_filter,
/root/reference/src/dflsh.py:187-197,373-383) becomes groupBy(pair).count >= m.

Cascade semantics (mirrors the 3-stage search, src/pipeline.py:68-119):
  tier 0 (coarse bands, few rows/band, high recall) generates pairs over the
  whole corpus; tier 1 (tight bands) is computed ONLY for docs that survived
  tier 0 (left-semi join), and its min-match count prunes the candidate set
  before the expensive exact-Jaccard verify. Deduplicating pairs across bands
  *before* verification is the one barrier worth paying (the reference dedups
  its candidate set the same way, src/e2lsh.py:292-307).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pairs_from_bands(bands: DataFrame, repartition: int = 0) -> DataFrame:
    """(doc_id, tier, band_id, band_key) -> distinct (id_a, id_b) with
    id_a < id_b. The self-join shuffles both sides on the band key — this is
    the pipeline's dominant shuffle; `repartition` pins the partition count
    when AQE's estimate is off at very large scale."""
    b = bands
    if repartition:
        b = b.repartition(repartition, "band_key")
    left = b.select(
        F.col("tier"), F.col("band_id"), F.col("band_key"),
        F.col("doc_id").alias("id_a"),
    )
    right = b.select(
        F.col("tier"), F.col("band_id"), F.col("band_key"),
        F.col("doc_id").alias("id_b"),
    )
    return (
        left.join(right, ["tier", "band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def pairs_with_min_match(bands: DataFrame, min_match: int) -> DataFrame:
    """Min-match band counting (src/dflsh.py:187-197): keep a pair only if it
    collides in >= min_match bands. min_match <= 1 degenerates to the plain
    OR-semantics band join (no counting aggregate needed)."""
    if min_match <= 1:
        return pairs_from_bands(bands).withColumn("n_bands", F.lit(None).cast("long"))
    left = bands.select("tier", "band_id", "band_key", F.col("doc_id").alias("id_a"))
    right = bands.select("tier", "band_id", "band_key", F.col("doc_id").alias("id_b"))
    matched = (
        left.join(right, ["tier", "band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    return matched.filter(F.col("n_bands") >= min_match).select("id_a", "id_b", "n_bands")


def survivors(pairs: DataFrame) -> DataFrame:
    """Doc ids appearing in any candidate pair — the semi-join input that
    gates the next (tighter) cascade tier, mirroring how the reference's
    Stage 2 only touches Stage-1 survivors (src/pipeline.py:91-97).
    NOT deduplicated: the only consumer is a left-semi join, which tolerates
    duplicates — a distinct here would add a full extra shuffle of the pair
    ids purely to shrink the semi-join's build side."""
    return pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    )


def tag_exact_duplicates(
    docs_with_fp: DataFrame, fp_col: str = "fingerprint", id_col: str = "doc_id"
) -> DataFrame:
    """ONE window pass: adds ``_root`` = min id of the row's fingerprint
    group. Materialize THIS table once, then split into representatives
    (id == _root) and star edges (id != _root) with two cheap filters —
    r1 ran the window twice by materializing reps and edges separately."""
    w = Window.partitionBy(fp_col)
    return docs_with_fp.withColumn("_root", F.min(id_col).over(w))


def split_exact_duplicates(
    tagged: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(representatives, star_edges) from a tag_exact_duplicates output.

    representatives = the min-id row of every fingerprint group; star_edges =
    (root, member) for every non-representative. THE key scale move: exact
    duplicates (boilerplate floods, mirrored dumps) collapse to one row
    BEFORE any LSH banding, so an m-fold identical document costs m-1 star
    edges instead of m fingerprint-colliding rows in every band bucket.
    Near-dup relations are invariant under the collapse (identical text =>
    identical shingles => identical jaccard to any third doc), and connected
    components re-attaches members through the star edges."""
    reps = tagged.filter(F.col(id_col) == F.col("_root")).drop("_root")
    star = (
        tagged.filter(F.col(id_col) != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return reps, star

