"""Candidate-pair generation: the cascade's Stage 1, as shared-key joins.

Reference analog: the per-query coarse filter `WHERE list_has_any(lsh_chunks,
query_chunks)` (/root/reference/src/db.py:148-169) asks "which docs share a
band with THIS query". The all-pairs formulation asks it for every doc at
once: self-join the exploded band table on (tier, band_id, band_key) with
id_a < id_b. The reference's min-match counting knob (DF-LSH band_filter,
/root/reference/src/dflsh.py:187-197,373-383) becomes a per-pair count of
agreeing signature slices (operators/bands.py slice_agreements_column).

Every candidate tier emits its pairs through ONE join, `shared_key_pairs`:
the MinHash band tiers and the SimHash chunks (pipeline.py), the winnow
fingerprints (operators/suffix.py overlap_candidates), and streaming's
probes of its persistent index (streaming.py), which pass the indexed rows
as `index`; a batch run passes none.

Cascade semantics (mirrors the 3-stage search, src/pipeline.py:68-119):
  tier 0 (coarse bands, few rows/band, high recall) generates pairs over the
  whole corpus; tier 1 (pipeline.py tight_tier) keeps only the tier-0 pairs
  whose signatures agree on >= tight_min_match tight slices, pruning the
  candidate set before the expensive exact-Jaccard verify. Deduplicating
  pairs across bands *before* both is the one barrier worth paying (the
  reference dedups its candidate set the same way, src/e2lsh.py:292-307).

Hot-key capping, inside that one join: a key shared by m docs yields
m(m-1)/2 pairs; one boilerplate bucket with 10^6 docs is 5*10^11 pairs. AQE
splits skewed partitions but cannot fix a single quadratic key (SURVEY.md §4
item 2), so keys held by more than `cap` docs are dropped and *recorded*:
shared_key_pairs returns them, and the `hot_band_drops` stage stores every
dropped band bucket's (tier, band_id, band_key, n_docs); recall for such
boilerplate is recovered by the exact fingerprint (md5) pass which groups
identical docs without pair explosion. Keys held by one doc are dropped too:
they can never pair, yet most keys are singletons, so the join input shrinks
several-fold for identical output (measured: 65% of the 12.28M exploded
winnow-fp rows of the 2.4M-turn bench corpus were singleton fps; on the
3.84M-turn corpus, local[4], interleaved draws, gating singleton band buckets
took the minhash candidate stage, then a coarse and a tight band self-join,
from 23.1-32.0 s to 6.7-9.3 s with identical 121,724 output pairs).

The gate is one lazy plan, neither cached nor counted: the session's 8MB
(adaptive) broadcast threshold (session.py) broadcasts a small gate set and
keeps a large one a shuffle join, from its runtime size. Broadcasting a
small gate pays (r5 A/B on the 19.6M-fp bench corpus, interleaved draws:
broadcast 25.1-30.6 s vs shuffle gate 35.8-66.3 s vs shuffle_hash hint
30.1-60.2 s, identical 309,711 output rows), and at design scale the gate
outgrows the threshold and stays a shuffle join on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


BAND_KEY = ["tier", "band_id", "band_key"]


def shared_key_pairs(new: DataFrame, index: DataFrame | None,
                     keys: list[str], cap: int,
                     cols=()) -> tuple[DataFrame, DataFrame]:
    """The cascade's one candidate join: docs sharing a key become a pair,
    unless the key is hot -> (pairs, hot).

    The hot-key gate: the distinct docs of each key are counted over
    new ∪ index, for the keys the batch touches (held by at least one `new`
    row: a key held only by indexed docs can emit no pair), and only keys
    held by 2..cap docs pair. Distinct docs, not rows: a doc can hold one
    winnow fp at several positions, and a doc_id re-delivered next to its
    indexed copy is one doc. `hot` (*keys, n_docs) holds the touched keys
    above `cap`, for the caller to record. Both outputs are lazy: building
    them runs no Spark job, and each action re-derives the count from `new`
    and `index`, so those should be materialized tables.

    (doc_id, *keys, *cols) rows of `new` and `index` -> pairs: one row per
    shared key occurrence (keys..., id_a, id_b, {c}_a, {c}_b) with
    id_a < id_b and each payload column following its id; NOT
    deduplicated. Pairs with at least one `new` row are emitted: new x new
    plus new x index, never index x index (an earlier micro-batch already
    emitted those). A batch run is a first micro-batch against an empty
    index (`index=None`): Catalyst prunes the empty new x index branch and
    the empty side of the count, so the batch plan is the plain gated
    self-join."""
    if index is None:
        index = new.limit(0)
    # hash-partitioned on the keys first, the distinct count needs no
    # second exchange: the (keys, doc_id) dedup and the per-key count both
    # run within the keys' partitions (one shuffle, not two); the
    # touched-key flag is one more aggregate over the same exchange
    n_docs = (
        new.select("doc_id", *keys, F.lit(True).alias("_new"))
        .unionByName(index.select("doc_id", *keys, F.lit(False).alias("_new")))
        .repartition(*keys)
        .groupBy(*keys).agg(F.countDistinct("doc_id").alias("n_docs"),
                            F.max("_new").alias("_new"))
        .filter((F.col("n_docs") >= 2) & F.col("_new"))
        .drop("_new")
    )
    gate = n_docs.filter(F.col("n_docs") <= cap).select(*keys)
    new, index = new.join(gate, keys), index.join(gate, keys)

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(*keys, F.col("doc_id").alias(f"id_{tag}"),
                         *[F.col(c).alias(f"{c}_{tag}") for c in cols])

    out = [*keys, "id_a", "id_b",
           *[f"{c}_a" for c in cols], *[f"{c}_b" for c in cols]]
    within = (
        side(new, "a").join(side(new, "b"), keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*out)
    )
    # a doc re-delivered next to its indexed copy never pairs with itself
    cross = side(new, "n").join(side(index, "o"), keys).filter(
        F.col("id_n") != F.col("id_o")
    )
    new_first = F.col("id_n") < F.col("id_o")
    cross = cross.select(
        *keys,
        F.least("id_n", "id_o").alias("id_a"),
        F.greatest("id_n", "id_o").alias("id_b"),
        *[F.when(new_first, F.col(f"{c}_{x}")).otherwise(F.col(f"{c}_{y}"))
          .alias(f"{c}_{t}")
          for t, x, y in (("a", "n", "o"), ("b", "o", "n")) for c in cols],
    )
    return within.unionByName(cross), n_docs.filter(F.col("n_docs") > cap)


def pairs_from_bands(bands: DataFrame, index: DataFrame | None,
                     cap: int) -> tuple[DataFrame, DataFrame]:
    """(doc_id, tier, band_id, band_key) -> (distinct (id_a, id_b) with
    id_a < id_b, hot buckets): the tier-0 band pass of batch, and
    streaming's probe of the new batch's bands against the indexed ones.
    The join shuffles both sides on the band key — the pipeline's dominant
    shuffle. Each doc holds one key per band, so a bucket's distinct docs
    are its rows."""
    pairs, hot = shared_key_pairs(bands, index, BAND_KEY, cap)
    return pairs.select("id_a", "id_b").distinct(), hot


def tag_exact_duplicates(docs_with_fp: DataFrame) -> DataFrame:
    """ONE window pass: adds ``_root`` = min id of the row's fingerprint
    group. Materialize THIS table once, then split into representatives
    (id == _root) and star edges (id != _root) with two cheap filters —
    r1 ran the window twice by materializing reps and edges separately."""
    w = Window.partitionBy("fingerprint")
    return docs_with_fp.withColumn("_root", F.min("doc_id").over(w))


def split_exact_duplicates(
    tagged: DataFrame, indexed: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(representatives, star_edges) from a tag_exact_duplicates output.

    representatives = the min-id row of every fingerprint group; star_edges =
    (root, member) for every non-representative. THE key scale move: exact
    duplicates (boilerplate floods, mirrored dumps) collapse to one row
    BEFORE any LSH banding, so an m-fold identical document costs m-1 star
    edges instead of m fingerprint-colliding rows in every band bucket.
    Near-dup relations are invariant under the collapse (identical text =>
    identical shingles => identical jaccard to any third doc), and connected
    components re-attaches members through the star edges.

    `indexed` (fingerprint, doc_id) are the fingerprints an earlier
    micro-batch already signed (a stream index holds one row per distinct
    fingerprint ever seen): a representative whose fingerprint is among
    them attaches to that indexed doc by an equi-join, as one more exact
    pair, and leaves the representatives: it is never signed or banded
    again, so a text flooding batch after batch adds no rows to the
    PERSISTENT index's buckets, where every later probe would pay for
    them. None is an empty index (a batch run)."""
    reps = tagged.filter(F.col("doc_id") == F.col("_root")).drop("_root")
    star = (
        tagged.filter(F.col("doc_id") != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    if indexed is None:
        return reps, star
    matched = reps.join(
        indexed.select("fingerprint", F.col("doc_id").alias("id_old")),
        "fingerprint",
    ).select("doc_id", "id_old")
    star = star.unionByName(
        matched.select(
            F.least("doc_id", "id_old").alias("id_a"),
            F.greatest("doc_id", "id_old").alias("id_b"),
        )
        # a conversation re-delivered in a later batch (at-least-once
        # source) matches its OWN indexed row — same guard as the probe
        # joins (shared_key_pairs), else a degenerate self-pair lands in
        # dup_pairs
        .filter(F.col("id_a") != F.col("id_b"))
    )
    return reps.join(matched.select("doc_id"), "doc_id", "left_anti"), star
