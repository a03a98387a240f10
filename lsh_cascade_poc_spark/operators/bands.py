"""LSH banding: signatures -> exploded (tier, band_id, band_key, doc_id) rows.

Reference analog: chunk_hash splits the 128-bit fingerprint into k prefixed
tokens (/root/reference/src/lsh.py:266-304) stored as an array column and
matched with `list_has_any` (src/db.py:148-169); the designed segment index
explodes them into a side table (CASCADE_SEARCH_DESIGN.md:57-66). At Spark
scale the *only* sane layout is the exploded form: the band table is the join
input, repartitioned on the band key, and the "c{i}_ prefix" trick becomes the
band_id column participating in the join key.

Band keys are computed JVM-side: xxhash64(tier, band_id, slice(signature)) —
Spark's xxhash64 hashes array elements recursively, so no Python is involved
after the signature UDF.

Hot-band capping: a band key shared by m docs yields m(m-1)/2 pairs; one
boilerplate bucket with 10^6 docs is 5*10^11 pairs. AQE splits skewed
partitions but cannot fix a single quadratic key (SURVEY.md §4 item 2), so
buckets above `hot_band_cap` are dropped and *recorded*: the
`hot_band_drops` stage stores every dropped bucket's (tier, band_id,
band_key, n_docs); recall for such boilerplate is recovered by the exact
fingerprint (md5) pass which groups identical docs without pair explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pairs import broadcast_if_small


def band_keys_column(sig_col: str, tier: int, n_bands: int,
                     rows_per_band: int) -> F.Column:
    """array<long> of n_bands keys; band b = xxhash64(tier, b, lanes[b*r : b*r+r])."""
    keys = [
        F.xxhash64(
            F.lit(tier),
            F.lit(b),
            F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
        )
        for b in range(n_bands)
    ]
    return F.array(*keys)


def slice_agreements_column(sig_a: str, sig_b: str, n_bands: int,
                            rows_per_band: int) -> F.Column:
    """int: on how many of the n_bands slices lanes[b*r : b*r+r]
    (band_keys_column's geometry) the arrays sig_a and sig_b agree — the
    number of band buckets the two docs share, counted without any."""
    r = rows_per_band
    same = [
        (F.slice(F.col(sig_a), b * r + 1, r)
         == F.slice(F.col(sig_b), b * r + 1, r)).cast("int")
        for b in range(n_bands)
    ]
    return sum(same, F.lit(0))


def explode_bands(
    signatures: DataFrame,
    sig_col: str,
    tier: int,
    n_bands: int,
    rows_per_band: int,
) -> DataFrame:
    """-> (doc_id, tier, band_id, band_key). posexplode keeps the band index,
    mirroring the segment_id column of the reference's segment index."""
    return (
        signatures.select(
            "doc_id",
            F.posexplode(
                band_keys_column(sig_col, tier, n_bands, rows_per_band)
            ).alias("band_id", "band_key"),
        )
        .withColumn("tier", F.lit(tier))
    )


def bucket_sizes(
    bands: DataFrame, cap: int,
    persist_registry: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The hot-bucket rule, the engine's skew-survival policy: count the
    docs per (tier, band_id, band_key) bucket -> (sizes, hot) where hot =
    the buckets holding more than `cap` docs. The frequency pre-pass is one
    partial-aggregated groupBy (map-side combine), cheap relative to the
    self-join it protects. `hot` (tier, band_id, band_key, n_docs) is
    recorded by the callers, so a drop is observable, not silent.

    When `persist_registry` is given, the sizes table (one row per distinct
    bucket) is persisted and appended to it, so every consumer of sizes and
    hot reuses one aggregation instead of re-scanning the band table."""
    sizes = bands.groupBy("tier", "band_id", "band_key").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    if persist_registry is not None:
        sizes = sizes.persist()
        persist_registry.append(sizes)
    return sizes, sizes.filter(F.col("n_docs") > cap)


def pairable_bands(
    bands: DataFrame, cap: int,
    persist_registry: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split the band table into (pairable, dropped_bucket_stats) where
    pairable = rows whose bucket holds 2..cap docs (bucket_sizes' rule).

    Drops more than the hot cap alone for SELF-JOIN consumers: a
    singleton bucket can never produce a pair, and at this corpus shape
    most buckets are singletons, so the self-join's sort/probe input
    shrinks several-fold (measured on the 3.84M-turn bench corpus,
    local[4], interleaved draws, when tier 1 was a banded self-join too:
    the coarse+tight minhash candidate stage fell from 23.1-32.0s to
    6.7-9.3s with identical 121,724 output pairs). Do NOT use it for band
    tables that feed a persistent INDEX — the streaming index must keep
    singleton buckets, because a future batch's doc may collide with them.

    The gate set goes through broadcast_if_small, whose count action is
    cheap only when `bands` derives from a MATERIALIZED table (explode
    over the signatures checkpoint) — don't feed it an expensive lazy
    plan."""
    sizes, hot = bucket_sizes(
        bands, cap, [] if persist_registry is None else persist_registry
    )
    pairable = sizes.filter(
        (F.col("n_docs") >= 2) & (F.col("n_docs") <= cap)
    ).select("tier", "band_id", "band_key")
    kept = bands.join(broadcast_if_small(pairable),
                      ["tier", "band_id", "band_key"])
    return kept, hot
