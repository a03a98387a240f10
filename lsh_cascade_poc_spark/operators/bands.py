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

The band table feeds the one candidate join, operators/pairs.py
shared_key_pairs, which also applies the hot-bucket rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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

