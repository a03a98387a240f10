"""Band tables over vector fingerprints packed into int64 lanes.

Reference parity:
  - chunk_hash banding           /root/reference/src/lsh.py:266-304
  - Overlap(w, s) segments       CASCADE_SEARCH_DESIGN.md:17-38 (H18)

Fingerprints are ``array<long>`` lanes (n_bits/64 elements) — never Python
bigints or hex strings in executors (SURVEY.md §1.4). The driver queries
build the lanes in SQL (`__spark_entry__._SPARK_SIGNBIT`); these helpers
only cut them into band keys.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lane_band_key(lanes: Column, band_idx: int, band_bits: int) -> Column:
    """Extract band `band_idx` of `band_bits` bits from the lane array as a
    long key (chunk_hash analog; band_bits must divide 64)."""
    per_lane = 64 // band_bits
    lane = band_idx // per_lane
    shift = (band_idx % per_lane) * band_bits
    mask = (1 << band_bits) - 1
    return F.shiftrightunsigned(
        F.element_at(lanes, lane + 1), shift
    ).bitwiseAND(F.lit(mask))


def explode_lane_bands(df, lanes_col: str, n_bits: int, band_bits: int,
                       id_col: str = "vec_id"):
    """-> (id, band_id, band_key) exploded band table over a lane fingerprint."""
    n_bands = n_bits // band_bits
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                lane_band_key(F.col(lanes_col), b, band_bits) for b in range(n_bands)
            ])
        ).alias("band_id", "band_key"),
    )


def overlap_segment_key(lanes: Column, seg_idx: int, w: int, s: int) -> Column:
    """H18: segment `seg_idx` of the Overlap(w, s) family — the w-bit window
    starting at bit seg_idx*s of the lane-packed fingerprint (reference
    CASCADE_SEARCH_DESIGN.md:17-38: 8-bit windows, 4-bit stride, 31 segments
    over 128 bits; notebook 49). Windows may straddle a 64-bit lane boundary;
    all shifts are static per segment so this stays whole-stage codegen."""
    start = seg_idx * s
    lane, lo = start // 64, start % 64
    mask = (1 << w) - 1
    v = F.shiftrightunsigned(F.element_at(lanes, lane + 1), lo)
    if lo + w > 64:
        # straddle: low bits of the next lane shifted up (lo >= 1 here since
        # w <= 64, so the shift amount 64-lo is a valid 1..63)
        v = v.bitwiseOR(F.shiftleft(F.element_at(lanes, lane + 2), 64 - lo))
    return v.bitwiseAND(F.lit(mask))


def explode_overlap_segments(
    df, lanes_col: str, n_bits: int, w: int, s: int, id_col: str = "vec_id"
):
    """-> (id, band_id, band_key): the segment-index side table
    (CASCADE_SEARCH_DESIGN.md:57-66) as an exploded relation; OR-semantics
    candidate lookup is the same band equi-join as every other tier."""
    n_segs = (n_bits - w) // s + 1
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                overlap_segment_key(F.col(lanes_col), i, w, s) for i in range(n_segs)
            ])
        ).alias("band_id", "band_key"),
    )
