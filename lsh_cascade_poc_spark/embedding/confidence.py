"""F5: confidence-based multiprobe — the reference's recall-repair knob.

Reference parity:
  - transform_with_confidence  /root/reference/src/dflsh.py:101-134
    (returns binary code AND the raw projection values per bit)
  - query_with_multiprobe      /root/reference/src/dflsh.py:199-262
    (rank bands by mean |projection| ascending; for the `max_probes`
    least-confident bands, flip the single least-confident bit and probe
    the flipped key too)
  - standalone confidence_multiprobe  /root/reference/src/dflsh.py:386-457

Spark restatement: probe-key GENERATION is pure Catalyst expressions over the
(lanes, projections) columns — per band we compute (band_key, sum|proj|,
argmin|proj|) as array expressions, rank bands with sort_array over structs
(deterministic tie-break on band_id), and emit base keys + flipped keys as
one exploded (id, band_id, band_key) table that feeds the SAME band equi-join
as plain banding (`__spark_entry__.q_confidence_multiprobe` joins it to
`vector_hash.explode_lane_bands`). No Python in the probe path: the caller
supplies the fingerprint lanes and the per-bit projections as columns.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .vector_hash import lane_band_key


def _band_conf_structs(
    lanes_col: str, proj_col: str, n_bits: int, band_bits: int
) -> Column:
    """array<struct<conf:double, band_id:int, flipped_key:long>> — one entry
    per band: summed |projection| (== mean up to the constant factor the
    ranking ignores), and the band key with its least-confident bit flipped.
    Struct field ORDER (conf first, band_id second) makes sort_array the
    reference's 'ascending by confidence, stable' ordering."""
    n_bands = n_bits // band_bits
    entries = []
    for b in range(n_bands):
        abs_slice = F.transform(
            F.slice(F.col(proj_col), b * band_bits + 1, band_bits), F.abs
        )
        conf = F.aggregate(
            abs_slice, F.lit(0.0), lambda acc, v: acc + v.cast("double")
        )
        # first-minimum index (0-based within the band) — deterministic
        # tie-break identical to np.argmin
        argmin = (F.array_position(abs_slice, F.array_min(abs_slice)) - 1).cast("int")
        key = lane_band_key(F.col(lanes_col), b, band_bits)
        # 1 << argmin with a COLUMN shift amount: pyspark's shiftleft only
        # takes a literal int, so index into a literal power-of-two table —
        # exact integers, immune to a 1-ulp-low pow() on any platform
        flip_mask = F.element_at(
            F.array(*[F.lit(1 << i) for i in range(band_bits)]), argmin + 1
        )
        flipped = key.bitwiseXOR(flip_mask)
        entries.append(
            F.struct(
                conf.alias("conf"),
                F.lit(b).alias("band_id"),
                flipped.alias("flipped_key"),
            )
        )
    return F.array(*entries)


def confidence_probe_keys(
    lanes_col: str, proj_col: str, n_bits: int, band_bits: int, max_probes: int
) -> Column:
    """array<struct<band_id:int, band_key:long>>: every band's base key, plus
    the flipped key of the `max_probes` lowest-confidence bands
    (query_with_multiprobe Phase 1 + Phase 2, src/dflsh.py:213-260)."""
    n_bands = n_bits // band_bits
    base = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            lane_band_key(F.col(lanes_col), b, band_bits).alias("band_key"),
        )
        for b in range(n_bands)
    ])
    if max_probes <= 0:
        return base
    ranked = F.sort_array(_band_conf_structs(lanes_col, proj_col, n_bits, band_bits))
    extra = F.transform(
        F.slice(ranked, 1, min(max_probes, n_bands)),
        lambda e: F.struct(
            e["band_id"].alias("band_id"), e["flipped_key"].alias("band_key")
        ),
    )
    return F.concat(base, extra)


def explode_confidence_probes(
    df: DataFrame,
    lanes_col: str,
    proj_col: str,
    n_bits: int,
    band_bits: int,
    max_probes: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """-> (id, band_id, band_key) probe table for the band equi-join. Feed as
    the query side of the join; the doc side stays the plain exploded band
    table (docs are indexed once, probing is query-side only —
    exactly the reference's asymmetry)."""
    return df.select(
        F.col(id_col),
        F.explode(
            confidence_probe_keys(lanes_col, proj_col, n_bits, band_bits, max_probes)
        ).alias("p"),
    ).select(id_col, F.col("p.band_id").alias("band_id"),
             F.col("p.band_key").alias("band_key"))


# --- numpy reference (test oracle) -------------------------------------------

def confidence_probes_numpy(
    lanes: np.ndarray, proj: np.ndarray, band_bits: int, max_probes: int
) -> set[tuple[int, int]]:
    """Reference implementation of the probe-key set for ONE row:
    {(band_id, key)} — mirrors query_with_multiprobe's band ranking (mean
    |projection| ascending) and least-confident-bit flip."""
    n_bits = proj.shape[0]
    n_bands = n_bits // band_bits
    u = lanes.astype(np.uint64)

    def key_of(b: int) -> int:
        per_lane = 64 // band_bits
        lane, slot = b // per_lane, b % per_lane
        return int((u[lane] >> np.uint64(slot * band_bits)) & np.uint64((1 << band_bits) - 1))

    probes = {(b, key_of(b)) for b in range(n_bands)}
    conf = [
        (float(np.abs(proj[b * band_bits:(b + 1) * band_bits]).sum()), b)
        for b in range(n_bands)
    ]
    conf.sort()
    for _, b in conf[:max_probes]:
        band_proj = np.abs(proj[b * band_bits:(b + 1) * band_bits])
        flip = int(np.argmin(band_proj))
        probes.add((b, key_of(b) ^ (1 << flip)))
    return probes
