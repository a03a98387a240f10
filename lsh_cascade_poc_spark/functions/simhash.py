"""Text SimHash (bit-sampling LSH) — the engine's second fingerprint family.

Reference analog: SimHashGenerator.hash_batch (/root/reference/src/lsh.py:234-263)
computes sign-of-projection bits from embedding vectors; for *text* dedup the
classic Charikar construction replaces projections with token-hash bit votes:
each shingle hash votes +1/-1 per bit position, the sign of the per-bit sum is
the fingerprint bit. Computed as a batched numpy kernel (segmented
add-reduce) inside the fused signature pandas_udf (signature_udf.py), same
shape as the reference's batch matmul.

Hamming distance (reference: XOR+popcount, src/lsh.py:307-320) is pure
Catalyst: F.bit_count(a ^ b) — JVM codegen, no Python.

Band chunking of the 64-bit simhash into 16-bit keys mirrors chunk_hash
(/root/reference/src/lsh.py:266-304): chunk i = bits [16i, 16i+16), and the
chunk index participates in the join key (the reference's "c{i}_" prefix trick).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def simhash_from_hashes_numpy(hash_sets: list[np.ndarray], n_bits: int = 64) -> np.ndarray:
    """Reference/test-oracle implementation: list of int64 hash arrays ->
    int64 simhash per row (empty set -> 0)."""
    out = np.zeros(len(hash_sets), dtype=np.int64)
    for i, hs in enumerate(hash_sets):
        if len(hs) == 0:
            continue
        u = np.asarray(hs, dtype=np.int64).astype(np.uint64)
        bits = ((u[:, None] >> np.arange(n_bits, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        sums = (bits * 2 - 1).sum(axis=0)
        code = np.uint64(0)
        for bpos in range(n_bits):
            if sums[bpos] > 0:
                code |= np.uint64(1) << np.uint64(bpos)
        out[i] = code.astype(np.int64)
    return out


def _simhash_flat(flat: np.ndarray, offsets: np.ndarray, n_rows: int, n_bits: int) -> np.ndarray:
    """Vectorized segmented version of the oracle above. Loops over bit
    positions with ONE reused (total,) temp instead of materializing the
    (total, n_bits) vote matrix — large first-touch allocations dominate on
    ballooned VMs. Per bit: count set bits per segment; vote sum =
    2*count - len."""
    out_u = np.zeros(n_rows, dtype=np.uint64)
    if flat.size == 0:
        return out_u.view(np.int64)
    u = flat.astype(np.uint64, copy=False)
    lengths = np.diff(np.append(offsets, flat.size))
    nonempty = lengths > 0
    # see minhash_flat: reduceat over non-empty offsets only, else an empty
    # row's offset corrupts the preceding segment
    off_ne = offsets[nonempty].astype(np.intp)
    len_ne = lengths[nonempty]

    t = np.empty(flat.size, dtype=np.uint64)  # reused per bit
    code_ne = np.zeros(off_ne.shape[0], dtype=np.uint64)
    for bit in range(n_bits):
        np.right_shift(u, np.uint64(bit), out=t)
        np.bitwise_and(t, np.uint64(1), out=t)
        counts = np.add.reduceat(t, off_ne)                 # set bits per row
        positive = (counts.view(np.int64) * 2) > len_ne     # vote sum > 0
        code_ne |= positive.astype(np.uint64) << np.uint64(bit)
    out_u[nonempty] = code_ne
    return out_u.view(np.int64)


def hamming64(a: Column, b: Column) -> Column:
    """XOR + popcount on int64 lanes — reference hamming_distance
    (src/lsh.py:307-320) as a single codegen'd expression."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_key(simhash: Column, band_idx: int, band_bits: int) -> Column:
    """Extract band `band_idx` of `band_bits` bits as a long key
    (chunk_hash analog, src/lsh.py:266-304)."""
    mask = (1 << band_bits) - 1
    return F.shiftrightunsigned(simhash, band_idx * band_bits).bitwiseAND(F.lit(mask))


def hamming64_numpy(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Test oracle for hamming64."""
    x = a.astype(np.uint64) ^ b.astype(np.uint64)
    return np.bitwise_count(x).astype(np.int64) if hasattr(np, "bitwise_count") else np.array(
        [bin(int(v)).count("1") for v in x], dtype=np.int64
    )
