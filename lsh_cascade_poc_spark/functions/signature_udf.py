"""Fused signature kernel: text -> (shingles, minhash, simhash) in ONE
Arrow crossing, fully numpy-vectorized.

Why this exists: the first implementation shingled JVM-side with
transform(sequence, concat_ws(slice(...))) — measured at ~33 core-ms/doc
(higher-order Catalyst expressions allocate per element and don't codegen),
dwarfing the MinHash kernel itself. The reference's lesson applies: hashing
belongs in batched numpy (src/lsh.py:249-253 does ONE matmul per batch).
This kernel:

  1. tokenizes with str.split (documents are already whitespace-normalized)
  2. hashes every token ONCE, vectorized: tokens -> numpy 'U16' (UCS4,
     truncates >16 chars) -> view as 8 uint64 lanes -> odd-multiplier
     xor-fold mix (wraparound uint64 arithmetic)
  3. shingle hash = degree-(k-1) polynomial over k consecutive token hashes
     (k vectorized passes over the flat token-hash array)
  4. per-doc distinct+sort via np.unique on row segments
  5. MinHash / SimHash from the flat shingle arrays (minhash.minhash_flat /
     simhash._simhash_flat — shared with the numpy reference)

The numpy reference (reference_impl.ref_shingles) implements the IDENTICAL
token-hash scheme so signature parity stays lane-exact.
"""

from __future__ import annotations

import sys
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .minhash import make_perms, minhash_flat, storage_lanes
from .simhash import _simhash_flat

_TOKEN_WIDTH = 16  # chars; 'U16' = 64 bytes = 8 uint64 lanes
_MIX_MULTS = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0xFF51AFD7ED558CCD,
     0xC4CEB9FE1A85EC53, 0x2545F4914F6CDD1D],
    dtype=np.uint64,
)
_SHINGLE_BASE = np.uint64(0x100000001B3)  # FNV-ish odd multiplier


def hash_tokens(tokens: list[str]) -> np.ndarray:
    """Vectorized token hashing: list[str] -> (n,) uint64.

    Lane packing is a ZERO-COPY view: a 'U16' element is 64 bytes of UCS4,
    and on little-endian hosts viewing it as uint64 yields exactly
    lo_uint32 | hi_uint32 << 32 per pair — the same values the explicit
    astype + or-shift produced, without materializing two fresh (n, 16)/
    (n, 8) arrays per chunk. That materialization was ~85% of the kernel on
    this memory-ballooned host: first-touch page faults on the ~48MB of
    fresh allocations per 1024-doc chunk cost 700-1100ms where the warm
    arithmetic costs 16ms (measured; see BASELINE.md on the balloon)."""
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    u = np.array(tokens, dtype=f"U{_TOKEN_WIDTH}")        # truncates, zero-pads
    if sys.byteorder == "little":
        packed = u.view(np.uint64).reshape(len(tokens), 8)   # (n, 8), no copy
    else:  # pragma: no cover — parity fallback for big-endian hosts
        lanes = u.view(np.uint32).reshape(len(tokens), -1)
        lanes64 = lanes.astype(np.uint64).reshape(len(tokens), 8, 2)
        packed = lanes64[:, :, 0] | (lanes64[:, :, 1] << np.uint64(32))
    h = np.full(len(tokens), np.uint64(0x9E3779B185EBCA87), dtype=np.uint64)
    for lane in range(8):
        h = (h ^ packed[:, lane]) * _MIX_MULTS[lane]      # wraparound mix
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xC2B2AE3D27D4EB4F)
    h ^= h >> np.uint64(29)
    return h


def shingle_hashes_from_token_hashes(th: np.ndarray, k: int) -> np.ndarray:
    """(n_tokens,) uint64 -> (n_shingles,) uint64 via polynomial combine.
    Fewer than k tokens -> one shingle over all tokens."""
    n = th.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    kk = min(k, n)
    m = n - kk + 1
    acc = np.zeros(m, dtype=np.uint64)
    for j in range(kk):
        acc = acc * _SHINGLE_BASE + th[j : j + m]
    return acc


def doc_shingles(text: str, k: int) -> np.ndarray:
    """Reference-shared per-doc path: text -> sorted distinct int64 shingles."""
    th = hash_tokens(text.split() if text else [])
    sh = shingle_hashes_from_token_hashes(th, k)
    return np.unique(sh.astype(np.int64))


_SIG_SCHEMA = T.StructType([
    T.StructField("shingles", T.ArrayType(T.LongType())),
    # int32 STORAGE lanes (minhash.storage_lanes): halves the dominant
    # column of the persistent signature table with no banding/estimator
    # semantics change — agreement compares lane identity, and the exact
    # verify never reads minhash
    T.StructField("minhash", T.ArrayType(T.IntegerType())),
    T.StructField("simhash", T.LongType()),
])


# Rows per internal slice: bounds worker peak memory INDEPENDENTLY of the
# session's arrow.maxRecordsPerBatch (r1's bench died with 32 workers each
# materializing a full 10k-row batch of multi-KB docs; iterator UDFs may
# yield MORE batches than they receive, so we re-slice here).
_CHUNK_ROWS = 1024


def make_signature_udf(shingle_k: int, n_perm: int, minhash_seed: int,
                       simhash_bits: int = 64):
    """pandas_udf: doc_text -> struct(shingles, minhash, simhash)."""
    a, b = make_perms(n_perm, minhash_seed)

    def _one_chunk(texts: list[str]) -> pd.DataFrame:
        n_rows = len(texts)
        # flat token stream + per-doc token counts
        tok_lists = [t.split() if t else [] for t in texts]
        counts = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                             count=n_rows)
        flat_tokens: list[str] = [tok for lst in tok_lists for tok in lst]
        del tok_lists
        th_flat = hash_tokens(flat_tokens)
        del flat_tokens

        # per-doc shingle hashes (vectorized inner combine), then
        # distinct+sort per doc
        shingle_arrays: list[np.ndarray] = []
        pos = 0
        for c in counts:
            th = th_flat[pos : pos + c]
            pos += c
            sh = shingle_hashes_from_token_hashes(th, shingle_k)
            shingle_arrays.append(np.unique(sh.astype(np.int64)))

        lengths = np.fromiter((len(x) for x in shingle_arrays),
                              dtype=np.int64, count=n_rows)
        flat = (np.concatenate(shingle_arrays) if lengths.sum()
                else np.empty(0, np.int64))
        offsets = np.zeros(n_rows, dtype=np.int64)
        if n_rows > 1:
            np.cumsum(lengths[:-1], out=offsets[1:])

        sig = storage_lanes(minhash_flat(flat, offsets, a, b))  # (n, n_perm) i32
        sim = _simhash_flat(flat, offsets, n_rows, simhash_bits)

        # numpy arrays pass straight through pandas->Arrow conversion as
        # list values — no .tolist() materialization of Python ints (the
        # per-batch GB-scale heap spike that killed r1's bench workers)
        return pd.DataFrame({
            "shingles": shingle_arrays,
            "minhash": list(sig),
            "simhash": sim,
        })

    @F.pandas_udf(_SIG_SCHEMA)
    def signature(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            for lo in range(0, len(s), _CHUNK_ROWS):
                yield _one_chunk(s.iloc[lo : lo + _CHUNK_ROWS].tolist())

    return signature

