"""MinHash signatures — batched numpy kernels over hashed shingle sets.

Reference analog: the 128-bit binary fingerprint pipeline
(/root/reference/src/lsh.py:234-263 batch SimHash; /root/reference/src/itq_lsh.py:130-161
ITQ transform). Like the reference we compute fingerprints with *batched numpy
kernels* (src/lsh.py:249-253 does one (bits, dim) @ (dim, n) matmul per batch);
here the batch arrives as an Arrow RecordBatch inside the fused signature
pandas_udf (signature_udf.py), and the kernel is a per-permutation
multiply-add + segmented min-reduce.

Permutation family: h_i(x) = a_i * x + b_i over Z/2^64 with a_i odd — a
bijection of the 64-bit shingle-hash space (see make_perms for why no
modulo). Exactly reproducible in pure numpy (minhash_numpy), the test oracle
for batch==reference parity (mirrors /root/reference/tests/test_lsh.py:66-72
batch≡single).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


_EMPTY_SENTINEL = np.int64((1 << 63) - 1)  # signature lane for empty sets


def make_perms(n_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) parameter vectors, uint64, a ODD. The permutation
    family is h_i(x) = a_i * x + b_i over Z/2^64 — an odd multiplier makes it
    a bijection of the 64-bit space, i.e. a true permutation of the (already
    well-mixed) shingle-hash universe, with no modulo in the hot loop.
    (The classical mod-Mersenne family cost 2 integer divisions per element;
    this VM executes 64-bit div ~100x slower than mul, and bijectivity is
    exactly the property MinHash needs.) Derived from seed only — broadcast
    to executors by closure capture, like the reference ships its pickled
    hyperplane/ITQ params (src/itq_lsh.py:204-237)."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 1 << 63, size=n_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 1 << 63, size=n_perm, dtype=np.uint64)
    return a, b


def minhash_flat(
    flat: np.ndarray,
    offsets: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
) -> np.ndarray:
    """Core kernel: flat int64 shingle hashes + row offsets -> (n_rows, n_perm)
    int64 signature matrix. One reused temp buffer (allocation/first-touch of
    large temporaries dominates on ballooned VMs); per permutation: one
    multiply, one add, one segmented min (np.minimum.reduceat)."""
    n_perm = len(a)
    n_rows = len(offsets)
    out = np.empty((n_rows, n_perm), dtype=np.int64)
    if flat.size == 0:
        out[:] = _EMPTY_SENTINEL
        return out

    x = flat.astype(np.uint64, copy=False)
    lengths = np.diff(np.append(offsets, flat.size))
    nonempty = lengths > 0
    # reduceat over NON-EMPTY row offsets only: an empty row's offset equals
    # the next row's offset, and clamping it into range would steal the last
    # element of the preceding segment (a genuine corruption bug caught by
    # the batch-vs-oracle parity test)
    off_ne = offsets[nonempty].astype(np.intp)

    out[:] = _EMPTY_SENTINEL
    t = np.empty(flat.size, dtype=np.uint64)  # reused across all perms
    for i in range(n_perm):
        np.multiply(x, a[i], out=t)
        np.add(t, b[i], out=t)
        out[nonempty, i] = np.minimum.reduceat(t, off_ne).view(np.int64)
    return out


def storage_lanes(sig: np.ndarray) -> np.ndarray:
    """int64 signature matrix -> int32 STORAGE lanes (low 32 bits).

    MinHash agreement compares the IDENTITY of each lane's minimizing
    shingle, not the value: the low-32-bit projection preserves
    equal-shingle => equal-lane exactly and adds cross-collisions at
    2^-32/lane — invisible next to the estimator's Binomial(n_perm, J)
    noise and the banding false-positive rate (verify is exact Jaccard
    regardless). Payoff: the minhash column is the dominant term of the
    persistent signature table (README "Scale math"), and int32 lanes
    halve it (~180 TB -> ~95 TB at 10^12 turns)."""
    return (sig.view(np.uint64) & np.uint64(0xFFFFFFFF)).astype(np.int32)


def minhash_numpy(shingle_sets: list[np.ndarray], n_perm: int, seed: int) -> np.ndarray:
    """Reference implementation over a list of per-doc shingle-hash arrays,
    in STORAGE form (int32 lanes). Test oracle: must equal the fused signature
    kernel's minhash lane-for-lane."""
    a, b = make_perms(n_perm, seed)
    if not shingle_sets:
        return np.empty((0, n_perm), dtype=np.int32)
    flat = (
        np.concatenate([np.asarray(s, dtype=np.int64) for s in shingle_sets])
        if any(len(s) for s in shingle_sets)
        else np.empty(0, dtype=np.int64)
    )
    offsets = np.cumsum([0] + [len(s) for s in shingle_sets[:-1]], dtype=np.int64)
    return storage_lanes(minhash_flat(flat, offsets, a, b))


def jaccard_estimate_from_signatures(sig_a: "F.Column", sig_b: "F.Column") -> "F.Column":
    """MinHash Jaccard estimate = fraction of agreeing lanes — pure built-ins
    (used as a cheap pre-verify prune; exact verify uses shingle sets)."""
    agree = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")), lambda v: v == 1)
    )
    return agree / F.size(sig_a)
