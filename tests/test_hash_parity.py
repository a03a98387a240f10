"""Hash-kernel parity: pure-python/numpy oracles == Spark JVM results.

Mirrors the reference's hash-core unit tests (/root/reference/tests/test_lsh.py:
determinism :12-16, batch ≡ single :66-72, Hamming identities :138-168)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from lsh_cascade_poc_spark.functions.minhash import make_perms, minhash_numpy
from lsh_cascade_poc_spark.functions.signature_udf import (
    doc_shingles,
    make_signature_udf,
)
from lsh_cascade_poc_spark.functions.simhash import (
    hamming64,
    hamming64_numpy,
    simhash_from_hashes_numpy,
)
from lsh_cascade_poc_spark.reference_impl import xxh64_i64


def test_python_xxh64_matches_spark_xxhash64(spark):
    strings = ["", "a", "hello world", "passage: 日本語テキスト", "x" * 100,
               "tok001 tok002 tok003", "\t spaced \n"]
    df = spark.createDataFrame([(s,) for s in strings], ["s"])
    got = [r.h for r in df.select(F.xxhash64("s").alias("h")).collect()]
    want = [xxh64_i64(s) for s in strings]
    assert got == want


# texts for the fused kernel: an empty doc, docs shorter than one shingle,
# and longer ones
_TEXTS = ["", "one", "two tokens", "a b c d e f g h",
          " ".join(f"w{i % 37}" for i in range(300)),
          "passage: 日本語テキスト mixed with ascii tokens and more tokens"]
_K = 3


def _fused_signatures(spark, n_perm: int, seed: int, n_bits: int):
    """The fused signature kernel over _TEXTS -> its rows, in text order."""
    df = spark.createDataFrame(list(enumerate(_TEXTS)), "id long, text string")
    udf = make_signature_udf(_K, n_perm, seed, n_bits)
    return [r.sig for r in
            df.select("id", udf("text").alias("sig")).orderBy("id").collect()]


def test_minhash_spark_matches_numpy(spark):
    """The fused kernel's minhash column == minhash_numpy over the same
    shingle sets, empty doc included."""
    n_perm, seed = 32, 42
    want = minhash_numpy([doc_shingles(t, _K) for t in _TEXTS], n_perm, seed)
    got = np.array([s.minhash for s in _fused_signatures(spark, n_perm, seed,
                                                         64)],
                   dtype=np.int64)
    assert np.array_equal(got, want)


def test_minhash_determinism_and_seed_sensitivity():
    s = [np.array([1, 2, 3, 99], dtype=np.int64)]
    a = minhash_numpy(s, 16, 42)
    b = minhash_numpy(s, 16, 42)
    c = minhash_numpy(s, 16, 43)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_minhash_estimates_jaccard():
    # two sets with known overlap: signature agreement ~= jaccard
    rng = np.random.default_rng(1)
    base = np.unique(rng.integers(0, 2**61, size=1100, dtype=np.int64))[:1000]
    a, b = base[:800], base[200:]  # |inter|=600, |union|=1000 -> J=0.6
    sig = minhash_numpy([np.sort(a), np.sort(b)], 256, 42)
    agree = float((sig[0] == sig[1]).mean())
    assert abs(agree - 0.6) < 0.1


def test_simhash_spark_matches_numpy(spark):
    """The fused kernel's simhash column == simhash_from_hashes_numpy over
    the same shingle sets (an empty doc hashes to 0)."""
    sets = [doc_shingles(t, _K) for t in _TEXTS]
    want = simhash_from_hashes_numpy(sets, 64)
    sigs = _fused_signatures(spark, 32, 42, 64)
    got = np.array([s.simhash for s in sigs], dtype=np.int64)
    assert np.array_equal(got, want)
    assert got[0] == 0 and np.all(got[1:] != 0)
    # the shingles column is the same sets the references hashed
    assert all(list(s.shingles) == list(w) for s, w in zip(sigs, sets))


def test_simhash_similar_sets_close_hamming():
    # mirrors test_lsh.py:33-49 (similar vectors -> small Hamming)
    rng = np.random.default_rng(3)
    base = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)
    variant = base.copy()
    variant[:25] = rng.integers(-(2**62), 2**62, size=25, dtype=np.int64)  # 5% change
    unrelated = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)
    h = simhash_from_hashes_numpy([base, variant, unrelated], 64)
    d_sim = int(hamming64_numpy(h[0:1], h[1:2])[0])
    d_unrel = int(hamming64_numpy(h[0:1], h[2:3])[0])
    assert d_sim < 16
    assert 16 < d_unrel < 48  # mirrors orthogonal band 40<d<88 of 128 scaled to 64


def test_hamming_identities(spark):
    # zero / symmetry / single-bit — test_lsh.py:138-168 analogs
    df = spark.createDataFrame(
        [(0, 0), (0, 1), (-1, 0), (1234567, 1234567), (1 << 62, (1 << 62) | 1)],
        "a long, b long",
    )
    rows = df.select(
        hamming64(F.col("a"), F.col("b")).alias("d"),
        hamming64(F.col("b"), F.col("a")).alias("dr"),
    ).collect()
    ds = [(r.d, r.dr) for r in rows]
    assert ds[0] == (0, 0)
    assert ds[1] == (1, 1)
    assert ds[2] == (64, 64)   # -1 = all ones
    assert ds[3] == (0, 0)
    assert ds[4] == (1, 1)
    for d, dr in ds:
        assert d == dr


def test_storage_lanes_preserve_agreement_semantics():
    """int32 storage truncation (minhash.storage_lanes): equal int64 lanes
    stay equal (the MinHash agreement property), the empty-set sentinel
    truncates consistently, and the lane-agreement Jaccard estimate of two
    related sets is unchanged by truncation (no same-shingle lane can
    diverge; cross-collisions are 2^-32)."""
    from lsh_cascade_poc_spark.functions.minhash import (
        minhash_flat,
        storage_lanes,
    )

    rng = np.random.default_rng(9)
    a_set = np.unique(rng.integers(-(1 << 62), 1 << 62, 400, dtype=np.int64))
    b_set = np.concatenate([a_set[:200], np.unique(
        rng.integers(-(1 << 62), 1 << 62, 200, dtype=np.int64))])
    a, b = make_perms(128, 42)
    flat = np.concatenate([a_set, b_set])
    offsets = np.array([0, len(a_set)], dtype=np.int64)
    full = minhash_flat(flat, offsets, a, b)
    stored = storage_lanes(full)
    assert stored.dtype == np.int32 and stored.shape == full.shape
    # agreement pattern identical pre/post truncation
    assert np.array_equal(full[0] == full[1], stored[0] == stored[1])
    # empty set: sentinel lane truncates deterministically
    empty = minhash_numpy([np.empty(0, np.int64)], 8, 42)
    assert (empty == empty[0, 0]).all()
