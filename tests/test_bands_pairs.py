"""Banding + pair generation semantics (F1/F4 analogs) and hot-key capping."""

from __future__ import annotations

import random
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lsh_cascade_poc_spark.operators.bands import explode_bands, pairable_bands
from lsh_cascade_poc_spark.operators.pairs import (
    pairs_from_bands,
    pairs_with_min_match,
    shared_key_pairs,
    split_exact_duplicates,
    survivors,
    tag_exact_duplicates,
)
from lsh_cascade_poc_spark.pipeline import merge_evidence


def _sig_df(spark, sigs: dict[int, list[int]]):
    pdf = pd.DataFrame(
        {"doc_id": list(sigs), "minhash": [list(v) for v in sigs.values()]}
    )
    return spark.createDataFrame(pdf, schema="doc_id long, minhash array<long>")


def test_identical_signatures_collide_in_all_bands(spark):
    sig = list(range(16))
    df = _sig_df(spark, {1: sig, 2: sig, 3: list(range(100, 116))})
    bands = explode_bands(df, "minhash", tier=0, n_bands=4, rows_per_band=4)
    assert bands.count() == 12
    pairs = pairs_from_bands(bands).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    mm = pairs_with_min_match(bands, 4).collect()
    assert [(r.id_a, r.id_b, r.n_bands) for r in mm] == [(1, 2, 4)]


def test_partial_band_match(spark):
    a = list(range(16))
    b = list(range(8)) + list(range(200, 208))  # shares bands 0,1 only
    df = _sig_df(spark, {1: a, 2: b})
    bands = explode_bands(df, "minhash", tier=0, n_bands=4, rows_per_band=4)
    mm2 = pairs_with_min_match(bands, 2).collect()
    assert [(r.id_a, r.id_b, r.n_bands) for r in mm2] == [(1, 2, 2)]
    mm3 = pairs_with_min_match(bands, 3).count()
    assert mm3 == 0


def test_band_id_participates_in_key(spark):
    # same 4 lanes at different band positions must NOT collide
    # (the reference's "c{i}_" prefix trick, src/lsh.py:266-304)
    a = [7, 7, 7, 7] + [1, 2, 3, 4]
    b = [5, 5, 5, 5] + [7, 7, 7, 7]
    df = _sig_df(spark, {1: a, 2: b})
    bands = explode_bands(df, "minhash", tier=0, n_bands=2, rows_per_band=4)
    assert pairs_from_bands(bands).count() == 0


def test_tier_participates_in_key(spark):
    df = _sig_df(spark, {1: [1, 2, 3, 4]})
    b0 = explode_bands(df, "minhash", tier=0, n_bands=1, rows_per_band=4)
    b1 = explode_bands(df, "minhash", tier=1, n_bands=1, rows_per_band=4)
    k0 = b0.collect()[0].band_key
    k1 = b1.collect()[0].band_key
    assert k0 != k1


def test_hot_band_cap_drops_and_records(spark):
    sig = [1, 2, 3, 4]
    df = _sig_df(spark, {i: sig for i in range(10)})
    bands = explode_bands(df, "minhash", tier=0, n_bands=1, rows_per_band=4)
    kept, hot = pairable_bands(bands, cap=5)
    assert kept.count() == 0
    hrows = hot.collect()
    assert len(hrows) == 1 and hrows[0].n_docs == 10
    kept2, hot2 = pairable_bands(bands, cap=100)
    assert kept2.count() == 10 and hot2.count() == 0


def test_bypassed_tight_tier_records_no_drops(spark):
    """tight_min_match == 0 bypasses tier 1: the candidates are the coarse
    pairs and no tier-1 bucket is built, so none is recorded as dropped."""
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.pipeline import minhash_candidate_pairs

    # coarse (2 bands x 4 lanes) pairs A-B and B-C through buckets of 2;
    # tight (8 bands x 1 lane): lane 3 is one bucket of all three, above
    # the cap
    sigs = _sig_df(spark, {
        1: [1, 1, 1, 1, 2, 2, 2, 2],
        2: [1, 1, 1, 1, 3, 3, 3, 3],
        3: [5, 5, 5, 1, 3, 3, 3, 3],
    })
    geometry = dict(n_perm=8, coarse_n_bands=2, coarse_rows_per_band=4,
                    tight_n_bands=8, tight_rows_per_band=1, hot_band_cap=2)
    _, hot = minhash_candidate_pairs(sigs, DedupConfig(**geometry))
    assert [(r.tier, r.band_id, r.n_docs) for r in hot.collect()] == [(1, 3, 3)]

    cands, hot = minhash_candidate_pairs(
        sigs, DedupConfig(tight_min_match=0, **geometry))
    assert sorted((r.id_a, r.id_b) for r in cands.collect()) == [(1, 2), (2, 3)]
    assert hot.filter(F.col("tier") == 1).count() == 0


@pytest.mark.parametrize("bad", [
    dict(n_perm=32),                     # coarse 16 x 4 = 64 lanes
    dict(n_perm=64),                     # tight 21 x 6 = 126 lanes
    dict(tight_n_bands=22),              # tight 22 x 6 = 132 lanes
    dict(simhash_band_bits=24),          # 64 bits in 24-bit bands
])
def test_config_rejects_bands_past_the_signature(bad):
    """A band slice past the end of the signature would be empty — one
    bucket every doc shares — so such geometry is refused up front."""
    from lsh_cascade_poc_spark.config import DedupConfig

    with pytest.raises(ValueError):
        DedupConfig(**bad)
    DedupConfig(n_perm=64, coarse_n_bands=16, tight_n_bands=10)  # fits


def test_survivors_and_exact_pairs(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    surv = sorted({r.doc_id for r in survivors(pairs).collect()})
    assert surv == [1, 2, 3]  # set-wise: survivors() may emit duplicates

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "z")],
        "doc_id long, fingerprint string",
    )
    reps, star = split_exact_duplicates(tag_exact_duplicates(docs))
    ep = sorted((r.id_a, r.id_b) for r in star.collect())
    # star topology: every member pairs with the group min
    assert ep == [(1, 2), (1, 3)]
    assert sorted(r.doc_id for r in reps.collect()) == [1, 4, 5]

    # evidence merge: each pair keeps its best score — verified + overlap
    # -> the verified jaccard, exact + overlap -> 1.0, overlap only -> -1.0
    verified = spark.createDataFrame(
        [(4, 5, 0.9)], "id_a long, id_b long, jaccard double"
    )
    overlap = spark.createDataFrame(
        [(1, 3), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    merged = merge_evidence(verified, star, overlap)
    assert sorted(tuple(r) for r in merged.collect()) == [
        (1, 2, 1.0), (1, 3, 1.0), (4, 5, 0.9), (6, 7, -1.0),
    ]


def _random_key_rows(rng: random.Random, ids: list[int], n: int):
    """n (doc_id, k, pos) rows over a small key space (many collisions)."""
    return [(rng.choice(ids), rng.randrange(6), rng.randrange(1000))
            for _ in range(n)]


@pytest.mark.parametrize("seed", [3, 11])
def test_shared_key_pairs_matches_brute_force(spark, seed):
    """shared_key_pairs(new, index) == every pair of rows sharing a key in
    index ∪ new with id_a < id_b and at least one `new` row, payload in id
    order — as a MULTISET (one row per shared key occurrence). Some doc_ids
    sit on both sides, like a re-delivered doc next to its indexed copy."""
    rng = random.Random(seed)
    both = [100, 101, 102]
    new = _random_key_rows(rng, list(range(20, 35)) + both, 40)
    idx = _random_key_rows(rng, list(range(0, 15)) + both, 50)
    schema = "doc_id long, k int, pos int"
    got = Counter(
        tuple(r) for r in shared_key_pairs(
            spark.createDataFrame(new, schema),
            spark.createDataFrame(idx, schema), ["k"], ["pos"],
        ).collect()
    )
    rows = [(*r, True) for r in new] + [(*r, False) for r in idx]
    want = Counter()
    for i, (id1, k1, p1, n1) in enumerate(rows):
        for id2, k2, p2, n2 in rows[i + 1:]:
            if k1 == k2 and id1 != id2 and (n1 or n2):
                (ia, pa), (ib, pb) = sorted([(id1, p1), (id2, p2)])
                want[(k1, ia, ib, pa, pb)] += 1
    assert want and got == want

    # the band probe keeps streaming's former hits_old ∪ hits_new set rule
    bschema = "doc_id long, band_id int, band_key long"
    nb = [(d, k % 2, k) for d, k, _ in new]
    ib = [(d, k % 2, k) for d, k, _ in idx]

    def as_bands(rs):
        return spark.createDataFrame(rs, bschema).withColumn("tier", F.lit(0))

    hits_old = {(min(a, b), max(a, b)) for a, *ka in nb for b, *kb in ib
                if ka == kb and a != b}
    hits_new = {(a, b) for a, *ka in nb for b, *kb in nb
                if ka == kb and a < b}
    got_pairs = pairs_from_bands(as_bands(nb), as_bands(ib)).collect()
    assert len(got_pairs) == len(hits_old | hits_new)
    assert {tuple(r) for r in got_pairs} == hits_old | hits_new
