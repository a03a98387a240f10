"""Banding + pair generation semantics (F1/F4 analogs) and hot-key capping."""

from __future__ import annotations

import random
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lsh_cascade_poc_spark.config import DedupConfig
from lsh_cascade_poc_spark.operators.bands import (
    explode_bands,
    slice_agreements_column,
)
from lsh_cascade_poc_spark.operators.pairs import (
    pairs_from_bands,
    shared_key_pairs,
    split_exact_duplicates,
    tag_exact_duplicates,
)
from lsh_cascade_poc_spark.pipeline import (
    merge_evidence,
    minhash_candidate_pairs,
    tight_tier,
)


def _sig_df(spark, sigs: dict[int, list[int]]):
    pdf = pd.DataFrame(
        {"doc_id": list(sigs), "minhash": [list(v) for v in sigs.values()]}
    )
    return spark.createDataFrame(pdf, schema="doc_id long, minhash array<long>")


def _slice_agreements(spark, sigs: dict[int, list[int]], n_bands: int,
                      rows_per_band: int) -> dict[tuple[int, int], int]:
    """slice_agreements_column over every id_a < id_b pair of `sigs`."""
    df = _sig_df(spark, sigs)
    a = df.toDF("id_a", "minhash_a")
    b = df.toDF("id_b", "minhash_b")
    rows = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b",
        slice_agreements_column("minhash_a", "minhash_b", n_bands,
                                rows_per_band).alias("n"),
    ).collect()
    return {(r.id_a, r.id_b): r.n for r in rows}


def test_identical_signatures_collide_in_all_bands(spark):
    sig = list(range(16))
    sigs = {1: sig, 2: sig, 3: list(range(100, 116))}
    bands = explode_bands(_sig_df(spark, sigs), "minhash", tier=0, n_bands=4,
                          rows_per_band=4)
    assert bands.count() == 12
    pairs, _hot = pairs_from_bands(bands, None, 1000)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(1, 2)]
    # identical signatures agree on 4 of 4 slices, unrelated ones on none
    assert _slice_agreements(spark, sigs, 4, 4) == {
        (1, 2): 4, (1, 3): 0, (2, 3): 0,
    }


def test_partial_band_match(spark):
    a = list(range(16))
    b = list(range(8)) + list(range(200, 208))  # shares slices 0,1 only
    assert _slice_agreements(spark, {1: a, 2: b}, 4, 4) == {(1, 2): 2}
    # 2 of 4 slices agree: tier 1 keeps the pair at m=2, drops it at m=3
    sigs = _sig_df(spark, {1: a, 2: b})
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    geometry = dict(n_perm=16, coarse_n_bands=4, tight_n_bands=4,
                    tight_rows_per_band=4)
    for m, want in ((2, [(1, 2)]), (3, [])):
        cfg = DedupConfig(tight_min_match=m, **geometry)
        got = tight_tier(pairs, sigs, cfg)
        assert [(r.id_a, r.id_b) for r in got.collect()] == want, m


def test_band_id_participates_in_key(spark):
    # same 4 lanes at different band positions must NOT collide
    # (the reference's "c{i}_" prefix trick, src/lsh.py:266-304)
    a = [7, 7, 7, 7] + [1, 2, 3, 4]
    b = [5, 5, 5, 5] + [7, 7, 7, 7]
    df = _sig_df(spark, {1: a, 2: b})
    bands = explode_bands(df, "minhash", tier=0, n_bands=2, rows_per_band=4)
    assert pairs_from_bands(bands, None, 1000)[0].count() == 0


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
    pairs, hot = pairs_from_bands(bands, None, 5)
    assert pairs.count() == 0
    hrows = hot.collect()
    assert len(hrows) == 1 and hrows[0].n_docs == 10
    pairs2, hot2 = pairs_from_bands(bands, None, 100)
    assert pairs2.count() == 10 * 9 // 2 and hot2.count() == 0


def test_bypassed_tight_tier_records_no_drops(spark):
    """Tier 1 is a per-pair filter: it builds no bucket, so it records no
    drop, whether it runs (tight_min_match=1) or is bypassed (0). Here it
    keeps both coarse pairs either way."""
    # coarse (2 bands x 4 lanes) pairs A-B and B-C through buckets of 2;
    # tight (8 bands x 1 lane): lane 3 is one value shared by all three
    # docs, which a tight bucket table would hold above the cap
    sigs = _sig_df(spark, {
        1: [1, 1, 1, 1, 2, 2, 2, 2],
        2: [1, 1, 1, 1, 3, 3, 3, 3],
        3: [5, 5, 5, 1, 3, 3, 3, 3],
    })
    geometry = dict(n_perm=8, coarse_n_bands=2, coarse_rows_per_band=4,
                    tight_n_bands=8, tight_rows_per_band=1, hot_band_cap=2)
    for m in (1, 0):
        cands, hot = minhash_candidate_pairs(
            sigs, DedupConfig(tight_min_match=m, **geometry))
        assert sorted((r.id_a, r.id_b) for r in cands.collect()) == \
            [(1, 2), (2, 3)], m
        assert hot.filter(F.col("tier") == 1).count() == 0, m


def _band_join_tier1(sigs: dict[int, list[int]], cfg) -> tuple[set, int]:
    """Python model of the tier 1 this engine had before the per-pair
    filter -> (candidates, hot tight buckets): the coarse pairs (pairable
    coarse buckets: 2..cap docs) AND the pairs sharing >= tight_min_match
    pairable tight buckets, where the tight buckets are built over the
    docs of coarse pairs (the survivors) only."""
    def pairs_by_buckets(ids, n_bands, r):
        buckets: dict = {}
        for d in ids:
            for b in range(n_bands):
                key = (b, tuple(sigs[d][b * r:b * r + r]))
                buckets.setdefault(key, []).append(d)
        shared = Counter()
        for members in buckets.values():
            if 2 <= len(members) <= cfg.hot_band_cap:
                ms = sorted(members)
                for i, x in enumerate(ms):
                    for y in ms[i + 1:]:
                        shared[(x, y)] += 1
        n_hot = sum(len(m) > cfg.hot_band_cap for m in buckets.values())
        return shared, n_hot

    coarse, _ = pairs_by_buckets(sigs, cfg.coarse_n_bands,
                                 cfg.coarse_rows_per_band)
    survivors = {d for p in coarse for d in p}
    tight, n_hot = pairs_by_buckets(sorted(survivors), cfg.tight_n_bands,
                                    cfg.tight_rows_per_band)
    return {p for p in coarse if tight[p] >= cfg.tight_min_match}, n_hot


@pytest.mark.parametrize("m", [1, 2, 3])
def test_tight_tier_matches_band_join_model(spark, m):
    """The per-pair slice filter keeps exactly the pairs the former tight
    band self-join kept whenever no tight bucket among the survivors is
    hot. Seeded families of mutated signatures make pairs agree on 0..all
    tight slices."""
    rng = random.Random(100 + m)
    bases = [[rng.randrange(4) for _ in range(16)] for _ in range(6)]
    sigs = {}
    for d in range(60):
        base = bases[d % len(bases)]
        sigs[d] = [v if rng.random() < 0.9 else rng.randrange(10**6)
                   for v in base]
    # a shared 2-lane coarse band implies no shared 4-lane tight slice, so
    # tier 1 drops coarse pairs at every m
    geometry = dict(n_perm=16, coarse_n_bands=4, coarse_rows_per_band=2,
                    tight_n_bands=4, tight_rows_per_band=4, hot_band_cap=1000)
    cfg = DedupConfig(tight_min_match=m, **geometry)
    want, n_hot = _band_join_tier1(sigs, cfg)
    coarse, _ = _band_join_tier1(sigs, DedupConfig(tight_min_match=0,
                                                   **geometry))
    assert n_hot == 0 and want and want < coarse
    got, hot = minhash_candidate_pairs(_sig_df(spark, sigs), cfg)
    assert {(r.id_a, r.id_b) for r in got.collect()} == want
    assert hot.count() == 0


def test_tight_tier_keeps_pair_of_a_hot_tight_bucket(spark):
    """The documented difference: a coarse pair whose only shared tight
    slice sits in a tight bucket above hot_band_cap was dropped by the
    band self-join and is kept by the per-pair filter."""
    # coarse (2 bands x 2 lanes over lanes 0-3) pairs 1-2 and 3-4; tight
    # (2 bands x 4 lanes): all four docs share slice 1 (lanes 4-7), a
    # bucket of 4 > cap 2, and no pair shares slice 0
    sigs = {
        1: [1, 1, 2, 2, 9, 9, 9, 9],
        2: [1, 1, 3, 3, 9, 9, 9, 9],
        3: [7, 7, 5, 5, 9, 9, 9, 9],
        4: [8, 8, 5, 5, 9, 9, 9, 9],
    }
    cfg = DedupConfig(n_perm=8, coarse_n_bands=2, coarse_rows_per_band=2,
                      tight_n_bands=2, tight_rows_per_band=4,
                      tight_min_match=1, hot_band_cap=2)
    assert _band_join_tier1(sigs, cfg) == (set(), 1)
    got, hot = minhash_candidate_pairs(_sig_df(spark, sigs), cfg)
    assert sorted((r.id_a, r.id_b) for r in got.collect()) == [(1, 2), (3, 4)]
    assert hot.count() == 0


@pytest.mark.parametrize("bad", [
    dict(n_perm=32),                     # coarse 16 x 4 = 64 lanes
    dict(n_perm=64),                     # tight 21 x 6 = 126 lanes
    dict(tight_n_bands=22),              # tight 22 x 6 = 132 lanes
    dict(simhash_band_bits=24),          # 64 bits in 24-bit bands
])
def test_config_rejects_bands_past_the_signature(bad):
    """A band slice past the end of the signature would be empty — one
    bucket every doc shares — so such geometry is refused up front."""
    with pytest.raises(ValueError):
        DedupConfig(**bad)
    DedupConfig(n_perm=64, coarse_n_bands=16, tight_n_bands=10)  # fits


def test_exact_pairs_and_evidence_merge(spark):
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
    """n (doc_id, k, pos) rows over a key space where a key is held by one,
    two or several docs."""
    return [(rng.choice(ids), rng.randrange(30), rng.randrange(1000))
            for _ in range(n)]


@pytest.mark.parametrize("seed", [3, 11])
def test_shared_key_pairs_matches_brute_force(spark, seed):
    """shared_key_pairs(new, index, cap) == every pair of rows sharing a
    key in index ∪ new with id_a < id_b and at least one `new` row, payload
    in id order — as a MULTISET (one row per shared key occurrence) — over
    the keys held by at most `cap` distinct doc_ids; `hot` == the keys held
    by more and by at least one `new` row, with that count. A doc holding a key at several positions
    counts once, and so does a doc_id on both sides, like a re-delivered
    doc next to its indexed copy. cap=2 splits the keys into singletons,
    pairable keys and hot keys; cap=1000 binds on none."""
    rng = random.Random(seed)
    both = [100, 101, 102]
    new = _random_key_rows(rng, list(range(20, 35)) + both, 40)
    idx = _random_key_rows(rng, list(range(0, 15)) + both, 50)
    # doc 20 holds key 30 at two positions, doc 100 holds it on both sides
    new += [(20, 30, 1), (20, 30, 2), (100, 30, 3)]
    idx += [(100, 30, 4)]
    docs_of: dict[int, set] = {}
    for d, k, _ in new + idx:
        docs_of.setdefault(k, set()).add(d)
    assert len(docs_of[30]) == 2
    schema = "doc_id long, k int, pos int"
    rows = [(*r, True) for r in new] + [(*r, False) for r in idx]

    # the band probe keeps streaming's former hits_old ∪ hits_new set rule
    bschema = "doc_id long, band_id int, band_key long"
    nb = [(d, k % 2, k) for d, k, _ in new]
    ib = [(d, k % 2, k) for d, k, _ in idx]

    def as_bands(rs):
        return spark.createDataFrame(rs, bschema).withColumn("tier", F.lit(0))

    for cap in (2, 1000):
        pairs, hot = shared_key_pairs(
            spark.createDataFrame(new, schema),
            spark.createDataFrame(idx, schema), ["k"], cap, ["pos"],
        )
        got = Counter(tuple(r) for r in pairs.collect())
        want = Counter()
        for i, (id1, k1, p1, n1) in enumerate(rows):
            for id2, k2, p2, n2 in rows[i + 1:]:
                if k1 == k2 and id1 != id2 and (n1 or n2) \
                        and len(docs_of[k1]) <= cap:
                    (ia, pa), (ib_, pb) = sorted([(id1, p1), (id2, p2)])
                    want[(k1, ia, ib_, pa, pb)] += 1
        assert want and got == want, cap
        new_keys = {k for _, k, _ in new}
        want_hot = {(k, len(ds)) for k, ds in docs_of.items()
                    if len(ds) > cap and k in new_keys}
        assert {tuple(r) for r in hot.collect()} == want_hot, cap
        assert bool(want_hot) == (cap == 2)
        # keys only indexed docs hold can emit no pair and are not reported
        assert any(len(ds) > cap and k not in new_keys
                   for k, ds in docs_of.items()) == (cap == 2)

        pairable = {k for k, ds in docs_of.items() if len(ds) <= cap}
        hits_old = {(min(a, b), max(a, b)) for a, *ka in nb for b, *kb in ib
                    if ka == kb and a != b and ka[1] in pairable}
        hits_new = {(a, b) for a, *ka in nb for b, *kb in nb
                    if ka == kb and a < b and ka[1] in pairable}
        got_pairs, band_hot = pairs_from_bands(as_bands(nb), as_bands(ib),
                                               cap)
        got_pairs = got_pairs.collect()
        assert len(got_pairs) == len(hits_old | hits_new)
        assert {tuple(r) for r in got_pairs} == hits_old | hits_new
        assert {(r.band_id, r.band_key, r.n_docs)
                for r in band_hot.collect()} == \
            {(k % 2, k, n) for k, n in want_hot}


def test_gated_pairs_leave_no_cached_table(spark):
    """A gated pair join caches nothing: once the pairs and hot keys are
    collected, with no release step, the session's cache manager holds no
    table the calls added."""
    from lsh_cascade_poc_spark.operators.suffix import overlap_candidates

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    sig = [1, 2, 3, 4]
    sigs = _sig_df(spark, {1: sig, 2: sig, 3: sig, 4: [5, 6, 7, 8]})
    fps = spark.createDataFrame(
        [(1, 7, 0), (2, 7, 5), (2, 7, 9), (3, 8, 0)],
        "doc_id long, fp long, pos int",
    )
    cfg = DedupConfig(n_perm=4, coarse_n_bands=1, tight_n_bands=1,
                      tight_rows_per_band=4, hot_band_cap=2,
                      overlap_min_shared_fps=1)
    pairs, hot = minhash_candidate_pairs(sigs, cfg)
    assert pairs.count() == 0 and [r.n_docs for r in hot.collect()] == [3]
    cands = overlap_candidates(fps, cfg)
    assert [(r.id_a, r.id_b) for r in cands.collect()] == [(1, 2)]
    assert cache.numCachedEntries() == before


def test_candidate_tiers_run_no_job_at_call(spark):
    """Building the candidate tiers is lazy: minhash_candidate_pairs,
    simhash_candidate_pairs and overlap_candidates (each through the
    shared_key_pairs gate, with and without an index) start no Spark job;
    their key gates are sized by the plan at run time, not by a count."""
    from lsh_cascade_poc_spark.operators.suffix import overlap_candidates
    from lsh_cascade_poc_spark.pipeline import simhash_candidate_pairs

    sig = [1, 2, 3, 4]
    sigs = _sig_df(spark, {1: sig, 2: sig, 3: [5, 6, 7, 8]}).withColumn(
        "simhash", F.col("doc_id") * 7)
    fps = spark.createDataFrame([(1, 7, 0), (2, 7, 5)],
                                "doc_id long, fp long, pos int")
    cfg = DedupConfig(n_perm=4, coarse_n_bands=1, tight_n_bands=1,
                      tight_rows_per_band=4, tight_min_match=1)
    index = {"signatures": sigs}
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(), default=-1)
    for idx in (None, index):
        minhash_candidate_pairs(sigs, cfg, idx)
        simhash_candidate_pairs(sigs, cfg, idx)
        overlap_candidates(fps, cfg, None if idx is None else fps)
    assert [j for j in tracker.getJobIdsForGroup() if j > before] == []
    # the tracker does see an action's job
    fps.count()
    assert max(tracker.getJobIdsForGroup()) > before


def test_simhash_pairs_probe_an_index(spark):
    """simhash_candidate_pairs(new, cfg, index) == a Python model
    over index ∪ new: pairs with at least one `new` doc (new x new plus
    new x index, never index x index) that share a 16-bit chunk at the same
    position, held by at most `cap` distinct docs, and lie within Hamming
    distance tau; `hot` == the chunks held by more and by at least one
    `new` doc, as tier-2 rows."""
    from itertools import combinations

    from lsh_cascade_poc_spark.pipeline import simhash_candidate_pairs

    mask = (1 << 64) - 1
    rng = random.Random(5)
    bases = [rng.getrandbits(64) for _ in range(4)]

    def near(base):  # a family member: up to 6 flipped bits
        for _ in range(rng.randrange(7)):
            base ^= 1 << rng.randrange(64)
        return base

    def signed(h):
        return h - (1 << 64) if h >> 63 else h

    new = {d: near(rng.choice(bases)) for d in range(20, 32)}
    idx = {d: near(rng.choice(bases)) for d in range(0, 12)}
    idx[1] = idx[0]      # an index x index pair the probe must not emit
    new[20] = idx[2]     # a new doc equal to an indexed one
    lone = rng.getrandbits(64)
    idx.update({d: lone for d in range(12, 16)})  # chunks no new doc holds

    def chunks(h):
        return [(i, (h >> (16 * i)) & 0xFFFF) for i in range(4)]

    docs_of: dict = {}
    for d, h in [*new.items(), *idx.items()]:
        for key in chunks(h):
            docs_of.setdefault(key, set()).add(d)

    def as_df(sigs):
        return spark.createDataFrame(
            [(d, signed(h)) for d, h in sigs.items()],
            "doc_id long, simhash long")

    rows = [(d, h, True) for d, h in new.items()] + \
        [(d, h, False) for d, h in idx.items()]
    for cap in (3, 1000):
        cfg = DedupConfig(hot_band_cap=cap)
        tau = cfg.simhash_hamming_tau
        pairs, hot = simhash_candidate_pairs(as_df(new), cfg,
                                             {"signatures": as_df(idx)})
        want = {
            (min(d1, d2), max(d1, d2))
            for (d1, h1, n1), (d2, h2, n2) in combinations(rows, 2)
            if (n1 or n2) and bin((h1 ^ h2) & mask).count("1") <= tau
            and any(k1 == k2 and len(docs_of[k1]) <= cap
                    for k1, k2 in zip(chunks(h1), chunks(h2)))
        }
        got = [tuple(r) for r in pairs.collect()]
        assert len(got) == len(set(got)) and set(got) == want, cap
        assert (2, 20) in want  # a new doc equal to an indexed one
        assert not any(a in idx and b in idx for a, b in want)
        assert any(a >= 20 for a, _ in want) and any(a < 12 for a, _ in want)
        want_hot = {(2, i, k, len(ds)) for (i, k), ds in docs_of.items()
                    if len(ds) > cap and ds & new.keys()}
        assert {tuple(r) for r in hot.collect()} == want_hot, cap
        assert bool(want_hot) == (cap == 3)
    # the lone chunks, held by 4 indexed docs and no new one, were above
    # the cap at 3 and still not reported: no pair of this batch reads them
    assert all(docs_of[k] == set(range(12, 16)) for k in chunks(lone))
