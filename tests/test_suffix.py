"""Winnowing fingerprints + exact overlap extension (the substring stage)."""

from __future__ import annotations

import numpy as np

from lsh_cascade_poc_spark.config import DedupConfig
from lsh_cascade_poc_spark.operators.suffix import (
    _extend_match,
    _kgram_hashes,
    _winnow,
    _winnow_flat,
    overlap_candidates,
    verify_overlaps,
    winnow_fingerprints,
)

_ROLL_P = (1 << 61) - 1
_ROLL_BASE = 1_000_003


def _naive_kgram_hashes(text: str, k: int) -> list[int]:
    data = text.encode("utf-8", "replace")
    mask = (1 << 64) - 1
    out = []
    for i in range(len(data) - k + 1):
        h = 0
        for ch in data[i : i + k]:
            h = (h * _ROLL_BASE + ch) & mask  # uint64 wraparound
        out.append(h - (1 << 64) if h >= (1 << 63) else h)
    return out


def test_kgram_hashes_match_naive():
    text = "the quick brown fox jumps over the lazy dog repeatedly and often"
    got = _kgram_hashes(text, 8).tolist()
    want = _naive_kgram_hashes(text, 8)
    assert got == want


def test_kgram_shared_substring_shares_hashes():
    a = "PREFIX common-stretch-of-text-here SUFFIXA"
    b = "other common-stretch-of-text-here SUFFIXB"
    ha = set(_kgram_hashes(a, 10).tolist())
    hb = set(_kgram_hashes(b, 10).tolist())
    assert ha & hb


def test_winnow_guarantee():
    # any shared substring of length >= w + k - 1 chars yields a shared
    # fingerprint (Schleimer et al. 2003 correctness property)
    k, w = 8, 6
    shared = "0123456789abcdefghijklmnopqrstuv"  # len 32 >= w+k-1 = 13
    a = "XXXX" + shared + "YYYYYYYYYY"
    b = "ZZZZZZZZZZZ" + shared + "WWW"
    fa, _ = _winnow(_kgram_hashes(a, k), w)
    fb, _ = _winnow(_kgram_hashes(b, k), w)
    assert set(fa.tolist()) & set(fb.tolist())


def test_winnow_flat_parity():
    # the O(n) chunk-level block selection must reproduce the per-doc
    # reference _winnow EXACTLY — including rightmost tie-breaks, which a
    # tiny value alphabet forces constantly, and the <=w small-doc branch
    rng = np.random.default_rng(7)
    for w in (2, 3, 6, 32, 64):
        for trial in range(20):
            n_docs = int(rng.integers(1, 12))
            counts = rng.integers(0, 4 * w, size=n_docs)
            grams = rng.integers(0, 5, size=int(counts.sum())).astype(np.int64)
            fps_flat, pos_flat = _winnow_flat(grams, counts, w)
            off = 0
            for d, g in enumerate(counts):
                ref_fps, ref_pos = _winnow(grams[off : off + g], w)
                assert pos_flat[d].tolist() == ref_pos.tolist(), (w, trial, d)
                assert fps_flat[d].tolist() == ref_fps.tolist(), (w, trial, d)
                off += g
    # large random-value doc (no ties) across an odd block boundary
    grams = rng.integers(-(2**62), 2**62, size=5000).astype(np.int64)
    fps_flat, pos_flat = _winnow_flat(grams, np.array([5000]), 32)
    ref_fps, ref_pos = _winnow(grams, 32)
    assert pos_flat[0].tolist() == ref_pos.tolist()
    assert fps_flat[0].tolist() == ref_fps.tolist()


def test_extend_match():
    a = "aaa MIDDLE-SHARED-PART zzz"
    b = "bb MIDDLE-SHARED-PART qqqq"
    pa, pb = a.index("MIDDLE"), b.index("MIDDLE")
    got = _extend_match(a.encode(), b.encode(), pa + 3, pb + 3, 5)
    assert got == len(" MIDDLE-SHARED-PART ")
    # hash-collision guard: mismatched seed bytes -> 0
    assert _extend_match(b"abcdef", b"zzzzzz", 0, 0, 3) == 0


def _extend_match_oracle(ba: bytes, bb: bytes, pa: int, pb: int, k: int) -> int:
    """The byte-at-a-time extension _extend_match replaced: the oracle."""
    if ba[pa : pa + k] != bb[pb : pb + k]:
        return 0
    lo_a, lo_b = pa, pb
    while lo_a > 0 and lo_b > 0 and ba[lo_a - 1] == bb[lo_b - 1]:
        lo_a -= 1
        lo_b -= 1
    hi_a, hi_b = pa + k, pb + k
    while hi_a < len(ba) and hi_b < len(bb) and ba[hi_a] == bb[hi_b]:
        hi_a += 1
        hi_b += 1
    return hi_a - lo_a


def test_extend_match_parity_with_byte_loop():
    rng = np.random.default_rng(2024)

    def rand_bytes(n: int) -> bytes:
        # a 3-letter alphabet: long accidental runs and near-misses
        return bytes(rng.choice(np.frombuffer(b"abc", np.uint8), size=n))

    cases = [
        (b"abcdef", b"zzzzzz", 0, 0, 3),        # hash collision -> 0
        (b"xyzabc", b"abcxyz", 3, 3, 3),        # collision at the text end
        (b"abcdef", b"abcdef", 0, 0, 3),        # seed at offset 0
        (b"abcdef", b"zzabcdef", 3, 5, 3),      # seed ending at both text ends
        (b"abcdef", b"qabcdef", 4, 5, 5),       # k past both ends, equal tails
        (b"abcdef", b"abcdefgh", 4, 4, 5),      # k past one end only
        (b"", b"", 0, 0, 1),
    ]
    for _ in range(5000):
        shared = rand_bytes(int(rng.integers(0, 200)))
        head_a, head_b = (int(n) for n in rng.integers(0, 30, size=2))
        ba = rand_bytes(head_a) + shared + rand_bytes(int(rng.integers(0, 30)))
        bb = rand_bytes(head_b) + shared + rand_bytes(int(rng.integers(0, 30)))
        if rng.random() < 0.3 and bb:  # a point mutation, often in the run
            i = int(rng.integers(0, len(bb)))
            bb = bb[:i] + b"d" + bb[i + 1:]
        k = int(rng.integers(1, 16))
        if rng.random() < 0.7:  # a seed aligned on the shared run
            off = int(rng.integers(0, len(shared) + 1))
            pa, pb = head_a + off, head_b + off
        else:
            pa = int(rng.integers(0, len(ba) + 1))
            pb = int(rng.integers(0, len(bb) + 1))
        cases.append((ba, bb, pa, pb, k))
    n_zero = 0
    for ba, bb, pa, pb, k in cases:
        want = _extend_match_oracle(ba, bb, pa, pb, k)
        assert _extend_match(ba, bb, pa, pb, k) == want, (ba, bb, pa, pb, k)
        n_zero += want == 0
    # the random cases exercise both outcomes, not just collisions
    assert 0 < n_zero < len(cases) // 2


def test_overlap_stage_end_to_end(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta " * 4  # ~190 chars
    docs = spark.createDataFrame(
        [
            (1, "intro text one " + shared + " tail one"),
            (2, "different preamble " + shared + " other ending"),
            (3, "completely unrelated content with nothing in common at all here"),
        ],
        "doc_id long, doc_text string",
    )
    fps = winnow_fingerprints(docs, k=24, w=32)
    cands = overlap_candidates(fps, DedupConfig(overlap_min_shared_fps=1))
    found = verify_overlaps(cands, docs, k=24, min_overlap_chars=96).collect()
    pairs = {(r.id_a, r.id_b) for r in found}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    row = [r for r in found if (r.id_a, r.id_b) == (1, 2)][0]
    assert row.overlap_chars >= len(shared)


def test_overlap_candidates_prefilter_semantics(spark):
    """The shared-fp gate (2 <= n_docs <= hot_cap) must (a) keep every true
    pair — singleton fps never form one — and (b) drop hot boilerplate fps
    from pairing, without touching non-hot evidence for the same pair."""
    shared = "alpha beta gamma delta epsilon zeta eta theta " * 4
    boiler = "standard legal disclaimer repeated everywhere verbatim " * 3
    rows = [
        (1, "intro one " + shared + " tail one"),
        (2, "pre two " + shared + " tail two"),
        (3, "unique content nothing shared with any other document here"),
    ]
    # a flood of docs sharing ONLY boilerplate: every boilerplate fp is
    # shared by > hot_cap docs and must be dropped (no candidate pairs)
    rows += [(100 + i, f"doc {i} says " + boiler) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, doc_text string")
    fps = winnow_fingerprints(docs, k=24, w=32)
    cands = overlap_candidates(
        fps, DedupConfig(overlap_hot_cap=8, overlap_min_shared_fps=1))
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs  # true overlap survives the gate
    assert all(a < 100 and b < 100 for a, b in pairs), (
        f"boilerplate-only docs must not pair (hot cap), got {pairs}"
    )
    # singleton-heavy doc 3 pairs with nobody
    assert all(3 not in p for p in pairs)


def test_true_overlap_flanked_by_boilerplate_seeds(spark):
    """ADVICE r3 drop scenario: a true >=200-char overlap whose doc pair
    ALSO shares boilerplate stretches positioned before AND after it — so
    both boundary seeds (min/max position) land in boilerplate and extend
    to < min_overlap_chars. The alignment-dominant third seed
    (_pair_seed_agg seed3) must recover the pair: the true overlap's
    fingerprints all share one pos_a - pos_b delta and outnumber each
    boilerplate stretch's."""
    bo1 = ("please review our terms of service and privacy policy before "
           "continuing to use this product today")           # ~100 chars
    bo2 = ("this transcript was generated automatically and may contain "
           "transcription errors in various places")          # ~100 chars
    ovl = "the actual duplicated conversation body segment " * 7  # ~340
    docs = spark.createDataFrame(
        [
            (1, bo1 + " unique filler alpha for document one " + ovl
                + " closing filler beta for document one " + bo2),
            (2, bo2 + " different filler gamma for document two " + ovl
                + " very different tail delta for doc two " + bo1),
        ],
        "doc_id long, doc_text string",
    )
    fps = winnow_fingerprints(docs, k=24, w=64)  # production kgram/window
    cands = overlap_candidates(fps, DedupConfig())
    rows = cands.collect()
    assert len(rows) == 1
    r = rows[0]
    # the drop scenario is actually constructed: both boundary seeds sit in
    # boilerplate (seed1 at the start of doc 1 = bo1, seed2 at its end = bo2)
    assert r.pos_a < len(bo1), "min seed should land in the leading boilerplate"
    assert r.pos_a2 > r.pos_a + len(ovl), "max seed should land past the overlap"
    found = verify_overlaps(cands, docs, k=24, min_overlap_chars=200).collect()
    assert [(x.id_a, x.id_b) for x in found] == [(r.id_a, r.id_b)]
    assert found[0].overlap_chars >= len(ovl) - 2


def test_pair_seed_agg_matches_python_model(spark):
    """Property: _pair_seed_agg == a pure-Python model on randomized joined
    position tables — pins the three-seed semantics (lexicographic boundary
    min/max, dominant-alignment pick with (count, -delta) ordering and
    deterministic tie-breaks, n_shared_fps sum) against drift."""
    import random

    from lsh_cascade_poc_spark.operators.suffix import _pair_seed_agg

    rng = random.Random(20260818)
    rows = []
    for _ in range(400):
        id_a, id_b = sorted(rng.sample(range(1, 9), 2))
        pos_b = rng.randrange(0, 50)
        # cluster deltas into a few values so dominant groups + ties occur
        delta = rng.choice([-7, -7, 3, 3, 3, 11])
        rows.append((id_a, id_b, pos_b + delta + 7, pos_b))  # pos_a >= 0

    def model(rws):
        from collections import defaultdict

        groups = defaultdict(list)
        for ia, ib, pa, pb in rws:
            groups[(ia, ib, pa - pb)].append((pa, pb))
        out = {}
        for (ia, ib, d), ps in groups.items():
            pair = out.setdefault((ia, ib), {"deltas": {}})
            pair["deltas"][d] = (min(ps), max(ps), len(ps))
        res = {}
        for (ia, ib), pr in out.items():
            dmins = [v[0] for v in pr["deltas"].values()]
            dmaxs = [v[1] for v in pr["deltas"].values()]
            # max_by(dmin, (dn, -delta)): max count, ties -> smallest delta
            s3 = max(pr["deltas"].items(), key=lambda kv: (kv[1][2], -kv[0]))[1][0]
            res[(ia, ib)] = (
                min(dmins), max(dmaxs), s3,
                sum(v[2] for v in pr["deltas"].values()),
            )
        return res

    df = spark.createDataFrame(
        rows, "id_a long, id_b long, pos_a int, pos_b int"
    )
    got = {
        (r.id_a, r.id_b): (
            (r.pos_a, r.pos_b), (r.pos_a2, r.pos_b2),
            (r.pos_a3, r.pos_b3), r.n_shared_fps,
        )
        for r in _pair_seed_agg(df).collect()
    }
    want = model(rows)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])
