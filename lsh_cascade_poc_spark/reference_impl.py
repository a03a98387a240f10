"""Single-process numpy reference implementation of the dedup cascade.

This plays the role the reference repo's ground truth plays for search
(brute-force cosine / DuckDB HNSW, /root/reference/src/cascade_search.py:244-290):
an independent, driver-side implementation of the SAME shingle/signature
config whose cluster assignment the Spark pipeline must match with dup-pair
recall >= 0.99 (BASELINE.json north_rule). It shares only the low-level
numpy kernels with the engine (minhash_flat etc. — by design: the engine's
pandas_udf IS the numpy kernel); all orchestration (normalize, assemble,
shingle, band, pair, verify, cluster) is re-derived here independently with
plain python dict/set machinery.

Spark's xxhash64(string) is reproduced with a pure-Python XXH64 (seed 42 —
Spark's default seed), implemented from the public xxHash specification
(github.com/Cyan4973/xxHash, BSD-2) so shingle hash values agree bit-for-bit.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

from .config import DedupConfig
from .functions.minhash import make_perms, minhash_flat, storage_lanes
from .functions.simhash import simhash_from_hashes_numpy

# ---------------------------------------------------------------------------
# XXH64 (one-shot, public spec); Spark's xxhash64 == XXH64(utf8 bytes, seed=42)
# ---------------------------------------------------------------------------

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little")); i += 8
            v2 = _round(v2, int.from_bytes(data[i : i + 8], "little")); i += 8
            v3 = _round(v3, int.from_bytes(data[i : i + 8], "little")); i += 8
            v4 = _round(v4, int.from_bytes(data[i : i + 8], "little")); i += 8
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = ((_rotl(h, 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_i64(s: str, seed: int = 42) -> int:
    """As int64 (Spark LongType semantics)."""
    v = xxh64(s.encode("utf-8"), seed)
    return v - (1 << 64) if v >= (1 << 63) else v


# ---------------------------------------------------------------------------
# reference pipeline (independent orchestration)
# ---------------------------------------------------------------------------

_WS = re.compile(r"\s+")


def ref_normalize(text: str, max_chars: int = 2048) -> str:
    out = _WS.sub(" ", text or "").strip()
    return out[:max_chars] if max_chars else out


def ref_assemble(turn_rows: list[tuple], max_turn_chars: int = 2048,
                 min_doc_chars: int = 10, keep_roles: bool = True) -> dict[str, str]:
    """turn_rows: (conv_id, turn_idx, role, text) -> {conv_id: doc_text},
    turns sorted by turn_idx, 'role: text' joined by newline."""
    by_conv: dict[str, list[tuple[int, str]]] = defaultdict(list)
    for conv_id, turn_idx, role, text in turn_rows:
        norm = ref_normalize(text, max_turn_chars)
        payload = f"{role}: {norm}" if keep_roles else norm
        by_conv[conv_id].append((int(turn_idx), payload))
    docs = {}
    for conv_id, turns in by_conv.items():
        turns.sort()
        doc = "\n".join(t for _, t in turns)
        if len(doc) >= min_doc_chars:
            docs[conv_id] = doc
    return docs


def ref_shingles(doc: str, k: int) -> np.ndarray:
    """Same scheme as the engine's fused kernel (functions/signature_udf.py):
    per-token U16 lane-mix hash, degree-(k-1) polynomial shingle combine,
    distinct + sort. Re-derived here per token (scalar path) to keep this
    an independent check of the batched kernel's segmentation logic."""
    toks = doc.split() if doc else []
    if not toks:
        return np.empty(0, dtype=np.int64)
    from .functions.signature_udf import (
        _SHINGLE_BASE,
        hash_tokens,
    )

    th = [int(hash_tokens([t])[0]) for t in toks]  # one token at a time
    kk = min(k, len(toks))
    base = int(_SHINGLE_BASE)
    mask = (1 << 64) - 1
    out = []
    for i in range(len(toks) - kk + 1):
        acc = 0
        for j in range(kk):
            acc = (acc * base + th[i + j]) & mask  # uint64 wraparound
        out.append(acc - (1 << 64) if acc >= (1 << 63) else acc)
    return np.unique(np.array(out, dtype=np.int64))


@dataclass
class ReferenceResult:
    docs: dict[str, str]                  # conv_id -> doc_text
    shingles: dict[str, np.ndarray]
    signatures: dict[str, np.ndarray]     # conv_id -> (n_perm,) int64
    dup_pairs: set[tuple[str, str]]       # conv_id pairs, a < b
    clusters: dict[str, str]              # conv_id -> cluster root conv_id
    rep_of: dict[str, str] | None = None  # conv_id -> its exact-dup-group rep


def _band_buckets(sig_items: list[tuple[str, np.ndarray]], n_bands: int,
                  rows_per_band: int, lane_offset: int = 0) -> set[tuple[str, str]]:
    pairs: set[tuple[str, str]] = set()
    for b in range(n_bands):
        buckets: dict[bytes, list[str]] = defaultdict(list)
        lo = lane_offset + b * rows_per_band
        for cid, sig in sig_items:
            buckets[sig[lo : lo + rows_per_band].tobytes()].append(cid)
        for members in buckets.values():
            if len(members) > 1:
                ms = sorted(members)
                for i in range(len(ms)):
                    for j in range(i + 1, len(ms)):
                        pairs.add((ms[i], ms[j]))
    return pairs


def ref_jaccard(a: np.ndarray, b: np.ndarray) -> float:
    if len(a) == 0 and len(b) == 0:
        return 0.0
    inter = len(np.intersect1d(a, b, assume_unique=True))
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def _union_find_clusters(nodes: list[str], pairs: set[tuple[str, str]]) -> dict[str, str]:
    parent = {n: n for n in nodes}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def run_reference(turn_rows: list[tuple], cfg: DedupConfig | None = None,
                  include_simhash_pass: bool = True) -> ReferenceResult:
    """Full single-process cascade at the same config: exact fingerprints +
    coarse∩tight MinHash bands + SimHash hamming pass -> exact Jaccard verify
    -> union-find clustering."""
    cfg = cfg or DedupConfig()
    docs = ref_assemble(turn_rows, cfg.max_turn_chars, cfg.min_doc_chars)
    shingles = {cid: ref_shingles(doc, cfg.shingle_k) for cid, doc in docs.items()}

    a, b = make_perms(cfg.n_perm, cfg.minhash_seed)
    cids = sorted(docs)
    flat = (
        np.concatenate([shingles[c] for c in cids])
        if any(len(shingles[c]) for c in cids)
        else np.empty(0, dtype=np.int64)
    )
    offsets = np.cumsum([0] + [len(shingles[c]) for c in cids[:-1]], dtype=np.int64)
    sig_mat = storage_lanes(minhash_flat(flat, offsets, a, b))
    signatures = {c: sig_mat[i] for i, c in enumerate(cids)}

    # exact-duplicate collapse: one representative (min conv_id) per distinct
    # text; all LSH passes run over representatives only (mirrors
    # operators/pairs.py split_exact_duplicates)
    exact_pairs: set[tuple[str, str]] = set()
    by_fp: dict[str, list[str]] = defaultdict(list)
    for c in cids:
        by_fp[hashlib.md5(docs[c].encode()).hexdigest()].append(c)
    reps: list[str] = []
    rep_of: dict[str, str] = {}
    for members in by_fp.values():
        # rep = member with min xxhash64(conv_id) — the SAME ordering the
        # Spark pipeline uses for its int64 doc_id (operators/assemble.py
        # with_doc_id), so star-edge/pair labels agree exactly
        ms = sorted(members, key=lambda c: xxh64_i64(c))
        reps.append(ms[0])
        for m in ms:
            rep_of[m] = ms[0]
        for m in ms[1:]:
            exact_pairs.add(tuple(sorted((ms[0], m))))
    reps.sort()

    # cascade: coarse bands -> survivors -> tight bands (AND semantics)
    sig_items = [(c, signatures[c]) for c in reps]
    coarse = _band_buckets(sig_items, cfg.coarse_n_bands, cfg.coarse_rows_per_band)
    surv = {c for p in coarse for c in p}
    tight_items = [(c, s) for c, s in sig_items if c in surv]
    tight = _band_buckets(tight_items, cfg.tight_n_bands, cfg.tight_rows_per_band)
    mh_cands = coarse & tight

    # simhash pass: 16-bit chunk buckets + hamming <= tau (reps only)
    sh_cands: set[tuple[str, str]] = set()
    if include_simhash_pass:
        sh = simhash_from_hashes_numpy([shingles[c] for c in reps], cfg.simhash_bits)
        shv = {c: np.uint64(sh[i].astype(np.uint64)) for i, c in enumerate(reps)}
        n_bands = cfg.simhash_bits // cfg.simhash_band_bits
        mask = np.uint64((1 << cfg.simhash_band_bits) - 1)
        for bidx in range(n_bands):
            buckets: dict[int, list[str]] = defaultdict(list)
            for c in reps:
                key = int((shv[c] >> np.uint64(bidx * cfg.simhash_band_bits)) & mask)
                buckets[key].append(c)
            for members in buckets.values():
                if len(members) > 1:
                    ms = sorted(members)
                    for i in range(len(ms)):
                        for j in range(i + 1, len(ms)):
                            d = bin(int(shv[ms[i]] ^ shv[ms[j]])).count("1")
                            if d <= cfg.simhash_hamming_tau:
                                sh_cands.add((ms[i], ms[j]))

    # verify: staged pruning identical to operators/verify.py — size-ratio
    # (exact), minhash lane-agreement estimate >= t - 0.1, exact Jaccard >= t
    dup_pairs: set[tuple[str, str]] = set(exact_pairs)
    est_cut = cfg.jaccard_threshold - 0.1
    for pair in mh_cands | sh_cands:
        if pair in dup_pairs:
            continue
        na, nb = len(shingles[pair[0]]), len(shingles[pair[1]])
        if min(na, nb) < cfg.jaccard_threshold * max(na, nb):
            continue
        est = float((signatures[pair[0]] == signatures[pair[1]]).mean())
        if est < est_cut:
            continue
        if ref_jaccard(shingles[pair[0]], shingles[pair[1]]) >= cfg.jaccard_threshold:
            dup_pairs.add(pair)

    clusters = _union_find_clusters(cids, dup_pairs)
    return ReferenceResult(docs=docs, shingles=shingles, signatures=signatures,
                           dup_pairs=dup_pairs, clusters=clusters, rep_of=rep_of)
