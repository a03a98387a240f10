"""Pipeline configuration.

The reference hard-codes its knobs per entry point (chunk counts 4/8/16 at
/root/reference/run_experiment.py:92-116, cascade stage limits S1=10000 S2=2000
at /root/reference/src/pipeline.py:68-119). We centralize them in one frozen
dataclass whose hash keys the checkpoint directory, so a re-run with identical
config resumes and a changed config recomputes.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    """All knobs of the dedup cascade. Deterministic: the one random element,
    the MinHash permutation parameters, derives from ``minhash_seed`` only
    (SimHash and every band key are plain hashes), so cluster assignments
    are reproducible across partitionings and parallelism levels (SURVEY.md
    §7.3 determinism requirement)."""

    # --- document assembly (BASELINE.json input_hint) ---
    min_doc_chars: int = 10          # reference drops <10 chars (src/loader.py:118-119)
    max_turn_chars: int = 2048       # reference truncates passages at 2048 (src/loader.py:114-116)

    # --- shingling ---
    shingle_k: int = 5               # tokens per shingle (word k-grams)

    # --- MinHash signature ---
    n_perm: int = 128                # signature length (reference uses 128-bit codes,
                                     # src/db.py:64; we use 128 64-bit minhash lanes)
    minhash_seed: int = 42

    # --- cascade tiers (coarse bands, then a tight filter on their pairs) ---
    # tier 0 = coarse: few rows/band => high recall, crude (the reference's
    # Overlap(8,4) wide segments, CASCADE_SEARCH_DESIGN.md:17-38)
    coarse_rows_per_band: int = 4
    coarse_n_bands: int = 16         # uses first 64 lanes
    # tier 1 = tight: keep a tier-0 pair iff its signatures agree on >=
    # tight_min_match of these slices (0 bypasses; DF-LSH band filter with
    # min_matches, src/dflsh.py:187-197)
    # r=6, b=21, m=1 => P(kept) at jaccard 0.8 is 1-(1-0.8^6)^21 ≈ 0.998
    # (keeps the >=0.99 recall target reachable at the decision threshold),
    # while jaccard 0.5 pairs survive with prob ≈ 0.28 — the verify stage
    # finishes the tightening.
    tight_rows_per_band: int = 6
    tight_n_bands: int = 21          # uses lanes [0, 126)
    tight_min_match: int = 1

    # --- skew control ---
    # Drop (and record) band buckets with more than this many docs: a single
    # hot key is quadratic in pair generation; AQE splits partitions but cannot
    # fix one quadratic key (SURVEY.md §4 item 2).
    hot_band_cap: int = 1000

    # --- SimHash bit-sampling pass ---
    simhash_bits: int = 64
    simhash_band_bits: int = 16      # 4 bands of 16 bits (chunk_hash analog, src/lsh.py:266-304)
    simhash_hamming_tau: int = 6     # Hamming rerank threshold (pipeline.py:135-168 analog)

    # --- winnowing / suffix stage (exact long-overlap detection) ---
    winnow_kgram_chars: int = 24     # character k-gram size
    # winnowing window. Guarantee: any shared stretch of >= window + k - 1
    # chars yields a shared fingerprint, so with min_shared_fps = 2 every
    # overlap of >= 2*(window+k-1) = 174 chars < min_overlap_chars is
    # guaranteed to SURVIVE CANDIDATE GENERATION (each disjoint half
    # guarantees one shared fp). The determinism claim is scoped to the
    # candidate stage: verify_overlaps extends from three seeds — the min-
    # and max-position shared seeds plus one from the dominant
    # pos_a - pos_b alignment group (suffix.py _pair_seed_agg). A true
    # overlap's fps all share one delta, so the third seed lands inside it
    # unless some accidental alignment strictly outnumbers the true one
    # AND both boundary seeds are accidental (closes the ADVICE r3
    # two-seed residual; still probabilistic in principle, vanishing in
    # practice).
    # Sized to the 200-char report threshold, NOT tighter: fingerprint
    # density is ~2/(window+1) per char, and the fp table feeds a self-join
    # — at window=32 (the old value, guarantee floor 55 chars) the bench
    # corpus emitted 24.5M fps and the join dominated the whole overlap
    # stage; window=64 halves that for identical >=200-char-pair output.
    winnow_window: int = 64
    min_overlap_chars: int = 200     # report pairs sharing an exact substring >= this
    # fingerprints shared by more docs than this are boilerplate, not
    # long-overlap evidence — drop them before the quadratic self-join
    # (tighter than hot_band_cap: overlap fps are char-level and skew harder)
    overlap_hot_cap: int = 200
    # a real >=200-char overlap spans >= 2 winnow guarantee stretches (see
    # winnow_window) and ~(200-24)/32 ≈ 5 expected windows, so genuine pairs
    # share multiple fingerprints; requiring >=2 kills the accidental
    # single-fp collisions that dominate the candidate set
    overlap_min_shared_fps: int = 2

    # --- verification + clustering ---
    jaccard_threshold: float = 0.80
    cc_max_iterations: int = 20

    def __post_init__(self) -> None:
        # a slice past the end of the signature is EMPTY: one band bucket
        # every doc shares, and a tier-1 slice every pair agrees on
        for tier in ("coarse", "tight"):
            n_bands = getattr(self, f"{tier}_n_bands")
            rows = getattr(self, f"{tier}_rows_per_band")
            if n_bands * rows > self.n_perm:
                raise ValueError(
                    f"{tier} tier reads {n_bands} bands x {rows} rows = "
                    f"{n_bands * rows} MinHash lanes, past n_perm={self.n_perm}"
                )
        if self.simhash_band_bits <= 0 or \
                self.simhash_bits % self.simhash_band_bits:
            raise ValueError(
                f"simhash_bits={self.simhash_bits} is not a multiple of "
                f"simhash_band_bits={self.simhash_band_bits}"
            )

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
