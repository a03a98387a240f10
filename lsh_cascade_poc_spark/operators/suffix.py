"""Exact long-overlap detection: winnowing fingerprints + exact extension.

The north rule asks for a "per-partition suffix-array substring stage for
exact long-overlap detection" — pairs of documents sharing a long verbatim
substring even when their overall Jaccard is low (shingling misses them).

Design (public algorithms only):
  1. Winnowing (Schleimer, Wilkerson, Aiken — SIGMOD'03 "Winnowing: Local
     Algorithms for Document Fingerprinting"): per document, hash every
     k-char gram (rolling window), then keep the minimum hash of every
     w-hash window (rightmost minimum). GUARANTEE: any shared substring of
     length >= w + k - 1 chars produces at least one shared fingerprint.
     Computed in a vectorized pandas_udf (numpy sliding-window minimum).
  2. Fingerprints are exploded to (fp, doc_id, pos) and joined on fp by
     the same shared_key_pairs operator as the MinHash bands, whose
     hot-key gate drops boilerplate (license headers etc.); the
     fingerprint pairs aggregate to one row per doc pair carrying three
     seed positions (_pair_seed_agg).
  3. verify_overlaps joins both texts onto each candidate pair and runs a
     mapInPandas kernel over the joined rows: each seed is extended left
     and right over the two texts (_extend_match) to measure the maximal
     common substring around it; pairs whose exact overlap >=
     min_overlap_chars survive. Extension costs O(log overlap) bytes
     comparisons per seed, and only the three seeds per pair are tried.

Reference analog: this generalizes the reference's Overlap segment index
(CASCADE_SEARCH_DESIGN.md:17-38, notebook 49) — overlapping windows over the
fingerprint giving high-recall coarse candidates — from hash bits to raw text.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig
from .pairs import shared_key_pairs

# two parallel arrays (not array<struct>): lets the kernel emit numpy arrays
# straight through Arrow with no per-row Python dict materialization
_FP_SCHEMA = T.StructType(
    [
        T.StructField("fps", T.ArrayType(T.LongType())),
        T.StructField("poss", T.ArrayType(T.IntegerType())),
    ]
)

# rows per internal slice — bounds worker peak memory regardless of the
# session Arrow batch size (see functions/signature_udf.py rationale)
_CHUNK_ROWS = 1024

# base of the polynomial rolling hash (uint64 wraparound, see
# _kgram_hashes_flat)
_ROLL_BASE = 1_000_003


class _Scratch:
    """Grow-only per-worker scratch buffers, keyed by name.

    Rationale (measured on this VM class): numpy frees multi-MB temporaries
    back to the OS (mmap/munmap), so every fresh large array re-faults its
    pages — a plain `x // 64` over 1.2M int64 costs ~21 ms while the same
    op with `out=` into a reused buffer costs ~1.4 ms. The chunk kernels
    below run hundreds of times per task, so temporaries dominated their
    wall. Buffers grow by 1.25x and are returned as views; safe because a
    Python UDF worker process executes one task at a time."""

    def __init__(self) -> None:
        self._bufs: dict[str, np.ndarray] = {}

    def get(self, name: str, size: int, dtype) -> np.ndarray:
        buf = self._bufs.get(name)
        if buf is None or buf.size < size or buf.dtype != np.dtype(dtype):
            buf = np.empty(int(size * 1.25) + 16, dtype=dtype)
            self._bufs[name] = buf
        return buf[:size]

    def iota(self, size: int) -> np.ndarray:
        """Read-only 0..size-1 int64 view (callers must not write it)."""
        buf = self._bufs.get("_iota")
        if buf is None or buf.size < size:
            buf = np.arange(int(size * 1.25) + 16, dtype=np.int64)
            self._bufs["_iota"] = buf
        return buf[:size]


_SCRATCH = _Scratch()


def _kgram_hashes_flat(data: np.ndarray, k: int) -> np.ndarray:
    """Polynomial hashes of all k-byte windows of a flat byte array, with
    wraparound uint64 arithmetic (Horner, no modulo — this VM's 64-bit
    division is ~100x slower than multiply, and a hash collision here only
    costs one rejected extension in _extend_match, which re-checks bytes).
    Returns (len(data) - k + 1,) uint64 as a view into worker scratch —
    callers must copy (or fully consume) it before the next call; caller
    slices out per-doc ranges and discards windows that straddle document
    boundaries."""
    n = data.size
    if n < k:
        return np.empty(0, dtype=np.uint64)
    vals = _SCRATCH.get("kg_vals", n, np.uint64)
    np.copyto(vals, data, casting="unsafe")
    m = n - k + 1
    base = np.uint64(_ROLL_BASE)
    acc = _SCRATCH.get("kg_acc", m, np.uint64)
    acc.fill(0)
    for j in range(k):
        np.multiply(acc, base, out=acc)
        np.add(acc, vals[j : j + m], out=acc)
    return acc


def _kgram_hashes(text: str, k: int) -> np.ndarray:
    """Single-text convenience wrapper -> int64 (owned copy)."""
    data = np.frombuffer(text.encode("utf-8", "replace"), dtype=np.uint8)
    return _kgram_hashes_flat(data, k).view(np.int64).copy()


def _winnow(grams: np.ndarray, w: int) -> tuple[np.ndarray, np.ndarray]:
    """Select the rightmost-minimum hash in every window of w consecutive
    gram hashes -> (fingerprints, positions), deduplicated on position.

    Reference semantics (single doc); the production chunk path is
    `_winnow_flat`, which computes the same selection for a whole Arrow
    chunk in O(total grams) independent of w — parity-pinned by
    tests/test_suffix.py::test_winnow_flat_parity."""
    n = grams.size
    if n == 0:
        return grams, np.empty(0, dtype=np.int64)
    if n <= w:
        pos = np.array([int(np.argmin(grams))], dtype=np.int64)
        return grams[pos], pos
    sw = np.lib.stride_tricks.sliding_window_view(grams, w)  # (n-w+1, w)
    # rightmost minimum: reverse, argmin, map back
    rev = sw[:, ::-1]
    idx = (w - 1) - np.argmin(rev, axis=1)
    pos = np.arange(n - w + 1) + idx
    uniq = np.unique(pos)
    return grams[uniq], uniq


def _sliding_rightmost_argmin(v: np.ndarray, w: int) -> np.ndarray:
    """Absolute index of the RIGHTMOST minimum of every length-w window of
    `v` (all n-w+1 window starts), in O(n) via block decomposition: split
    into blocks of w, compute per-block prefix and suffix running argmins
    (2w vectorized column passes over all blocks at once), then each window
    [p, p+w-1] is the better of block-suffix-from-p and block-prefix-to-
    p+w-1. Ties go right: prefix updates on <=, suffix on strict <, and the
    cross-block pick prefers the (always later-indexed) prefix half on
    equality — identical selection to `_winnow`'s reversed-argmin.

    Returns a view into worker scratch: callers must fully consume the
    result before the next call to this function."""
    n = v.size
    m = n - w + 1
    nb = -(-n // w)
    S = _SCRATCH
    pad = S.get("arg_pad", nb * w, np.int64)
    pad[:n] = v
    pad[n:].fill(np.iinfo(np.int64).max)
    # TRANSPOSED (w, nb) layout: every running-argmin pass reads and writes
    # whole contiguous rows. The natural (nb, w) layout makes each pass a
    # stride-w*8 column walk — one cache line per element — measured ~8x
    # slower on a 1.3M-gram chunk (355ms vs ~45ms for the select).
    # Everything below writes into named scratch (see _Scratch): the
    # where/temporary-per-step formulation of this function spent ~5x its
    # compute time re-faulting freshly-mmapped temporaries on this VM.
    blk = S.get("arg_blk", nb * w, np.int64).reshape(w, nb)
    np.copyto(blk, pad.reshape(nb, w).T)

    pre_val = S.get("arg_preval", nb * w, np.int64).reshape(w, nb)
    pre_idx = S.get("arg_preidx", nb * w, np.int32).reshape(w, nb)
    upd = S.get("arg_upd", nb, np.bool_)
    pre_val[0] = blk[0]
    pre_idx[0] = 0
    for j in range(1, w):
        np.less_equal(blk[j], pre_val[j - 1], out=upd)
        np.copyto(pre_val[j], pre_val[j - 1])
        np.copyto(pre_val[j], blk[j], where=upd)
        np.copyto(pre_idx[j], pre_idx[j - 1])
        np.copyto(pre_idx[j], np.int32(j), where=upd)

    suf_val = S.get("arg_sufval", nb * w, np.int64).reshape(w, nb)
    suf_idx = S.get("arg_sufidx", nb * w, np.int32).reshape(w, nb)
    suf_val[w - 1] = blk[w - 1]
    suf_idx[w - 1] = w - 1
    for j in range(w - 2, -1, -1):
        # strict: keep the later index on ties
        np.less(blk[j], suf_val[j + 1], out=upd)
        np.copyto(suf_val[j], suf_val[j + 1])
        np.copyto(suf_val[j], blk[j], where=upd)
        np.copyto(suf_idx[j], suf_idx[j + 1])
        np.copyto(suf_idx[j], np.int32(j), where=upd)

    p = S.iota(m)
    b = S.get("arg_b", m, np.int64)
    np.floor_divide(p, w, out=b)
    r = S.get("arg_r", m, np.int64)
    np.multiply(b, w, out=r)
    np.subtract(p, r, out=r)
    # aligned windows (r == 0) are exactly block b; guard b+1 with a clipped
    # gather (those lanes are overwritten by the aligned answer below)
    b1 = S.get("arg_b1", m, np.int64)
    np.add(b, 1, out=b1)
    np.minimum(b1, nb - 1, out=b1)
    fi = S.get("arg_fi", m, np.int64)
    # left = suffix-from-r of block b: flat index r * nb + b
    np.multiply(r, nb, out=fi)
    np.add(fi, b, out=fi)
    left_v = S.get("arg_lv", m, np.int64)
    np.take(suf_val.reshape(-1), fi, out=left_v)
    gat32 = S.get("arg_g32", m, np.int32)
    np.take(suf_idx.reshape(-1), fi, out=gat32)
    left_i = S.get("arg_li", m, np.int64)
    np.multiply(b, w, out=left_i)
    np.add(left_i, gat32, out=left_i, casting="unsafe")
    # right = prefix-to-(r-1) of block b+1: flat index max(r-1, 0) * nb + b1
    np.subtract(r, 1, out=fi)
    np.maximum(fi, 0, out=fi)
    np.multiply(fi, nb, out=fi)
    np.add(fi, b1, out=fi)
    right_v = S.get("arg_rv", m, np.int64)
    np.take(pre_val.reshape(-1), fi, out=right_v)
    np.take(pre_idx.reshape(-1), fi, out=gat32)
    out = S.get("arg_out", m, np.int64)
    np.multiply(b1, w, out=out)
    np.add(out, gat32, out=out, casting="unsafe")  # out = right_i
    cmp = S.get("arg_cmp", m, np.bool_)
    np.greater(right_v, left_v, out=cmp)  # i.e. NOT (right_v <= left_v)
    np.copyto(out, left_i, where=cmp)
    aligned = S.get("arg_al", m, np.bool_)
    np.equal(r, 0, out=aligned)
    if aligned.any():
        ba = b[aligned]
        out[aligned] = (ba * w) + pre_idx[w - 1, ba]
    return out


def _winnow_flat(
    grams: np.ndarray, counts: np.ndarray, w: int
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Per-doc winnow selection over the CONCATENATION of the docs' valid
    gram arrays (`counts[d]` grams each), matching `_winnow` doc-by-doc
    exactly. One O(total) `_sliding_rightmost_argmin` pass serves every doc
    with counts[d] > w: a window starting inside doc d's valid range
    [off_d, off_d + counts[d] - w] never crosses into doc d+1, so per-doc
    answers are a pure gather from the chunk-level result. Docs at or below
    the window size keep `_winnow`'s small-doc branch (leftmost argmin)."""
    offs = np.concatenate(([0], np.cumsum(counts)))
    fps_out: list[np.ndarray] = []
    pos_out: list[np.ndarray] = []
    flat_sel = (
        _sliding_rightmost_argmin(grams, w)
        if grams.size >= w and np.any(counts > w)
        else None
    )
    for d, g in enumerate(counts):
        off = offs[d]
        if g <= 0:
            fps_out.append(np.empty(0, np.int64))
            pos_out.append(np.empty(0, np.int64))
        elif g <= w:
            sub = grams[off : off + g]
            pos = np.array([int(np.argmin(sub))], dtype=np.int64)
            fps_out.append(sub[pos])
            pos_out.append(pos)
        else:
            sel = flat_sel[off : off + g - w + 1] - off
            uniq = np.unique(sel)
            fps_out.append(grams[off + uniq])
            pos_out.append(uniq)
    return fps_out, pos_out


def make_winnow_udf(k: int, w: int):
    """pandas_udf: text -> struct<fps:array<long>, poss:array<int>>. The
    k-gram convolution runs ONCE over the chunk's concatenated bytes (k
    vectorized passes); only the cheap per-doc winnow loop remains
    Python-level. Output cells are numpy arrays (zero Python-object blowup)."""

    def _one_chunk(texts: list) -> pd.DataFrame:
        encoded = [
            (t.encode("utf-8", "replace") if t else b"") for t in texts
        ]
        lengths = np.fromiter((len(b) for b in encoded), dtype=np.int64,
                              count=len(encoded))
        flat = np.frombuffer(b"".join(encoded), dtype=np.uint8)
        grams_flat = _kgram_hashes_flat(flat, k)
        # concatenate each doc's VALID grams (windows straddling doc
        # boundaries discarded), then winnow the whole chunk in one
        # O(total-grams) pass — see _winnow_flat
        counts = np.maximum(lengths - k + 1, 0)
        byte_offs = np.concatenate(([0], np.cumsum(lengths)))[:-1]
        # gather each doc's valid grams into scratch (a fresh concatenate
        # re-faults a multi-MB mmap per chunk — see _Scratch)
        total = int(counts.sum())
        valid = _SCRATCH.get("oc_valid", total, np.uint64)
        pos = 0
        for o, c in zip(byte_offs, counts):
            if c > 0:
                valid[pos : pos + c] = grams_flat[o : o + c]
                pos += c
        fps_all, pos_all = _winnow_flat(valid.view(np.int64), counts, w)
        return pd.DataFrame(
            {"fps": fps_all, "poss": [p.astype(np.int32) for p in pos_all]}
        )

    @F.pandas_udf(_FP_SCHEMA)
    def winnow_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            for lo in range(0, len(s), _CHUNK_ROWS):
                yield _one_chunk(s.iloc[lo : lo + _CHUNK_ROWS].tolist())

    return winnow_udf


def winnow_fingerprints(docs: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, doc_text) -> (doc_id, fp, pos) exploded fingerprint table."""
    udf = make_winnow_udf(k, w)
    return (
        docs.select("doc_id", udf(F.col("doc_text")).alias("w"))
        .select("doc_id", F.explode(F.arrays_zip(F.col("w.fps").alias("fp"),
                                                 F.col("w.poss").alias("pos"))).alias("f"))
        .select("doc_id", F.col("f.fp").alias("fp"), F.col("f.pos").alias("pos"))
    )


def overlap_candidates(fps: DataFrame, cfg: DedupConfig,
                       index: DataFrame | None = None) -> DataFrame:
    """Fingerprint pairs -> per-pair seed candidates (three seeds per pair,
    see _pair_seed_agg) bounding the verify stage. `fps` (doc_id, fp, pos)
    pairs with itself and with the persistent `index` fingerprints of a
    streaming run (shared_key_pairs: new x new plus new x index); a batch
    run has no index.

    Skew control: fingerprints shared by more than `cfg.overlap_hot_cap`
    docs of index ∪ fps are boilerplate (short repeated turns), not
    long-overlap evidence — shared_key_pairs drops them on both sides
    before the join (quadratic in bucket size). `cfg.overlap_min_shared_fps`
    exploits the winnowing density (one fingerprint per ~w/2 chars): a true
    long overlap shares many fingerprints, an accidental collision one.

    Shape note (measured on the 24.5M-fp bench corpus, local[4]): this
    countDistinct + codegen self-join formulation beat both a
    groupBy(fp, doc_id)-dedup-first variant (1.8x slower: the extra
    keyed shuffle costs more than the dedup saves) and a
    collect_list-per-fp + higher-order-function pair-explosion variant
    (5x slower: interpreted lambda expressions + object aggregation lose
    badly to whole-stage-codegen joins). Don't "simplify" it back."""
    pairs, _hot = shared_key_pairs(fps, index, ["fp"], cfg.overlap_hot_cap,
                                   ["pos"])
    out = _pair_seed_agg(pairs)
    if cfg.overlap_min_shared_fps > 1:
        out = out.filter(F.col("n_shared_fps") >= cfg.overlap_min_shared_fps)
    return out


def _pair_seed_agg(joined: DataFrame) -> DataFrame:
    """Pair-level seed selection over the fingerprint pairs of
    shared_key_pairs: joined(id_a, id_b, pos_a, pos_b) -> one row per pair
    with THREE verify seeds + the shared-fp count.

      * seed / seed2 — boundary seeds (min / max position struct): cheap,
        and one of them lands inside the true overlap whenever no accidental
        shared k-gram flanks it on that side.
      * seed3 — one seed from the dominant ALIGNMENT group. A true overlap
        is contiguous in BOTH docs, so all its shared fingerprints sit at a
        single delta = pos_a - pos_b, and any overlap >= 2*(window+k-1)
        chars contributes >= 2 fps at that one delta; accidental collisions
        (shared boilerplate k-grams OUTSIDE the overlap — the ADVICE r3
        drop scenario, where both boundary seeds are boilerplate) land at
        scattered, mostly-singleton deltas. Extending from the
        most-populated delta (ties broken toward the smallest delta, so the
        choice is deterministic) recovers the pair unless some accidental
        alignment strictly dominates the true one AND both boundaries are
        accidental. Aggregation is two codegen hash aggregates (per-delta,
        then per-pair) — no collect_list, nothing unbounded per pair.
    """
    by_delta = (
        joined.select("id_a", "id_b", "pos_a", "pos_b")
        .withColumn("delta", F.col("pos_a") - F.col("pos_b"))
        .groupBy("id_a", "id_b", "delta")
        .agg(
            F.min(F.struct("pos_a", "pos_b")).alias("dmin"),
            F.max(F.struct("pos_a", "pos_b")).alias("dmax"),
            F.count(F.lit(1)).alias("dn"),
        )
    )
    return (
        by_delta.groupBy("id_a", "id_b")
        .agg(
            F.min("dmin").alias("seed"),
            F.max("dmax").alias("seed2"),
            # deterministic: ord is (count, -delta) and delta is unique
            # within the pair's groups, so no max_by ties exist
            F.max_by(
                "dmin", F.struct(F.col("dn"), (-F.col("delta")).alias("nd"))
            ).alias("seed3"),
            F.sum("dn").alias("n_shared_fps"),
        )
        .select(
            "id_a", "id_b",
            F.col("seed.pos_a").alias("pos_a"),
            F.col("seed.pos_b").alias("pos_b"),
            F.col("seed2.pos_a").alias("pos_a2"),
            F.col("seed2.pos_b").alias("pos_b2"),
            F.col("seed3.pos_a").alias("pos_a3"),
            F.col("seed3.pos_b").alias("pos_b3"),
            "n_shared_fps",
        )
    )


def _run_length(ba: bytes, bb: bytes, a: int, b: int, limit: int,
                backward: bool) -> int:
    """Length of the longest equal byte run, at most `limit`, that starts
    at (a, b) — or, `backward`, ends just before (a, b). Equal runs are
    prefix-closed, so a galloping probe (1, 2, 4, …) brackets the answer
    and a binary search pins it; every probe is one bytes comparison
    (memcmp), so a run of n bytes costs O(log n) C-level compares instead
    of n interpreted byte steps."""

    def equal(n: int) -> bool:
        if backward:
            return ba[a - n : a] == bb[b - n : b]
        return ba[a : a + n] == bb[b : b + n]

    good, bad = 0, 1  # longest length known equal, first length to try
    while bad <= limit and equal(bad):
        good, bad = bad, 2 * bad
    bad = min(bad, limit + 1)  # lengths >= bad are unequal or out of reach
    while bad - good > 1:
        mid = (good + bad) // 2
        if equal(mid):
            good = mid
        else:
            bad = mid
    return good


def _extend_match(ba: bytes, bb: bytes, pa: int, pb: int, k: int) -> int:
    """Extend an exact k-gram seed match left and right over utf-8 BYTES;
    returns the maximal common substring length around the seed (0 if the
    seed bytes don't actually match — hash collision)."""
    if ba[pa : pa + k] != bb[pb : pb + k]:
        return 0
    left = _run_length(ba, bb, pa, pb, min(pa, pb), backward=True)
    right = _run_length(ba, bb, pa + k, pb + k,
                        max(min(len(ba) - pa, len(bb) - pb) - k, 0),
                        backward=False)
    return left + k + right


def verify_overlaps(
    candidates: DataFrame,
    docs: DataFrame,
    k: int,
    min_overlap_chars: int,
) -> DataFrame:
    """Exact verification: join texts onto seed pairs, extend seeds inside a
    mapInPandas batch kernel -> (id_a, id_b, overlap_chars) for survivors.
    Texts are utf-8-encoded JVM-SIDE (F.encode) so the Python kernel touches
    ready bytes — no per-row str->bytes encode of multi-KB documents."""
    docs_sel = docs.select("doc_id", F.encode("doc_text", "UTF-8").alias("t"))
    sided = (
        candidates.join(docs_sel.withColumnsRenamed({"doc_id": "id_a", "t": "text_a"}), "id_a")
        .join(docs_sel.withColumnsRenamed({"doc_id": "id_b", "t": "text_b"}), "id_b")
    )

    out_schema = "id_a long, id_b long, overlap_chars int"

    def extend_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            lengths = [
                max(
                    _extend_match(ta, tb, int(pa), int(pb), k)
                    for pa, pb in {(s1a, s1b), (s2a, s2b), (s3a, s3b)}
                )
                for ta, tb, s1a, s1b, s2a, s2b, s3a, s3b in zip(
                    pdf["text_a"], pdf["text_b"], pdf["pos_a"], pdf["pos_b"],
                    pdf["pos_a2"], pdf["pos_b2"],
                    pdf["pos_a3"], pdf["pos_b3"],
                )
            ]
            res = pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "overlap_chars": lengths}
            )
            yield res[res["overlap_chars"] >= min_overlap_chars]

    return sided.mapInPandas(extend_batches, schema=out_schema)
