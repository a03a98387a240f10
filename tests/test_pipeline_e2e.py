"""End-to-end dedup pipeline vs the independent numpy reference.

This is the BASELINE.json acceptance suite:
  - per-turn text equality under stable turn ordering (vs ref_assemble)
  - MinHash signature parity lane-for-lane (same shingle/signature config)
  - dup-pair recall >= 0.99 vs the reference's pair set
  - cluster assignment equivalence (same partition of conv_ids)
  - planted ground truth recovered (exact/whitespace/edit/substring families)
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_cascade_poc_spark.config import DedupConfig
from lsh_cascade_poc_spark.pipeline import run_dedup
from lsh_cascade_poc_spark.reference_impl import ref_jaccard, run_reference

CFG = DedupConfig(
    n_perm=64,
    coarse_n_bands=8, coarse_rows_per_band=4,
    tight_n_bands=10, tight_rows_per_band=6,
    cc_max_iterations=10,
)


@pytest.fixture(scope="module")
def spark_result(spark, tiny_turns):
    # every stage of the result is an eager localCheckpoint already
    return run_dedup(spark, tiny_turns, cfg=CFG, enable_overlap_stage=True)


@pytest.fixture(scope="module")
def ref_result(tiny_corpus):
    t = tiny_corpus.turns
    return run_reference(
        list(zip(t.conv_id, t.turn_idx, t.role, t.text)), cfg=CFG
    )


def _pairs_by_conv(spark_result) -> set[tuple[str, str]]:
    id_map = {r.doc_id: r.conv_id for r in spark_result.docs.select("doc_id", "conv_id").collect()}
    out = set()
    for r in spark_result.dup_pairs.select("id_a", "id_b").collect():
        a, b = sorted([id_map[r.id_a], id_map[r.id_b]])
        out.add((a, b))
    return out


def test_docs_match_reference(spark_result, ref_result):
    got = {r.conv_id: r.doc_text for r in spark_result.docs.collect()}
    assert got == ref_result.docs


def test_signatures_match_reference(spark_result, ref_result):
    rows = spark_result.signatures.select("conv_id", "minhash").collect()
    for r in rows:
        want = ref_result.signatures[r.conv_id]
        assert np.array_equal(np.array(r.minhash, dtype=np.int64), want), r.conv_id


def test_dup_pair_recall_vs_reference(spark_result, ref_result):
    got = _pairs_by_conv(spark_result)
    want = ref_result.dup_pairs
    assert want, "reference found no duplicate pairs — corpus misconfigured"
    hits = len(got & want)
    recall = hits / len(want)
    assert recall >= 0.99, f"recall {recall}: missing {sorted(want - got)[:5]}"


def test_cluster_assignment_matches_reference(spark_result, ref_result):
    id_map = {r.doc_id: r.conv_id for r in spark_result.docs.select("doc_id", "conv_id").collect()}
    got_assign = {
        id_map[r.doc_id]: r.cluster_id
        for r in spark_result.clusters.collect()
    }
    # compare as partitions (cluster ids differ between impls); overlap
    # pairs are evidence-only by default so partitions must match EXACTLY
    def partition(assign: dict) -> set[frozenset]:
        groups: dict = {}
        for k, v in assign.items():
            groups.setdefault(v, set()).add(k)
        return {frozenset(g) for g in groups.values()}

    assert partition(got_assign) == partition(ref_result.clusters)


def test_planted_duplicates_recovered(spark_result, ref_result, tiny_corpus):
    got = _pairs_by_conv(spark_result)
    id_map = {r.doc_id: r.conv_id for r in spark_result.docs.select("doc_id", "conv_id").collect()}
    cluster_of = {
        id_map[r.doc_id]: r.cluster_id for r in spark_result.clusters.collect()
    }
    gt = tiny_corpus.gt_pairs
    missed = []
    for _, row in gt.iterrows():
        pair = (row.conv_a, row.conv_b)
        if row.kind in ("exact", "whitespace"):
            # exact dups are connected through star edges -> same cluster
            # (the direct pair exists only when one side is the group root)
            assert cluster_of[row.conv_a] == cluster_of[row.conv_b], \
                f"{row.kind} pair not co-clustered: {pair}"
        elif row.kind == "edit":
            ja = ref_jaccard(
                ref_result.shingles[row.conv_a], ref_result.shingles[row.conv_b]
            )
            rep_pair = tuple(sorted(
                (ref_result.rep_of[row.conv_a], ref_result.rep_of[row.conv_b])
            ))
            if ja >= CFG.jaccard_threshold and rep_pair not in got \
                    and cluster_of[row.conv_a] != cluster_of[row.conv_b]:
                missed.append((pair, ja))
        elif row.kind == "substring":
            # substring variants are caught by the overlap stage whenever the
            # preserved turn is long enough for the winnowing floor; pairs
            # are emitted between exact-dup-group REPRESENTATIVES
            doc_a = ref_result.docs[row.conv_a].split("\n")
            doc_b = ref_result.docs[row.conv_b].split("\n")
            longest_shared = max(
                (len(t) for t in doc_a if t in set(doc_b)), default=0
            )
            if longest_shared >= CFG.min_overlap_chars:
                rep_pair = tuple(sorted(
                    (ref_result.rep_of[row.conv_a], ref_result.rep_of[row.conv_b])
                ))
                assert rep_pair in got, f"substring pair missed: {pair} (reps {rep_pair})"
    assert not missed, f"edit pairs above threshold missed: {missed}"


def test_no_verified_false_positives(spark_result, ref_result):
    """Every spark dup pair with jaccard >= threshold must be a true
    >=threshold pair per independent jaccard computation."""
    id_map = {r.doc_id: r.conv_id for r in spark_result.docs.select("doc_id", "conv_id").collect()}
    for r in spark_result.dup_pairs.filter(F.col("jaccard") >= 0).collect():
        a, b = id_map[r.id_a], id_map[r.id_b]
        true_j = ref_jaccard(ref_result.shingles[a], ref_result.shingles[b])
        assert abs(true_j - r.jaccard) < 1e-9
        assert true_j >= CFG.jaccard_threshold or r.jaccard == 1.0


def test_exact_flood_collapses_before_kernel(spark, tmp_path):
    """Batch-side scale invariant (mirrors the streaming flood test): an
    m-fold identical-payload flood costs ONE signature-kernel row and m-1
    star edges — never m banded rows — and everything lands in one cluster."""
    import pandas as pd

    from lsh_cascade_poc_spark.checkpoint import StageStore

    flood = "the same payload text repeated verbatim for every conversation " * 3
    turns = pd.DataFrame({
        "conv_id": [f"f{i}" for i in range(12)] + ["solo"],
        "turn_idx": [0] * 13,
        "role": ["user"] * 13,
        "text": [flood] * 12 + ["a completely different singleton document here"],
        "tool": [None] * 13,
        "ts": [pd.Timestamp("2026-01-01")] * 13,
    })
    df = spark.createDataFrame(
        turns, "conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")
    cfg = DedupConfig(n_perm=32, coarse_n_bands=8, coarse_rows_per_band=4,
                      tight_n_bands=0, tight_min_match=0, cc_max_iterations=6)
    store = StageStore(spark=spark, work_dir=str(tmp_path), config_hash="flood")
    res = run_dedup(spark, df, cfg=cfg, store=store, enable_overlap_stage=False)

    # signature kernel ran once per DISTINCT text
    assert res.signatures.count() == 2
    # star topology: 11 exact edges, no quadratic pair blowup
    pairs = res.dup_pairs.collect()
    assert len(pairs) == 11
    assert all(r.jaccard == 1.0 for r in pairs)
    # one flood cluster + one singleton
    clusters = {}
    for r in res.clusters.collect():
        clusters.setdefault(r.cluster_id, set()).add(r.doc_id)
    sizes = sorted(len(v) for v in clusters.values())
    assert sizes == [1, 12]


def test_empty_and_all_filtered_corpus(spark, tmp_path):
    """Degenerate inputs: an empty turns frame and one where every doc falls
    under min_doc_chars must produce empty-but-well-formed outputs."""
    import pandas as pd

    from lsh_cascade_poc_spark.checkpoint import StageStore

    short = pd.DataFrame({
        "conv_id": ["a", "b"], "turn_idx": [0, 0], "role": ["user", "user"],
        "text": ["hi", "yo"], "tool": [None, None],
        "ts": [pd.Timestamp("2026-01-01")] * 2,
    })
    df = spark.createDataFrame(
        short, "conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")
    cfg = DedupConfig(n_perm=32, coarse_n_bands=4, coarse_rows_per_band=4,
                      tight_n_bands=0, tight_min_match=0, cc_max_iterations=4)
    store = StageStore(spark=spark, work_dir=str(tmp_path), config_hash="empty")
    res = run_dedup(spark, df, cfg=cfg, store=store, enable_overlap_stage=True)
    assert res.docs.count() == 0          # all below min_doc_chars
    assert res.dup_pairs.count() == 0
    assert res.clusters.count() == 0


def test_recall_report_module(spark_result):
    """recall.py — the module bench.py publishes as the north-rule clause-1
    metric (`dup_pair_recall`) — must read 1.0 contract recall on the tiny
    planted corpus and stay internally consistent per kind. (The planted
    ground truth itself is independently asserted pair-by-pair in
    test_planted_duplicates_recovered; this pins the metric's aggregation.)"""
    from lsh_cascade_poc_spark.recall import recall_report

    rep = recall_report(spark_result, CFG)
    assert rep["contract_pairs"] > 0
    assert rep["contract_recall"] == 1.0
    pk = rep["per_kind"]
    for kind in ("exact", "whitespace"):
        # byte-identical (exact) or shingle-identical (whitespace) variants:
        # every planted pair is in-contract and must be co-clustered
        assert pk[kind]["contract"] == pk[kind]["planted"]
        assert pk[kind]["clustered"] == pk[kind]["planted"]
    # on this generator's corpora substring plants keep one turn of many,
    # so their true Jaccard sits far below threshold: no contract rows
    # (the metric itself splits by true Jaccard, not by kind)
    if "substring" in pk:
        assert pk["substring"]["contract"] == 0


def test_run_concurrently_order_properties_and_failure(spark):
    """Results come back in branch order; a local property the caller set is
    visible in every branch (tracing tags and streaming query properties
    rely on it); a failing branch re-raises only after a slower sibling
    has finished."""
    import threading
    import time

    from lsh_cascade_poc_spark.pipeline import run_concurrently

    sc = spark.sparkContext
    sc.setLocalProperty("run_concurrently.test", "tagged")
    try:
        def branch(i, delay):
            def run():
                time.sleep(delay)
                return (i, sc.getLocalProperty("run_concurrently.test"),
                        threading.get_ident())
            return run

        got = run_concurrently(spark, *(branch(i, 0.2 - 0.05 * i)
                                        for i in range(4)))
        assert [i for i, _, _ in got] == [0, 1, 2, 3]
        assert {p for _, p, _ in got} == {"tagged"}
        # the first branch runs on the calling thread, the others do not
        assert got[0][2] == threading.get_ident()
        assert len({t for _, _, t in got}) == 4

        def fail():
            raise ValueError("branch failed")

        for layout in ("first", "sibling"):
            finished = threading.Event()

            def slow():
                time.sleep(0.5)
                finished.set()

            branches = (fail, slow) if layout == "first" else \
                (lambda: None, fail, slow)
            with pytest.raises(ValueError, match="branch failed"):
                run_concurrently(spark, *branches)
            assert finished.is_set(), layout
    finally:
        sc.setLocalProperty("run_concurrently.test", None)
