"""StageStore checkpoint/resume semantics: committed stages are not
recomputed; metrics rows accumulate; partition lineage is queryable."""

from __future__ import annotations

import pytest

from lsh_cascade_poc_spark.checkpoint import StageStore


@pytest.fixture()
def store(spark, tmp_path):
    return StageStore(spark=spark, work_dir=str(tmp_path), config_hash="cfgA")


def test_materialize_commits_and_skips_recompute(spark, store):
    calls = {"n": 0}

    def factory():
        calls["n"] += 1
        return spark.range(10).withColumnRenamed("id", "doc_id")

    out1 = store.materialize("stage1", factory)
    assert out1.count() == 10
    assert store.exists("stage1")
    out2 = store.materialize("stage1", factory)
    assert out2.count() == 10
    assert calls["n"] == 1  # resume: factory not re-invoked

    m = store.metrics().collect()
    assert len(m) == 1
    assert m[0].stage == "stage1" and m[0].rows_out == 10
    assert m[0].wall_ms > 0


def test_config_hash_isolates_runs(spark, tmp_path):
    s1 = StageStore(spark=spark, work_dir=str(tmp_path), config_hash="h1")
    s2 = StageStore(spark=spark, work_dir=str(tmp_path), config_hash="h2")
    s1.materialize("s", lambda: spark.range(3))
    assert s1.exists("s") and not s2.exists("s")


def test_partition_lineage(spark, store):
    store.materialize("st", lambda: spark.range(100).repartition(4))
    lin = store.partition_lineage("st").collect()
    assert sum(r.rows for r in lin) == 100
    assert len(lin) >= 1


def test_pipeline_resume(spark, tiny_turns, tmp_path):
    """Full-pipeline resume: a second run with the same config reloads every
    stage from the checkpoint (no UDF work) and yields identical clusters."""
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.pipeline import run_dedup

    cfg = DedupConfig(n_perm=32, coarse_n_bands=4, coarse_rows_per_band=4,
                      tight_n_bands=5, tight_rows_per_band=6,
                      cc_max_iterations=8)
    store = StageStore(spark=spark, work_dir=str(tmp_path), config_hash=cfg.config_hash())
    r1 = run_dedup(spark, tiny_turns, cfg=cfg, store=store, enable_overlap_stage=False)
    c1 = sorted((r.doc_id, r.cluster_id) for r in r1.clusters.collect())

    store2 = StageStore(spark=spark, work_dir=str(tmp_path), config_hash=cfg.config_hash())
    r2 = run_dedup(spark, tiny_turns.limit(0), cfg=cfg, store=store2,
                   enable_overlap_stage=False)
    # input ignored on resume — every stage loads from the checkpoint
    c2 = sorted((r.doc_id, r.cluster_id) for r in r2.clusters.collect())
    assert c1 == c2

    stages = {r.stage for r in store2.metrics().collect()}
    # A5: every cascade tier leaves a reduction-observable metric row —
    # candidate counts per tier AND the dropped hot-band stats
    assert {
        "docs", "signatures", "pairs_minhash",
        "pairs_simhash", "hot_band_drops", "dup_pairs", "clusters",
    } <= stages

    # rows_out per stage is the per-tier reduction metric: metrics rows are
    # queryable as a DataFrame (north rule: per-partition lineage + metrics)
    by_stage = {r.stage: r.rows_out for r in store2.metrics().collect()}
    assert all(v >= 0 for v in by_stage.values())
    # signatures carry exact-dup-group REPRESENTATIVES only (the collapse
    # happens before the signature kernel): strictly fewer rows than docs
    # whenever the corpus has exact duplicates, never more
    n_reps = r1.docs.filter("doc_id = _root").count()
    assert by_stage["signatures"] == n_reps
    assert by_stage["signatures"] <= by_stage["docs"]

def test_bucket_sizes_and_stage_size(spark, store):
    """A6: per-bucket band-index sizes + on-disk stage footprint. The band
    pair join returns the sizes of the buckets above the cap; at cap 1
    that is every bucket that could pair (>= 2 docs), never a singleton."""
    from lsh_cascade_poc_spark.operators.pairs import pairs_from_bands

    bands = spark.createDataFrame(
        [(0, 0, 10, 1), (0, 0, 10, 2), (0, 0, 10, 3), (0, 1, 99, 1)],
        "tier int, band_id int, band_key long, doc_id long",
    )
    pairs, hot = pairs_from_bands(bands, None, 1)
    assert [tuple(r) for r in hot.collect()] == [(0, 0, 10, 3)]
    assert pairs.count() == 0

    store.materialize("sized", lambda: spark.range(1000))
    assert store.stage_size_bytes("sized") > 0
