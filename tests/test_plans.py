"""Physical-plan shape regression tests.

The engine's 100TB story rests on plan properties, not constants: filters
reach the parquet scan, projections prune columns, the banded self-joins are
hash joins (never nested-loop/cartesian), the signature kernel is ONE fused
Arrow pass, and the hot expression paths stay inside WholeStageCodegen.
These tests pin those properties so a refactor that silently degrades the
plan (e.g. a lost pushdown or an accidental BroadcastNestedLoopJoin) fails
CI even though results stay correct.

Reference analog: the reference checks operator *output* only (its planner
is DuckDB's); plan assertions are the Spark-native equivalent of its
reduction-rate checks (/root/reference/src/cascade_search.py:292-299).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def plan_of(df, mode: str = "formatted") -> str:
    exec_ = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return exec_.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_and_projection_reach_parquet_scan(spark):
    """Predicate pushdown + column pruning on a raw parquet scan."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    q = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan
    # ReadSchema must carry only the two referenced columns, not doc_text
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "doc_text" not in read_schema[0], read_schema


def test_band_self_join_is_hash_join_not_nested_loop(spark, tiny_turns):
    """The cascade's dominant join must be an equi-join on the band key.

    A regression that drops the join keys (e.g. a renamed column yielding a
    trivially-true condition) would silently become a nested-loop cross
    product — quadratic at corpus scale."""
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.operators.assemble import (
        assemble_conversations,
        with_doc_id,
    )
    from lsh_cascade_poc_spark.operators.bands import explode_bands
    from lsh_cascade_poc_spark.operators.pairs import pairs_from_bands
    from lsh_cascade_poc_spark.pipeline import build_signatures

    cfg = DedupConfig(n_perm=32, coarse_n_bands=4, coarse_rows_per_band=4,
                      tight_n_bands=5)
    docs = with_doc_id(assemble_conversations(tiny_turns))
    sigs = build_signatures(docs, cfg)
    bands = explode_bands(sigs, "minhash", tier=0, n_bands=4, rows_per_band=4)
    plan = plan_of(pairs_from_bands(bands, None, 1000)[0])
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan


def test_batch_candidate_joins_prune_the_empty_index(spark, tiny_turns):
    """Batch runs the streaming candidate operator (shared_key_pairs)
    against an EMPTY index: Catalyst must prune the new x index branch and
    the empty side of the gate's key count, so the batch plan stays the
    plain gated self-join — no Union, and exactly one pair join on the key
    table, with the gate join of the one new side under each of its sides.
    A lost pruning would double the batch joins."""
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.operators.assemble import (
        assemble_conversations,
        with_doc_id,
    )
    from lsh_cascade_poc_spark.operators.bands import explode_bands
    from lsh_cascade_poc_spark.operators.pairs import pairs_from_bands
    from lsh_cascade_poc_spark.operators.suffix import (
        overlap_candidates,
        winnow_fingerprints,
    )
    from lsh_cascade_poc_spark.pipeline import build_signatures

    def optimized(df) -> tuple[str, list[str], list[str]]:
        """(plan, its joins, its pair joins: those filtering id_a < id_b)"""
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        joins = [ln for ln in plan.splitlines() if "Join " in ln]
        return plan, joins, [ln for ln in joins if "id_a#" in ln]

    cfg = DedupConfig(n_perm=32, coarse_n_bands=4, coarse_rows_per_band=4,
                      tight_n_bands=5)
    docs = with_doc_id(assemble_conversations(tiny_turns)).localCheckpoint()
    sigs = build_signatures(docs, cfg).localCheckpoint()
    bands = explode_bands(sigs, "minhash", tier=0, n_bands=4, rows_per_band=4)
    plan, joins, pair_joins = optimized(
        pairs_from_bands(bands, None, cfg.hot_band_cap)[0])
    assert "Union" not in plan, plan
    # the pair join + the pairable-bucket gate join under each side of it
    assert len(joins) == 3 and len(pair_joins) == 1, plan

    fps = winnow_fingerprints(docs, 24, 64).localCheckpoint()
    plan, joins, pair_joins = optimized(overlap_candidates(fps, cfg))
    assert "Union" not in plan, plan
    # the pair join + the shared-fp gate join under each side of it
    assert len(joins) == 3 and len(pair_joins) == 1, plan


def test_key_gate_count_is_one_exchange(spark):
    """The hot-key gate of shared_key_pairs counts distinct docs per key
    over new ∪ index in ONE exchange: the union is hash-partitioned on the
    keys, so the (keys, doc_id) dedup and the per-key count run inside
    those partitions instead of shuffling once per aggregate."""
    from lsh_cascade_poc_spark.operators.pairs import shared_key_pairs

    def keyed(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("doc_id"),
                                          (F.col("id") % 7).alias("k"))

    for index in (None, keyed(40, 60)):
        # `hot` is the count itself, filtered above the cap
        _pairs, hot = shared_key_pairs(keyed(0, 40), index, ["k"], 1000)
        plan = plan_of(hot, mode="simple")
        assert plan.count("Exchange") == 1, plan


def test_small_key_gate_is_broadcast_at_run_time(spark, tiny_turns):
    """The key gate of pairs_from_bands carries no broadcast hint and runs
    no count: the session's (adaptive) broadcast threshold decides its join
    from the gate's size. Executed over a small band table, the plan joins
    the gate with a BroadcastHashJoin: a hash join on the band key that,
    unlike the pair join, filters no `id_a < id_b`."""
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.operators.assemble import (
        assemble_conversations,
        with_doc_id,
    )
    from lsh_cascade_poc_spark.operators.bands import explode_bands
    from lsh_cascade_poc_spark.operators.pairs import pairs_from_bands
    from lsh_cascade_poc_spark.pipeline import build_signatures

    cfg = DedupConfig(n_perm=32, coarse_n_bands=4, coarse_rows_per_band=4,
                      tight_n_bands=5)
    docs = with_doc_id(assemble_conversations(tiny_turns))
    sigs = build_signatures(docs, cfg).localCheckpoint()
    bands = explode_bands(sigs, "minhash", tier=0, n_bands=4, rows_per_band=4)
    pairs, _hot = pairs_from_bands(bands, None, cfg.hot_band_cap)
    assert pairs.collect()  # executes this Dataset's own adaptive plan
    plan = plan_of(pairs, mode="simple")
    assert "isFinalPlan=true" in plan, plan
    gate_joins = [ln for ln in plan.splitlines()
                  if "BroadcastHashJoin [" in ln and "band_key#" in ln
                  and "id_a#" not in ln]
    assert gate_joins, plan


def test_tight_tier_is_a_pair_filter_not_a_band_join(spark, tiny_turns):
    """Tier 1 filters the tier-0 pairs by their two signatures: the
    optimized plan of minhash_candidate_pairs with the tier on holds ONE
    pair join (tier 0's band self-join), two doc_id joins attaching the
    signatures, and no tier-1 band explode — a second band self-join or
    pairable-bucket pass would show up as a tier-1 Generate."""
    import re

    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.operators.assemble import (
        assemble_conversations,
        with_doc_id,
    )
    from lsh_cascade_poc_spark.pipeline import (
        build_signatures,
        minhash_candidate_pairs,
    )

    cfg = DedupConfig(n_perm=32, coarse_n_bands=4, coarse_rows_per_band=4,
                      tight_n_bands=5, tight_min_match=1)
    docs = with_doc_id(assemble_conversations(tiny_turns)).localCheckpoint()
    sigs = build_signatures(docs, cfg).localCheckpoint()
    cands, _ = minhash_candidate_pairs(sigs, cfg)
    plan = cands._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    pair_joins = [ln for ln in joins if "band_key" in ln and "id_a#" in ln]
    doc_id_joins = [ln for ln in joins
                    if re.search(r"\(id_([ab])#\d+L = id_\1#\d+L\)", ln)]
    assert len(pair_joins) == 1 and len(doc_id_joins) == 2, plan
    # + the pairable-bucket gate join under each side of the pair join
    assert len(joins) == 5, plan
    generates = [ln for ln in plan.splitlines() if "Generate " in ln]
    assert generates and not any("xxhash64(1," in ln for ln in generates), plan


def test_signature_kernel_is_one_fused_arrow_pass(spark, tiny_turns):
    """build_signatures must evaluate exactly ONE Python/Arrow UDF node:
    shingle+minhash+simhash are fused into a single kernel. Two+ nodes mean
    the text is shipped through Arrow (and re-tokenized) more than once."""
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.operators.assemble import (
        assemble_conversations,
        with_doc_id,
    )
    from lsh_cascade_poc_spark.pipeline import build_signatures

    docs = with_doc_id(assemble_conversations(tiny_turns))
    # "simple" mode: one line per node ("formatted" repeats each node in the
    # detail section, double-counting)
    cfg = DedupConfig(n_perm=32, coarse_n_bands=8, tight_n_bands=5)
    plan = plan_of(build_signatures(docs, cfg), mode="simple")
    n_arrow_nodes = plan.count("ArrowEvalPython")
    assert n_arrow_nodes == 1, f"{n_arrow_nodes} Arrow UDF nodes:\n{plan}"


def test_hot_expressions_stay_in_codegen(spark):
    """Band keys, Hamming distance, and the Jaccard arithmetic are JVM
    expressions inside WholeStageCodegen — no Python in the hot path."""
    from lsh_cascade_poc_spark.functions.simhash import hamming64

    df = spark.range(1000).select(
        F.col("id"), F.xxhash64(F.lit(0), F.col("id")).alias("h")
    )
    q = df.select(hamming64(F.col("id"), F.col("h")).alias("d")).filter("d < 20")
    # "*(n)" prefixes mark WholeStageCodegen stages in simple mode (the
    # formatted tree hides them under a not-yet-final AdaptiveSparkPlan)
    plan = plan_of(q, mode="simple")
    assert "*(1)" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "bit_count" in plan, plan  # hamming64 compiled to the JVM builtin


def test_semijoin_fetch_pushes_id_filter(spark):
    """The id semi-join fetch (R5) must not degrade to a full-scan join on
    the fact side when the id set is small: broadcast of the SMALL side only."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    ids = spark.range(5).select(F.col("id").alias("doc_id"))
    q = docs.join(F.broadcast(ids), "doc_id", "left_semi")
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


@pytest.mark.parametrize("query", ["exact_dup_groups", "lsh_band_pairs"])
def test_entry_queries_avoid_cartesian(spark, query):
    """Headline oracle queries must contain no cartesian/nested-loop joins.
    (cosine/hamming brute-force oracles are cartesian BY SPEC and excluded.)"""
    import __spark_entry__ as entrymod

    df = entrymod.queries()[query](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_relational_join_strategies(spark):
    """VERDICT r2 #6: the relational queries pin the two canonical join
    shapes — dim join broadcast (orders x customer) and fact-fact
    sort-merge (lineitem x orders) — plus shipdate pushdown to the scan."""
    import __spark_entry__ as entrymod

    qmap = entrymod.queries()

    seg = plan_of(qmap["orders_by_segment"](spark, SF_DIR))
    assert "BroadcastHashJoin" in seg, seg
    assert "SortMergeJoin" not in seg, seg

    roll = plan_of(qmap["revenue_rollup"](spark, SF_DIR))
    assert "SortMergeJoin" in roll, roll
    # the shipdate predicate reaches the lineitem parquet scan
    assert "PushedFilters" in roll and "l_shipdate" in roll.split(
        "PushedFilters", 1)[1][:200], roll

    q1 = plan_of(qmap["pricing_summary"](spark, SF_DIR))
    assert "PushedFilters" in q1 and "l_shipdate" in q1.split(
        "PushedFilters", 1)[1][:200], q1
    # ReadSchema pruned: the untouched l_comment-ish wide columns stay out
    read_schema = [ln for ln in q1.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_partkey" not in read_schema[0], read_schema


def test_training_pipeline_query_plans(spark):
    """Round-3 training-pipeline queries pin their scale shapes:
    repetition_stats must be a pure map over the scan (its per-doc stats
    are within-row higher-order functions — any Exchange means the bigram
    groupBy shape crept back in); contamination_overlap must broadcast the
    (small by construction) benchmark side, never shuffle-join the corpus."""
    import __spark_entry__ as entrymod

    qmap = entrymod.queries()

    rep = plan_of(qmap["repetition_stats"](spark, SF_DIR))
    assert "Exchange" not in rep, rep
    assert "ArrowEvalPython" not in rep and "BatchEvalPython" not in rep, rep

    cont = plan_of(qmap["contamination_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in cont, cont
    assert "SortMergeJoin" not in cont, cont
    assert "CartesianProduct" not in cont, cont

    dfq = plan_of(qmap["doc_frequency"](spark, SF_DIR))
    # vocab-sized partial agg before the single-reducer top-k window
    assert "HashAggregate" in dfq, dfq
