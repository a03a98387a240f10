"""Regenerate PLANS.md: annotated physical plans of the engine's headline
operators at sf0.001. Run from the repo root:

    python tools/dump_plans.py > PLANS.md

The assertions behind these plans live in tests/test_plans.py; this dump is
the human-readable companion (what the plan looks like and why it's the one
we want).

Two more modes measure the registered queries (__spark_entry__.queries(), by
default bench.py's BENCH_QUERIES) at local[$SPARK_GRAFT_CPUS] over
$SPARK_GRAFT_SF_DIR (default: the sf0.1 corpus next to sf0.001):
  --mode queries [--names a,b,c] [--repeats K] [--noop]
      per-query timing, K interleaved repeats, reporting all samples + min.
      --noop times df.write.format("noop") instead of .count().
  --mode plans [--names a,b,c] [--out plans/r06 --suffix _before]
      dump .explain("formatted") of each query to <out>/<name><suffix>.txt
Per-stage pipeline walls: perfbench/run.py --trace 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
QUERY_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                              os.path.join(os.path.dirname(SF_DIR), "sf0.1"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _mk_spark(cores: int, shuffle_partitions: int):
    from lsh_cascade_poc_spark.session import get_spark

    return get_spark(app_name="dump_plans", master=f"local[{cores}]",
                     shuffle_partitions=shuffle_partitions,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def plan_of(df, mode: str = "simple") -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def mode_queries(names: list[str], repeats: int, noop: bool) -> None:
    import __spark_entry__ as entrymod

    spark = _mk_spark(CPUS, max(8, CPUS))
    spark.read.parquet(f"{QUERY_SF_DIR}/documents.parquet").count()
    qmap = entrymod.queries()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _rep in range(repeats):
        for name in names:
            fn = qmap[name]
            spark.sparkContext.setJobDescription(f"bx:{name}")
            t0 = time.perf_counter()
            df = fn(spark, QUERY_SF_DIR)
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {n: {"samples": samples[n], "min": min(samples[n])} for n in names}
    print(json.dumps(out), flush=True)
    spark.stop()


def mode_plans(names: list[str], out_dir: str, suffix: str) -> None:
    import __spark_entry__ as entrymod

    os.makedirs(out_dir, exist_ok=True)
    spark = _mk_spark(CPUS, max(8, CPUS))
    qmap = entrymod.queries()
    for name in names:
        df = qmap[name](spark, QUERY_SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}{suffix}.txt", flush=True)
    spark.stop()


def mode_headline() -> None:
    from pyspark.sql import functions as F

    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.datagen.transcripts import (
        corpus_to_spark,
        generate_corpus,
    )
    from lsh_cascade_poc_spark.operators.assemble import (
        assemble_conversations,
        with_doc_id,
    )
    from lsh_cascade_poc_spark.operators.bands import explode_bands
    from lsh_cascade_poc_spark.operators.components import _large_star, _canonical
    from lsh_cascade_poc_spark.operators.pairs import pairs_from_bands
    from lsh_cascade_poc_spark.operators.suffix import (
        overlap_candidates,
        winnow_fingerprints,
    )
    from lsh_cascade_poc_spark.pipeline import build_signatures, tight_tier

    spark = _mk_spark(4, 8)
    cfg = DedupConfig(n_perm=32, coarse_n_bands=4, coarse_rows_per_band=4,
                      tight_n_bands=5)
    turns = corpus_to_spark(spark, generate_corpus(n_base=30, dup_fraction=0.3,
                                                   seed=3))
    docs = with_doc_id(assemble_conversations(turns))
    sigs = build_signatures(docs, cfg)

    # (title, commentary, df, explain-mode) — "formatted" for the small
    # plans where the node details carry the story, "simple" for the join
    # trees (their formatted details repeat the whole subtree per node)
    sections: list[tuple[str, str, object, str]] = []

    sections.append((
        "Parquet scan: pushdown + pruning",
        "The filter lands in `PushedFilters` and `ReadSchema` carries only "
        "the two referenced columns — `doc_text` (the multi-KB payload) is "
        "never read. At 100 TB this is the difference between scanning "
        "metadata-per-row and scanning the corpus.",
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .filter(F.col("lang") == "en").select("doc_id", "lang"),
        "formatted",
    ))

    sections.append((
        "Signature stage: ONE fused Arrow kernel",
        "A single `ArrowEvalPython` node computes shingles+MinHash+SimHash "
        "in one pass over the text (the md5 fingerprint stays JVM-side in "
        "the surrounding Project). Documents cross the JVM<->Python "
        "boundary exactly once; assembly below it is a partial-aggregated "
        "`collect_list` with `sort_array` for deterministic turn order (no "
        "window over a skewable key).",
        sigs,
        "formatted",
    ))

    # the real pipeline materializes the signatures stage and every later
    # stage reads it back from parquet — checkpoint here so the dumped band
    # plan matches the production shape (a lazy `sigs` would show the
    # signature kernel re-embedded once per join side, which run_dedup
    # never executes)
    sigs_ck = sigs.localCheckpoint(eager=True)
    bands = explode_bands(sigs_ck, "minhash", tier=0, n_bands=4,
                          rows_per_band=4)
    pairs, _hot = pairs_from_bands(bands, None, cfg.hot_band_cap)
    sections.append((
        "Band self-join: equi-join on (tier, band_id, band_key)",
        "The cascade's dominant shuffle. Band keys are `xxhash64` over "
        "signature slices — computed in whole-stage codegen, no Python. "
        "The self-join is an EQUI-join (test_plans.py pins 'never "
        "nested-loop'; broadcast at this toy scale, shuffle join at real "
        "scale under the 8MB threshold); the join's own hot-key gate (the "
        "distinct docs per bucket, counted after ONE exchange on the "
        "bucket key; buckets of 2..cap docs, a lazy subplan that AQE "
        "broadcasts when its runtime size is under the same 8MB "
        "threshold) drops singleton and hot buckets under each of its "
        "sides, and `id_a < id_b` + "
        "`distinct` dedups pairs across bands BEFORE the expensive verify. "
        "Both sides read the checkpointed signature stage, mirroring "
        "run_dedup's stage materialization. The join is `shared_key_pairs`, "
        "the operator streaming probes its index with; a batch run passes "
        "an empty index, whose new x index branch Catalyst prunes — no "
        "`Union`, one pair join (tests/test_plans.py pins it).",
        pairs,
        "simple",
    ))

    sections.append((
        "Tier 1: per-pair slice filter",
        "Two `doc_id` joins attach each tier-0 pair's signatures and one "
        "predicate, folded into the second join, sums a `slice` = `slice` "
        "comparison per tight band: no tight band table, count job or "
        "second self-join (tests/test_plans.py pins it). The pairs are "
        "checkpointed here to show tier 1 alone. The predicate has no "
        "lambda, filters joined rows and feeds no `explode`, so the "
        "higher-order-function trap below does not apply.",
        # a fresh Dataset: checkpointing `pairs` itself would run its
        # adaptive plan and turn the band section into a post-run plan
        tight_tier(pairs.select("id_a", "id_b").localCheckpoint(), sigs_ck,
                   cfg),
        "simple",
    ))

    fps = winnow_fingerprints(docs, cfg.winnow_kgram_chars,
                              cfg.winnow_window).localCheckpoint(eager=True)
    sections.append((
        "Overlap candidates: the same shared-key join on `fp`",
        "The winnow fingerprint table pairs through the same "
        "`shared_key_pairs` join as the bands, keyed on `fp` with `pos` as "
        "payload, and through the same gate: both join sides keep the "
        "fingerprints shared by 2..overlap_hot_cap distinct docs (the "
        "same lazy gate subplan, broadcast when small); the "
        "empty-index branch is pruned as above. Two aggregates then pick "
        "three verify seeds per pair (per alignment delta, then per pair) "
        "and apply `overlap_min_shared_fps`.",
        overlap_candidates(fps, cfg),
        "simple",
    ))

    sections.append((
        "Connected components: one large-star round",
        "groupBy(min) + join per round — partial aggregation (map-side "
        "combine) handles hot roots; per-round `localCheckpoint` (lazy) "
        "truncates lineage so round N's plan does not embed rounds 1..N-1.",
        _large_star(_canonical(pairs.select(F.col("id_a"), F.col("id_b")))),
        "simple",
    ))

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    sections.append((
        "Relational: broadcast dim join (orders x customer)",
        "The dimension side is broadcast (hinted; at 100 TB the fact side "
        "shuffles nothing for this join) and the revenue measure is "
        "pre-quantized to integer milli-units inside the partial aggregate "
        "— order-independent sums, exact cross-engine.",
        qmap["orders_by_segment"](spark, SF_DIR),
        "simple",
    ))

    sections.append((
        "Production band keys (oracle-exact coarse tier)",
        "The flagship cascade's per-doc arithmetic as one narrow plan: a "
        "single fused ArrowEvalPython (the tokenize->shingle->MinHash->"
        "SimHash kernel crosses to Python exactly once) followed by "
        "JVM-side xxhash64 band keys + posexplode inside codegen — the "
        "banding itself never leaves Tungsten. This exact arithmetic is "
        "hash-checked against a DuckDB HUGEINT reproduction "
        "(oracle `prod_band_keys`).",
        qmap["prod_band_keys"](spark, SF_DIR),
        "simple",
    ))

    sections.append((
        "Relational: fact-fact sort-merge join + ROLLUP",
        "lineitem x orders pinned sort-merge (merge hint — both sides are "
        "large at warehouse scale; AQE would broadcast the toy-scale side "
        "and hide the shape). The shipdate predicate lands in "
        "`PushedFilters` on the lineitem scan; `expand` implements the "
        "rollup grouping sets over the already-aggregated rows.",
        qmap["revenue_rollup"](spark, SF_DIR),
        "simple",
    ))

    print("# PLANS — physical plans of the headline operators\n")
    print("Generated by `python tools/dump_plans.py` (sf0.001, local[4], "
          "AQE on; `AdaptiveSparkPlan isFinalPlan=false` is pre-execution "
          "form). Plan-shape regressions are pinned by `tests/test_plans.py`; "
          "this file is the annotated companion.\n")
    for title, why, df, mode in sections:
        print(f"## {title}\n")
        print(why + "\n")
        print("```")
        print(plan_of(df, mode).rstrip())
        print("```\n")
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["queries", "plans"],
                    help="measure the registered queries; without it, print "
                    "PLANS.md")
    ap.add_argument("--names", default="")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--out", default="plans/r06")
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()
    if args.mode is None:
        mode_headline()
        return

    import bench as benchmod

    names = ([n for n in args.names.split(",") if n]
             if args.names else list(benchmod.BENCH_QUERIES))
    if args.mode == "queries":
        mode_queries(names, args.repeats, args.noop)
    else:
        mode_plans(names, args.out, args.suffix)


if __name__ == "__main__":
    main()
