"""The end-to-end dedup pipeline: the reference's cascade, set-oriented.

Reference cascade (per query, /root/reference/src/pipeline.py:68-119):
    Stage 1 coarse LSH chunk filter -> Stage 2 Hamming rerank -> Stage 3 exact
    cosine rerank.
Our all-pairs restatement (SURVEY.md §7.1):
    Stage 0  assemble conversations -> documents (stable turn order) + exact
             md5 fingerprint tag (_root = min id per fingerprint group)
    Stage 1  signatures: hashed shingles + MinHash + SimHash — computed for
             fingerprint-group REPRESENTATIVES only (exact members collapse
             before any expensive kernel; star edges carry them to clusters)
    Stage 2a exact-dup pairs (the star edges — free recall for identical docs)
    Stage 2b COARSE band pass over all docs (high recall)   [tier 0]
    Stage 2c TIGHT slice filter over tier-0 pairs only: keep
             those agreeing on >= m tight MinHash slices     [tier 1]
    Stage 2d SimHash bit-sampling pass: band join + Hamming <= tau prune
    Stage 2e winnowing/substring pass: exact long-overlap pairs
    Stage 3  exact Jaccard verify on the unioned candidate set
    Stage 4  connected components -> cluster assignment
Stages 0-3 are one body, run_cascade, with two drivers: run_dedup runs it
as a first micro-batch against an empty index, and streaming.py's
IncrementalDedup.process_batch against its index as it stood before each
micro-batch. Every stage can be checkpointed through StageStore (resume
skips committed stages); metrics rows record per-stage row counts and wall
time.
"""

from __future__ import annotations

from collections.abc import Mapping
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import StageStore
from .config import DedupConfig
from .functions.signature_udf import make_signature_udf
from .functions.simhash import hamming64, simhash_band_key
from .functions.text import fingerprint_md5
from .operators.assemble import assemble_conversations, with_doc_id
from .operators.bands import explode_bands, slice_agreements_column
from .operators.components import clusters_with_singletons, connected_components
from .operators.pairs import (
    BAND_KEY,
    pairs_from_bands,
    shared_key_pairs,
    split_exact_duplicates,
    tag_exact_duplicates,
)
from .operators.suffix import overlap_candidates, verify_overlaps, winnow_fingerprints
from .operators.verify import attach_pair_sides, verify_pairs_exact_jaccard


@dataclass
class DedupResult:
    docs: DataFrame        # (conv_id, doc_id, doc_text, n_turns, fingerprint, _root, ...)
    signatures: DataFrame  # build_signatures' schema: (conv_id, doc_id,
    #                        fingerprint, shingles, n_shingles, minhash,
    #                        simhash) — exact-dup-group REPRESENTATIVES only
    #                        (members carry no signature; they re-attach via
    #                        _root)
    dup_pairs: DataFrame   # (id_a, id_b, jaccard)
    clusters: DataFrame    # (doc_id, cluster_id) — all docs, singletons included


def build_docs(turns: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Stage 0 of batch and streaming: assemble conversations into
    documents, add the stable `doc_id`, the full-text md5 `fingerprint` and
    the exact-group tag `_root` (min doc_id of the fingerprint group). Lazy;
    the caller materializes it. Tagging here, on raw text, instead of on the signature
    table means the window shuffle moves the ~1KB text rows once and the
    expensive signature kernel runs ONLY on group representatives
    (split_exact_duplicates): an m-fold exact flood costs one kernel
    invocation, not m, and the signatures stage needs no shuffle at all."""
    return tag_exact_duplicates(
        with_doc_id(
            assemble_conversations(
                turns, max_turn_chars=cfg.max_turn_chars,
                min_doc_chars=cfg.min_doc_chars,
            )
        ).withColumn("fingerprint", fingerprint_md5(F.col("doc_text")))
    )


def check_doc_id_collisions(docs: DataFrame) -> None:
    """doc_id = xxhash64(conv_id): raise on a 64-bit collision (distinct
    conv_ids sharing a doc_id would corrupt signatures and clusters) — one
    aggregate over (conv_id, doc_id) rows. The same conv_id seen twice (a
    re-delivered conversation) is not a collision."""
    n_coll = (
        docs.groupBy("doc_id")
        .agg(F.countDistinct("conv_id").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if n_coll:
        raise RuntimeError(
            f"{n_coll} doc_id collisions (xxhash64 of distinct conv_ids); "
            "re-run with salted ids or dedupe conv_ids"
        )


def build_signatures(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """One pass over documents computing every per-doc artifact the cascade
    needs: ONE fused Arrow kernel (tokenize -> shingle-hash -> MinHash ->
    SimHash, see functions/signature_udf.py for why shingling is NOT a JVM
    higher-order expression) plus the JVM-side md5 fingerprint (reused from
    the input when the docs stage already carries it)."""
    sig_udf = make_signature_udf(
        cfg.shingle_k, cfg.n_perm, cfg.minhash_seed, cfg.simhash_bits
    )
    fp = (
        F.col("fingerprint") if "fingerprint" in docs.columns
        else fingerprint_md5(F.col("doc_text"))
    )
    # doc_text deliberately NOT carried: signatures are checkpointed and
    # re-joined repeatedly; the raw text stays in the docs table only
    return docs.select(
        "conv_id",
        "doc_id",
        fp.alias("fingerprint"),
        sig_udf(F.col("doc_text")).alias("_sig"),
    ).select(
        "conv_id",
        "doc_id",
        "fingerprint",
        F.col("_sig.shingles").alias("shingles"),
        F.size("_sig.shingles").alias("n_shingles"),
        F.col("_sig.minhash").alias("minhash"),
        F.col("_sig.simhash").alias("simhash"),
    )


def coarse_bands(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Tier-0 (coarse, high-recall) MinHash bands of `signatures`."""
    return explode_bands(
        signatures, "minhash", tier=0,
        n_bands=cfg.coarse_n_bands, rows_per_band=cfg.coarse_rows_per_band,
    )


def simhash_chunks(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Tier-2 SimHash bands of `signatures`: (doc_id, simhash, band_id,
    band_key, tier) with one simhash_band_bits chunk per band (chunk_hash
    analog)."""
    return signatures.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*[
            simhash_band_key(F.col("simhash"), i, cfg.simhash_band_bits)
            for i in range(cfg.simhash_bits // cfg.simhash_band_bits)
        ])).alias("band_id", "band_key"),
    ).withColumn("tier", F.lit(2))


def tight_tier(pairs: DataFrame, signatures: DataFrame,
               cfg: DedupConfig) -> DataFrame:
    """Tier 1 of both drivers -> the (id_a, id_b) pairs whose MinHash
    signatures agree on >= tight_min_match tight slices (src/dflsh.py:187-197
    min-match analog); tight_min_match <= 0 bypasses it. A filter over each
    pair's two signatures: no band table, so no bucket key to skew."""
    if cfg.tight_min_match <= 0:
        return pairs
    agree = slice_agreements_column(
        "minhash_a", "minhash_b", cfg.tight_n_bands, cfg.tight_rows_per_band
    )
    return (
        attach_pair_sides(pairs, signatures, ["minhash"])
        .filter(agree >= cfg.tight_min_match)
        .select("id_a", "id_b")
    )


def _with_index(new: DataFrame, index: Mapping[str, DataFrame] | None,
                name: str) -> DataFrame:
    """`new` plus the rows of index table `name`, in `new`'s columns (none
    for an empty index): the tables a step reads over index ∪ new."""
    if index is None:
        return new
    return index[name].select(*new.columns).unionByName(new)


def minhash_candidate_pairs(
    signatures: DataFrame, cfg: DedupConfig,
    index: Mapping[str, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Tiers 0+1 of the banding cascade -> (candidate pairs, hot-band stats),
    both lazy. With an `index` (run_cascade), tier 0 probes the coarse
    bands of its `signatures` and tier 1 reads them too."""
    # tier 0: coarse, whole corpus; a candidate must be generated by the
    # coarse tier AND confirmed by the tight tier (the cascade's
    # AND-tightening)
    coarse, hot0 = pairs_from_bands(
        coarse_bands(signatures, cfg),
        None if index is None else coarse_bands(index["signatures"], cfg),
        cfg.hot_band_cap,
    )
    return tight_tier(coarse, _with_index(signatures, index, "signatures"),
                      cfg), hot0


def simhash_candidate_pairs(
    signatures: DataFrame, cfg: DedupConfig,
    index: Mapping[str, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """SimHash bit-sampling pass: 16-bit chunk band join (chunk_hash analog)
    + Hamming <= tau prune (the reference's Stage-2 rerank as a filter).
    With an `index`, the chunks of its `signatures` are the probed side.
    Returns (pairs, hot-band stats) like minhash_candidate_pairs."""
    pairs, hot = shared_key_pairs(
        simhash_chunks(signatures, cfg),
        None if index is None else simhash_chunks(index["signatures"], cfg),
        BAND_KEY, cfg.hot_band_cap, ["simhash"],
    )
    close = hamming64(F.col("simhash_a"), F.col("simhash_b")) \
        <= cfg.simhash_hamming_tau
    return pairs.filter(close).select("id_a", "id_b").distinct(), hot


def overlap_docs_gate(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Docs shorter than min_overlap_chars BYTES (the kernel and verifier
    measure UTF-8 bytes) cannot appear in any reportable pair — a shared
    substring of length L requires both docs >= L — so they are gated out
    before the fingerprint kernel, shrinking the kernel input, the fp
    table and the self-join (narrow filters over the already-materialized
    docs checkpoint). Zero loss FOR THE EXCLUDED DOCS is exact; for the
    surviving corpus the gate shifts per-fp doc counts, so a fingerprint
    straddling the hot-cap boundary can change sides and perturb seed
    selection for surviving pairs — a hot-cap heuristic sensitivity the
    cap always had, not a property of this gate."""
    return docs.filter(
        F.octet_length(F.col("doc_text")) >= cfg.min_overlap_chars
    )


def overlap_pairs(texts: DataFrame, fps: DataFrame, cfg: DedupConfig,
                  index: Mapping[str, DataFrame] | None = None) -> DataFrame:
    """Winnowing fingerprints -> seed candidates -> exact extension; emits
    pairs sharing an exact substring of >= min_overlap_chars. `texts`
    (doc_id, doc_text) are the gated docs (overlap_docs_gate) and `fps`
    their winnow fingerprints; with an `index`, they probe its
    `overlap_fps` and extend over its `texts` too.

    `fps` is PRE-MATERIALIZED (the cascade checkpoints it as its own
    stage): the candidate gate's per-fp doc count and both sides of the
    fp self-join (operators/pairs.py shared_key_pairs) read it within one
    plan; over a lazy fps plan each of them could re-run the winnow
    kernel, the most expensive Arrow pass in the stage."""
    cands = overlap_candidates(
        fps, cfg, index=None if index is None else index["overlap_fps"],
    )
    return verify_overlaps(
        cands, _with_index(texts, index, "texts"), cfg.winnow_kgram_chars,
        cfg.min_overlap_chars,
    ).select("id_a", "id_b")


def run_concurrently(spark: SparkSession, *branches):
    """Run independent driver-side branches at once -> their results, in
    branch order. The first branch runs on the calling thread, every other
    one on its own worker thread wrapped by `inheritable_thread_target`, so
    each sees the caller's Spark local properties (job groups, tracing
    tags) in a private copy. Returns, or re-raises the first failure in
    branch order, only after EVERY branch has finished: no Spark job of a
    failed call outlives it. Only the interleaving of Spark jobs changes,
    never a result: Spark actions are only sequential because driver code
    calls them sequentially."""
    with ThreadPoolExecutor(max_workers=max(len(branches) - 1, 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(b))
                   for b in branches[1:]]
        first = branches[0]()
        return [first] + [f.result() for f in futures]


def local_stage(_name: str, factory) -> DataFrame:
    """A stage materializer without a checkpoint store (run_dedup without
    one, every streaming micro-batch): the name goes unused, and an eager
    localCheckpoint both materializes the stage (multi-consumer stages
    would recompute otherwise) and TRUNCATES its logical plan — without
    truncation each stage embeds every upstream stage's expression tree
    and Catalyst analysis explodes."""
    return factory().localCheckpoint(eager=True)


def merge_evidence(verified: DataFrame, exact: DataFrame,
                   overlap: DataFrame | None) -> DataFrame:
    """dup_pairs(id_a, id_b, jaccard) from the three kinds of evidence:
    Jaccard-verified pairs keep their score, exact-duplicate pairs score
    1.0, and substring-proven overlap pairs score -1.0 (the overlap-
    evidence-only marker), each pair keeping its best score. `verified`
    holds only rows with jaccard >= threshold > 0, so the max keeps an
    overlap pair's verified score whenever it has one."""
    out = verified.select("id_a", "id_b", "jaccard").unionByName(
        exact.select("id_a", "id_b").withColumn("jaccard", F.lit(1.0))
    )
    if overlap is not None:
        out = out.unionByName(
            overlap.select("id_a", "id_b").withColumn("jaccard", F.lit(-1.0))
        )
    return out.groupBy("id_a", "id_b").agg(F.max("jaccard").alias("jaccard"))


@dataclass
class CascadeResult:
    docs: DataFrame           # the batch's docs (build_docs)
    signatures: DataFrame     # the fresh representatives' signatures, in
    #                           DedupResult.signatures' schema
    hot: DataFrame            # (tier, band_id, band_key, n_docs) hot buckets
    texts: DataFrame | None   # (doc_id, doc_text) of the long representatives
    fps: DataFrame | None     # their winnow fingerprints
    dup_pairs: DataFrame      # (id_a, id_b, jaccard)


def run_cascade(turns: DataFrame, cfg: DedupConfig, stage,
                index: Mapping[str, DataFrame] | None = None,
                overlap: bool = True) -> CascadeResult:
    """The one cascade body of both drivers, from turns to dup_pairs: docs
    -> doc_id check -> exact collapse -> signatures -> tier 0 + tier 1 ->
    SimHash -> winnow overlap -> Jaccard verify -> evidence merge.

    `stage(name, factory)` materializes one stage. `index` holds the
    streaming index's tables as they stood before this batch, by name
    (`docs`, `signatures`, `overlap_fps`, `texts`); None is an empty
    index, which is every batch run and a stream's first batch. The id
    check covers the indexed docs too, the exact collapse attaches
    representatives to the indexed fingerprints, every candidate tier
    probes the index through shared_key_pairs (new x new plus new x
    indexed), and the verify reads the indexed signatures; that is the
    body's only branch on it. `overlap=False` skips the winnow stage
    (batch's enable_overlap_stage)."""
    docs = stage("docs", lambda: build_docs(turns, cfg))
    # the id-collision check runs SERIALLY, in front of the chains: as a
    # third concurrent task it was measured 153.6-159.4s vs 149.2-150.2s
    # for check-first + two chains (its countDistinct aggregate competes
    # with the two Arrow kernels for cores exactly when they saturate the
    # machine, delaying both chains for no overlap gain)
    check_doc_id_collisions(
        _with_index(docs.select("conv_id", "doc_id"), index, "docs"))
    # exact-duplicate collapse BEFORE any signature computation or banding:
    # representatives and star edges are NARROW filters over the docs
    # checkpoint, the signature kernel runs over reps only, and all LSH
    # passes see one row per distinct text; members re-attach via star
    # edges in the clustering stage.
    reps, exact_pairs = split_exact_duplicates(
        docs, None if index is None else index["signatures"])

    # each candidate tier is its own materialization, NOT one fused write:
    # fusing them into a single job looked cheaper on paper (one Catalyst
    # analysis, overlapping shuffles) but tripled the stage's wall where it
    # was measured — three tiers' shuffles live simultaneously and the
    # working set blows past the host's fault-handler comfort zone.
    # Separate stages also keep per-tier resume + A5 reduction metrics
    # trivially.
    def _minhash_chain():
        """signatures -> minhash tiers -> simhash pass -> hot buckets (one
        dependency chain)."""
        signatures = stage("signatures", lambda: build_signatures(reps, cfg))
        mh_lazy, mh_hot = minhash_candidate_pairs(signatures, cfg, index)
        mh_pairs = stage("pairs_minhash", lambda: mh_lazy)
        sh_lazy, sh_hot = simhash_candidate_pairs(signatures, cfg, index)
        sh_pairs = stage("pairs_simhash", lambda: sh_lazy)
        # A5/ADVICE: dropped hot buckets are recorded, not silent — their
        # own stage (count + per-bucket sizes). The gate counts are lazy
        # (shared_key_pairs), so this stage re-aggregates the tier-0 band
        # keys and the SimHash chunks of the checkpointed signatures.
        hot = stage("hot_band_drops", lambda: mh_hot.unionByName(sh_hot))
        return signatures, mh_pairs, sh_pairs, hot

    def _overlap_chain():
        """overlap_fps -> pairs_overlap (independent of the signature
        chain: both consume only the representatives)."""
        if not overlap:
            return None, None, None
        texts = overlap_docs_gate(reps, cfg).select("doc_id", "doc_text")
        # the fp table is its own materialization: the candidate gate's
        # per-fp count and both sides of the self-join (pairs.py
        # shared_key_pairs) consume it — lazy, the winnow Arrow kernel
        # could run once per consumer
        fps = stage("overlap_fps", lambda: winnow_fingerprints(
            texts, cfg.winnow_kgram_chars, cfg.winnow_window))
        ov_pairs = stage("pairs_overlap", lambda: overlap_pairs(
            texts, fps, cfg, index))
        return texts, fps, ov_pairs

    # The two chains share no data dependency, so the overlap chain runs
    # on a worker thread while the signature chain runs on this one: each
    # chain's tasks back-fill the idle capacity the other leaves behind —
    # stage-tail stragglers, AQE/commit driver round-trips, the query-stage
    # barriers — at BOTH parallelism levels (at local[1] the single core is
    # idle during every driver round-trip too). Stage outputs, and
    # therefore every downstream result, are bit-identical (A/B in
    # OPTIMIZATION_r06.md).
    (signatures, mh_pairs, sh_pairs, hot), (texts, fps, ov_pairs) = \
        run_concurrently(reps.sparkSession, _minhash_chain, _overlap_chain)

    def _verify():
        # exact pairs are definitionally jaccard 1.0 and skip the verify
        # join; overlap pairs already passed an exact-substring check but
        # still go through Jaccard so dup_pairs carries a uniform score
        # (merge_evidence keeps those below threshold as overlap evidence).
        # Candidates are deduplicated BEFORE the expensive verify (the one
        # barrier worth paying; reference dedups candidates the same way,
        # src/e2lsh.py:292-307).
        cands = mh_pairs.unionByName(sh_pairs)
        if ov_pairs is not None:
            cands = cands.unionByName(ov_pairs)
        verified = verify_pairs_exact_jaccard(
            cands.distinct(),
            _with_index(signatures, index, "signatures"),
            threshold=cfg.jaccard_threshold,
        )
        return merge_evidence(verified, exact_pairs, ov_pairs)

    return CascadeResult(docs=docs, signatures=signatures, hot=hot,
                         texts=texts, fps=fps,
                         dup_pairs=stage("dup_pairs", _verify))


def run_dedup(
    spark: SparkSession,
    turns: DataFrame,
    cfg: DedupConfig | None = None,
    store: StageStore | None = None,
    enable_overlap_stage: bool = True,
) -> DedupResult:
    """Batch dedup: the cascade body against an empty index -> clusters."""
    cfg = cfg or DedupConfig()
    stage = local_stage if store is None else store.materialize
    out = run_cascade(turns, cfg, stage, overlap=enable_overlap_stage)

    # overlap-evidence-only pairs (jaccard = -1) are reported but never
    # merge clusters: shared boilerplate turns would otherwise chain
    # unrelated conversations into one giant component
    cluster_edges = out.dup_pairs.filter(F.col("jaccard") >= 0)
    clusters = stage(
        "clusters",
        lambda: clusters_with_singletons(
            connected_components(
                cluster_edges.select("id_a", "id_b"), cfg.cc_max_iterations
            ),
            out.docs,
        ),
    )
    return DedupResult(docs=out.docs, signatures=out.signatures,
                       dup_pairs=out.dup_pairs, clusters=clusters)
