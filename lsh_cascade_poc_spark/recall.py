"""Dup-pair recall against the synthetic corpus's PLANTED duplicate families.

North-rule clause 1 is "dup-pair recall >= 0.99". The deterministic corpus
generator (datagen/transcripts_spark.py / transcripts.py) plants duplicate
variants under a naming convention — ``conv<idx>_dup<v>_<kind>`` for kind in
exact / whitespace / edit / substring — so the true-duplicate pair set is
known exactly at ANY corpus scale with no quadratic scan: ground truth is
O(corpus) planted (base, variant) pairs, recovered from conv_id alone.

Ground truth is split by the pipeline's CONTRACT:

* **contract pairs** — true Jaccard(shingle sets) >= cfg.jaccard_threshold.
  The pipeline promises to cluster these (recall target >= 0.99). Planted
  edit variants whose true Jaccard lands BELOW the threshold are true
  rejections by the decision rule (the reference applies the identical
  threshold), not recall misses: they are excluded from the denominator and
  reported separately as ``evidenced``.
* **substring pairs** — share one long turn, not most of the text: their
  true Jaccard is normally far below the threshold, so they are detectable
  only as overlap EVIDENCE (dup_pairs rows with jaccard = -1) and only when
  the shared turn is >= cfg.min_overlap_chars bytes. Reported as
  ``substring_evidenced_rate``. The contract split is by TRUE JACCARD, not
  by kind: the rare substring plant whose kept turn dominates the text
  (true_j >= threshold) counts in the contract denominator like any other.

Recall criteria per planted pair:

* ``clustered`` — base and variant share a cluster_id (the north rule's
  "cluster assignments" form; this is what ``contract_recall`` counts).
* ``evidenced`` — the pair's exact-group roots appear in dup_pairs (any
  source, overlap evidence included) or the pair shares a cluster.

True Jaccard uses each doc's exact-group ROOT's shingle array (group members
are byte-identical texts, so root shingles are member shingles). All joins
are key joins on planted ids — O(planted) rows, safe at full bench scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig
from .functions.shingles import jaccard_on_shingle_arrays


def planted_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, root_a, root_b, kind) for planted (base, variant) doc
    pairs — canonical id order, only pairs where BOTH docs survived the
    assembly filters (min_doc_chars)."""
    variants = docs.filter(F.col("conv_id").contains("_dup")).select(
        F.col("doc_id").alias("var_id"),
        F.col("_root").alias("var_root"),
        F.regexp_extract("conv_id", r"^(conv\d+)_dup", 1).alias("base_conv"),
        F.regexp_extract("conv_id", r"_dup\d+_([a-z]+)$", 1).alias("kind"),
    )
    bases = docs.select(
        F.col("conv_id").alias("base_conv"),
        F.col("doc_id").alias("base_id"),
        F.col("_root").alias("base_root"),
    )
    return variants.join(bases, "base_conv").select(
        F.least("base_id", "var_id").alias("id_a"),
        F.greatest("base_id", "var_id").alias("id_b"),
        F.least("base_root", "var_root").alias("root_a"),
        F.greatest("base_root", "var_root").alias("root_b"),
        "kind",
    )


def recall_report(res, cfg: DedupConfig) -> dict:
    """res: DedupResult (docs/signatures/dup_pairs/clusters materialized) on
    a corpus produced by the planted-family generator -> recall dict:
    {contract_recall, contract_pairs, substring_evidenced_rate,
    per_kind: {kind: {planted, contract, contract_hit, clustered,
    evidenced}}}."""
    planted = planted_pairs(res.docs)
    sh = res.signatures.select("doc_id", "shingles")
    with_j = (
        planted
        .join(sh.withColumnsRenamed({"doc_id": "root_a", "shingles": "sh_a"}),
              "root_a")
        .join(sh.withColumnsRenamed({"doc_id": "root_b", "shingles": "sh_b"}),
              "root_b")
        .withColumn(
            "true_j",
            F.when(F.col("root_a") == F.col("root_b"), F.lit(1.0)).otherwise(
                jaccard_on_shingle_arrays(F.col("sh_a"), F.col("sh_b"))
            ),
        )
        .select("id_a", "id_b", "root_a", "root_b", "kind", "true_j")
    )

    cl = res.clusters
    with_found = (
        with_j
        .join(cl.withColumnsRenamed({"doc_id": "id_a", "cluster_id": "c_a"}),
              "id_a")
        .join(cl.withColumnsRenamed({"doc_id": "id_b", "cluster_id": "c_b"}),
              "id_b")
        .withColumn("clustered", F.col("c_a") == F.col("c_b"))
        .join(
            res.dup_pairs.select(
                F.least("id_a", "id_b").alias("root_a"),
                F.greatest("id_a", "id_b").alias("root_b"),
                F.lit(True).alias("in_pairs"),
            ),
            ["root_a", "root_b"],
            "left",
        )
        .withColumn("evidenced",
                    F.col("clustered") | F.coalesce("in_pairs", F.lit(False)))
    )

    agg = (
        with_found.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("planted"),
            F.sum((F.col("true_j") >= cfg.jaccard_threshold).cast("long"))
            .alias("contract"),
            F.sum(((F.col("true_j") >= cfg.jaccard_threshold)
                   & F.col("clustered")).cast("long")).alias("contract_hit"),
            F.sum(F.col("clustered").cast("long")).alias("clustered"),
            F.sum(F.col("evidenced").cast("long")).alias("evidenced"),
        )
        .collect()
    )
    out: dict = {"per_kind": {}}
    tot_c = tot_hit = 0
    for r in agg:
        out["per_kind"][r.kind] = {
            "planted": r.planted,
            "contract": r.contract,
            "contract_hit": r.contract_hit,
            "clustered": r.clustered,
            "evidenced": r.evidenced,
        }
        # EVERY kind contributes its in-contract pairs (true_j >= threshold)
        # to the headline — including substring plants: usually their kept
        # turn is a small fraction of the text (true_j far below threshold,
        # contract = 0, overlap-evidence only), but a plant whose kept turn
        # dominates the conversation is a contract pair like any other and
        # must not be excused from the denominator by its kind label
        tot_c += r.contract
        tot_hit += r.contract_hit
    out["contract_pairs"] = tot_c
    out["contract_recall"] = round(tot_hit / tot_c, 6) if tot_c else None
    sub = out["per_kind"].get("substring")
    if sub:
        out["substring_evidenced_rate"] = round(
            sub["evidenced"] / sub["planted"], 6
        )
    return out
