"""spark-submit entry point for the dedup cascade.

North-rule deployment shape: the package ships as a zip via --py-files and
this module is the driver program —

    zip -r lsh_cascade_poc_spark.zip lsh_cascade_poc_spark/
    spark-submit --py-files lsh_cascade_poc_spark.zip \
        --master yarn --deploy-mode cluster \
        lsh_cascade_poc_spark/job.py \
        --input  local.db.transcripts \
        --work-dir  s3://bucket/dedup-work \
        --output s3://bucket/dedup-out

`--input` is a parquet path (it contains "/" or ends in ".parquet") or
otherwise a table name read with `spark.read.table` — e.g. an Iceberg table
(the north rule's table form) when spark-submit configures the catalog and
puts org.apache.iceberg:iceberg-spark-runtime on the classpath:

    --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.local.type=hadoop
    --conf spark.sql.catalog.local.warehouse=s3://bucket/iceberg

Every stage checkpoints through StageStore (Parquet plus a `_COMMITTED`
marker, never Iceberg) keyed by the config hash, so re-submitting the SAME
job resumes from the last committed stage; metrics and per-partition
lineage land next to the data.
No master is forced here — spark-submit owns cluster sizing, which is how
the N vs 4N executor scaling comparison is driven externally.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="MinHash/SimHash/overlap dedup cascade")
    p.add_argument("--input", required=True,
                   help="Iceberg table name or parquet path of transcript turns "
                        "(conv_id, turn_idx, role, text, tool, ts)")
    p.add_argument("--work-dir", required=True,
                   help="checkpoint/metrics directory (resume key = config hash)")
    p.add_argument("--output", required=True,
                   help="output directory: clusters/ and dup_pairs/ parquet")
    p.add_argument("--jaccard-threshold", type=float, default=None)
    p.add_argument("--shingle-k", type=int, default=None)
    p.add_argument("--n-perm", type=int, default=None,
                   help="MinHash signature length; the default band tiers "
                        "read 126 lanes")
    p.add_argument("--hot-band-cap", type=int, default=None)
    p.add_argument("--no-overlap", action="store_true",
                   help="skip the winnowing long-overlap stage")
    p.add_argument("--shuffle-partitions", type=int, default=None,
                   help="override spark.sql.shuffle.partitions (size to "
                        "~128MB/partition of band table at your scale)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from .config import DedupConfig
    from .checkpoint import StageStore
    from .pipeline import run_dedup
    from .session import get_spark

    overrides = {}
    if args.jaccard_threshold is not None:
        overrides["jaccard_threshold"] = args.jaccard_threshold
    if args.shingle_k is not None:
        overrides["shingle_k"] = args.shingle_k
    if args.n_perm is not None:
        overrides["n_perm"] = args.n_perm
    if args.hot_band_cap is not None:
        overrides["hot_band_cap"] = args.hot_band_cap
    cfg = DedupConfig(**overrides)

    spark = get_spark(app_name="dedup_cascade",
                      shuffle_partitions=args.shuffle_partitions)
    try:
        if "/" in args.input or args.input.endswith(".parquet"):
            turns = spark.read.parquet(args.input)
        else:
            turns = spark.read.table(args.input)

        store = StageStore(spark=spark, work_dir=args.work_dir,
                           config_hash=cfg.config_hash())
        res = run_dedup(spark, turns, cfg=cfg, store=store,
                        enable_overlap_stage=not args.no_overlap)

        res.clusters.write.mode("overwrite").parquet(args.output + "/clusters")
        res.dup_pairs.write.mode("overwrite").parquet(args.output + "/dup_pairs")

        summary = {
            r.stage: {"rows": r.rows_out, "wall_ms": round(r.wall_ms, 1)}
            for r in store.metrics().collect()
        }
        print(json.dumps({"config_hash": cfg.config_hash(), "stages": summary}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
