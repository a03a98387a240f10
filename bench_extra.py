"""Extra measurement harness for optimization rounds (guide §1).

NOT part of the driver contract — bench.py is frozen for measurement; this
file exists so optimization A/Bs can be recorded without touching it.

Per-stage pipeline walls: perfbench/run.py --trace 1.

Modes:
  --mode queries [--names a,b,c] [--repeats K] [--noop]
      per-query timing at local[$SPARK_GRAFT_CPUS] over $SPARK_GRAFT_SF_DIR,
      K interleaved repeats, reporting all samples + min. --noop times
      df.write.format("noop") instead of .count() (guide §1.4).
  --mode plans [--names a,b,c] [--out plans/r06 --suffix _before]
      dump .explain("formatted") of each query to <out>/<name><suffix>.txt
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _mk_spark(cores: int, shuffle_partitions: int):
    from lsh_cascade_poc_spark.session import get_spark

    return get_spark(
        app_name=f"bench_extra_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_partitions,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def mode_queries(names: list[str], repeats: int, noop: bool) -> None:
    import __spark_entry__ as entrymod

    spark = _mk_spark(CPUS, max(8, CPUS))
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    qmap = entrymod.queries()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _rep in range(repeats):
        for name in names:
            fn = qmap[name]
            spark.sparkContext.setJobDescription(f"bx:{name}")
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
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
        df = qmap[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}{suffix}.txt", flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", required=True,
                    choices=["queries", "plans"])
    ap.add_argument("--names", default="")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--out", default="plans/r06")
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    import bench as benchmod

    names = ([n for n in args.names.split(",") if n]
             if args.names else list(benchmod.BENCH_QUERIES))
    if args.mode == "queries":
        mode_queries(names, args.repeats, args.noop)
    else:
        mode_plans(names, args.out, args.suffix)


if __name__ == "__main__":
    main()
