"""Benchmark of the dedup cascade, run from outside through its public
entry points.

    python3 perfbench/run.py --workload batch_flood --seed 1 --seconds 10 --trace 0

One closed-loop client: the next job starts when the previous one ends. A
run makes (or reuses) its seeded input, then sets the Spark session up
several times (start and input registration). It then times jobs until
`--seconds` have passed (at least one): the first job runs in a fresh JVM,
as each spark-submit of job.py does. The first job's
outputs get every check; every job's dup_pairs must match the checksum of
the first job of this seed. With `--trace 1` two more jobs follow in the
now warm JVM: an untraced one, then a traced one (stage spans plus the
Spark event log), and the tracing overhead is the second against the
first; then the Spark-free kernel microbenches run.

The last line of stdout is one JSON object {"correct", "attempted",
"failed", "metrics"}; the metric names are the ones BENCHMARK.json declares
for the mode (`end_to_end` untraced, `per_layer` traced). Progress goes to
stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Session settings, the same on every commit measured. Cores come from
# nproc; the driver heap fits a 4-core / 15 GB host next to its neighbours.
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "3g"
SHUFFLE_PARTITIONS = 2 * CORES
SETUPS = 5

WORKLOADS = {
    "batch_flood": {"kind": "batch", "n_base": 800, "flood": True,
                    "batches": 0},
    # compaction fires inside the last batch
    "stream_ingest": {"kind": "stream", "n_base": 600, "flood": False,
                      "batches": 2, "compact_every": 2},
}

STAGES = ("docs", "signatures", "pairs_minhash", "pairs_simhash",
          "overlap_fps", "pairs_overlap", "dup_pairs", "clusters")
TRACED = "traced"


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def declared_metrics(bench: dict, trace: bool) -> dict[str, str]:
    """{metric name: unit} that the mode must emit."""
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in bench[key]}


def emit_metrics(values: dict[str, float], declared: dict[str, str]) -> dict:
    """Metrics in the output shape. Every value must be declared; a declared
    metric the workload does not exercise reads 0."""
    unknown = sorted(set(values) - set(declared))
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {unknown}")
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()}


def configure_env(run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: everything they
    write stays under `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the program's environment switches stay at their defaults
    for var in ("DEDUP_STAGE_TIMING", "DEDUP_SEQUENTIAL_STAGES",
                "SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    sys.path[:0] = [REPO, HERE]


def start_session(run_dir: str, trace: bool):
    from lsh_cascade_poc_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


class Run:
    """One benchmark run: its session, inputs, counters and findings."""

    def __init__(self, args, spec: dict, run_dir: str):
        self.args = args
        self.spec = spec
        self.run_dir = run_dir
        self.spark = None
        self.corpus_dir = ""
        self.attempted = 0
        self.failed = 0
        self.checksum = None
        self.n_jobs = 0

    # -- set-up ------------------------------------------------------------

    def setup(self) -> float:
        """Make the input (untimed), then set the session up SETUPS times
        (start + input registration) and return the median."""
        from corpus import ensure_corpus

        t0 = time.perf_counter()
        self.corpus_dir = ensure_corpus(
            self.args.workload, self.args.seed, self.spec["n_base"],
            self.spec["flood"], self.spec["batches"], SHUFFLE_PARTITIONS)
        log(f"input ready: {time.perf_counter() - t0:.2f}s")
        times = []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session(self.run_dir, self.args.trace)
            self.register()
            times.append(time.perf_counter() - t0)
            log(f"set-up {i + 1}: {times[-1]:.2f}s")
        return statistics.median(times)

    def register(self) -> None:
        read = self.spark.read.parquet
        if self.spec["kind"] == "batch":
            self.inputs = read(os.path.join(self.corpus_dir, "turns"))
            self.n_turns = self.inputs.count()
        else:
            self.inputs = [read(os.path.join(self.corpus_dir, f"batch_{k}"))
                           for k in range(self.spec["batches"])]
            self.n_turns = sum(b.count() for b in self.inputs)

    # -- one job -----------------------------------------------------------

    def job(self, traced: bool = False) -> dict:
        """One job in a fresh directory; returns its wall and handles. A
        traced job tags its Spark jobs for the event-log parse."""
        from tracing import RUN_PROP

        self.n_jobs += 1
        job_dir = os.path.join(self.run_dir, f"job{self.n_jobs}")
        sc = self.spark.sparkContext
        if traced:
            sc.setLocalProperty(RUN_PROP, TRACED)
        try:
            if self.spec["kind"] == "batch":
                return self._batch_job(self.inputs, job_dir, traced)
            return self._stream_job(self.inputs, job_dir)
        finally:
            if traced:
                sc.setLocalProperty(RUN_PROP, None)

    def _batch_job(self, turns, job_dir: str, traced: bool) -> dict:
        """run_dedup with a StageStore, outputs written as job.py does."""
        from tracing import TracedStageStore

        from lsh_cascade_poc_spark.checkpoint import StageStore
        from lsh_cascade_poc_spark.config import DedupConfig
        from lsh_cascade_poc_spark.pipeline import run_dedup

        cfg = DedupConfig()
        store_cls = TracedStageStore if traced else StageStore
        store = store_cls(spark=self.spark,
                          work_dir=os.path.join(job_dir, "work"),
                          config_hash=cfg.config_hash())
        out = os.path.join(job_dir, "out")
        t0 = time.perf_counter()
        res = run_dedup(self.spark, turns, cfg=cfg, store=store)
        res.clusters.write.mode("overwrite").parquet(out + "/clusters")
        res.dup_pairs.write.mode("overwrite").parquet(out + "/dup_pairs")
        t1 = time.perf_counter()
        return {"wall": t1 - t0, "start": t0, "end": t1, "res": res,
                "store": store, "cfg": cfg, "dir": job_dir, "out": out,
                "dup_pairs": res.dup_pairs}

    def _stream_job(self, batches, job_dir: str) -> dict:
        """Every micro-batch through IncrementalDedup.process_batch, in
        order, into a fresh index."""
        from tracing import Span

        from lsh_cascade_poc_spark.config import DedupConfig
        from lsh_cascade_poc_spark.streaming import IncrementalDedup

        cfg = DedupConfig()
        inc = IncrementalDedup(self.spark, os.path.join(job_dir, "index"),
                               cfg=cfg,
                               compact_every=self.spec["compact_every"])
        spans = []
        t0 = time.perf_counter()
        for k, batch in enumerate(batches):
            b0 = time.perf_counter()
            inc.process_batch(batch, k)
            spans.append(Span(f"batch_{k}", threading.get_ident(), b0,
                              time.perf_counter(), "run"))
        t1 = time.perf_counter()
        return {"wall": t1 - t0, "start": t0, "end": t1, "inc": inc,
                "cfg": cfg, "dir": job_dir, "spans": spans,
                "dup_pairs": inc.dup_pairs()}

    # -- checks ------------------------------------------------------------

    def compare_checksum(self, job: dict) -> None:
        """dup_pairs must read identical in every job of this seed, in this
        run and in every other run of the same program on the same input."""
        from checks import dup_pairs_checksum
        from corpus import sources_hash

        chk = dup_pairs_checksum(job["dup_pairs"])
        if self.checksum is None:
            program = sources_hash(os.path.join(REPO, "lsh_cascade_poc_spark"))
            path = os.path.join(self.corpus_dir, f"checksum-{program}.json")
            if os.path.exists(path):
                with open(path, encoding="utf-8") as f:
                    self.checksum = tuple(json.load(f))
            else:
                with open(path, "w", encoding="utf-8") as f:
                    json.dump(chk, f)
                self.checksum = chk
        if chk != self.checksum:
            raise AssertionError(
                f"dup_pairs checksum {chk} differs from {self.checksum}")

    def check_outputs(self, job: dict) -> float:
        """Every output check of one job; returns its planted-family
        contract recall. Raises on a failed check."""
        from checks import MIN_RECALL

        if self.spec["kind"] == "batch":
            recall = self._check_batch(job)
        else:
            recall = self._check_stream(job)
        if recall is None or recall < MIN_RECALL:
            raise AssertionError(f"contract recall {recall} below {MIN_RECALL}")
        return recall

    def _check_batch(self, job: dict) -> float:
        import pandas as pd

        from checks import cluster_problems

        from lsh_cascade_poc_spark.recall import recall_report

        res = job["res"]
        clusters = pd.read_parquet(job["out"] + "/clusters")
        dup = pd.read_parquet(job["out"] + "/dup_pairs")
        problems = cluster_problems(clusters, dup, res.docs.count())
        if self.spec["flood"]:
            # the flood must have taken the skew path
            if stage_rows(job["store"]).get("hot_band_drops", 0) == 0:
                problems.append("the flood dropped no hot band bucket")
        if problems:
            raise AssertionError("; ".join(problems))
        return recall_report(res, job["cfg"])["contract_recall"]

    def _check_stream(self, job: dict) -> float:
        from types import SimpleNamespace

        from checks import components, planted_exact_pairs, unevidenced

        from lsh_cascade_poc_spark.recall import recall_report

        inc = job["inc"]
        docs = inc.docs()
        docs_pd = docs.select("conv_id", "doc_id").toPandas()
        dup = job["dup_pairs"].toPandas()
        missing = unevidenced(planted_exact_pairs(docs_pd), dup)
        if missing:
            raise AssertionError(
                f"{missing} planted exact/whitespace pairs not evidenced")
        # clusters = components of the verified edges, as the batch path
        # clusters them, so recall reads the same way on both paths
        clusters = components(dup[dup["jaccard"] >= 0], docs_pd["doc_id"])
        res = SimpleNamespace(
            docs=docs, signatures=inc.signatures(), dup_pairs=job["dup_pairs"],
            clusters=self.spark.createDataFrame(
                clusters, "doc_id long, cluster_id long"))
        return recall_report(res, job["cfg"])["contract_recall"]

    def attempt(self, traced: bool = False, full_check: bool = False):
        """One job plus its checks; a raise or a failed check counts the
        job as failed. Returns (job, recall or None), or None if it failed."""
        self.attempted += 1
        try:
            job = self.job(traced)
            log(f"job {self.n_jobs}{' (traced)' if traced else ''}: "
                f"{job['wall']:.2f}s")
            c0 = time.perf_counter()
            self.compare_checksum(job)
            recall = self.check_outputs(job) if full_check else None
            log(f"checks: {time.perf_counter() - c0:.2f}s")
            return job, recall
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None


def stage_rows(store) -> dict[str, int]:
    """Rows per committed stage, from the store's metric rows."""
    import pyarrow.parquet as pq

    mdir = os.path.join(store.work_dir, store.config_hash, "_metrics")
    if not os.path.isdir(mdir):
        return {}
    t = pq.read_table(mdir, columns=["stage", "rows_out"]).to_pydict()
    return dict(zip(t["stage"], t["rows_out"]))


def batch_layers(job: dict, untraced_wall: float) -> dict:
    """Span and stage-table part of a traced batch job's per-layer metrics
    (read while the stage tables exist)."""
    import pyarrow.parquet as pq

    from tracing import Span, pipeline_layer

    store = job["store"]
    root = os.path.join(store.work_dir, store.config_hash)
    rows = stage_rows(store)
    spans = {s.name: s for s in store.spans}
    out: dict[str, float] = {}
    for stage in STAGES:
        out[f"stage.{stage}.s"] = spans[stage].duration if stage in spans \
            else 0.0
        out[f"stage.{stage}.rows"] = rows.get(stage, 0)
        out[f"stage.{stage}.bytes"] = store.stage_size_bytes(stage)
    out["stage.hot_band_drops.rows"] = rows.get("hot_band_drops", 0)
    hot = pq.read_table(os.path.join(root, "hot_band_drops"),
                        columns=["n_docs"])
    out["bands.hot_docs"] = sum(hot.column("n_docs").to_pylist())

    # every non-root doc of an exact group is one exact candidate edge
    exact_edges = rows.get("docs", 0) - rows.get("signatures", 0)
    candidates = exact_edges + sum(
        rows.get(s, 0) for s in ("pairs_minhash", "pairs_simhash",
                                 "pairs_overlap"))
    jac = pq.read_table(os.path.join(root, "dup_pairs"),
                        columns=["jaccard"]).column("jaccard").to_pylist()
    out["funnel.candidates"] = candidates
    out["funnel.verified"] = len(jac)
    out["funnel.verify_yield"] = len(jac) / candidates if candidates else 0.0
    out["funnel.cluster_edges"] = sum(j >= 0 for j in jac)

    run = Span("run", threading.get_ident(), job["start"], job["end"], "")
    for name, value in pipeline_layer(run, list(store.spans)).items():
        out[f"pipeline.{name}"] = value
    out["pipeline.trace_overhead_frac"] = job["wall"] / untraced_wall - 1
    return out


def counter_layers(counters: dict) -> dict:
    """Event-log part of a traced batch job's per-layer metrics."""
    out: dict[str, float] = {}
    for stage in STAGES:
        c = counters.get(stage)
        if c is None:
            continue
        out.update({
            f"stage.{stage}.tasks": c.tasks,
            f"stage.{stage}.cpu_s": c.cpu_s,
            f"stage.{stage}.shuffle_mb": c.shuffle_bytes / 1e6,
            f"stage.{stage}.spill_mb": c.spill_bytes / 1e6,
            f"stage.{stage}.skew": c.skew,
        })
    if "clusters" in counters:
        out["stage.clusters.jobs"] = counters["clusters"].jobs
    return out


def stream_layers(job: dict, counters: dict, untraced_wall: float,
                  compact_every: int) -> dict:
    """Per-layer metrics of a traced stream job."""
    from corpus import dir_bytes

    walls = [s.duration for s in job["spans"]]
    half = len(walls) // 2
    compacting = [w for k, w in enumerate(walls)
                  if (k + 1) % compact_every == 0]
    index = os.path.join(job["dir"], "index")
    n_files = sum(len(files) for _r, _d, files in os.walk(index))
    return {
        "stream.batch_tail_s": max(walls),
        "stream.compact_batch_s": statistics.mean(compacting),
        # later batches probe a larger index
        "stream.growth": statistics.mean(walls[half:])
        / statistics.mean(walls[:half]),
        "stream.index_bytes": dir_bytes(index),
        "stream.index_files": n_files,
        "stream.cpu_s": sum(c.cpu_s for c in counters.values()),
        "stream.shuffle_mb": sum(c.shuffle_bytes
                                 for c in counters.values()) / 1e6,
        "pipeline.trace_overhead_frac": job["wall"] / untraced_wall - 1,
    }


def end_to_end(setup_s: float, walls: list[float], latencies: list[float],
               recall: float, n_turns: int,
               store_ratios: list[float]) -> dict[str, float]:
    """End-to-end metrics of a run from its measurements. A batch job is
    one batch, so its batch latency is its wall."""
    job_s = statistics.median(walls)
    return {
        "setup_s": setup_s,
        "job_s": job_s,
        "turns_per_s": n_turns / job_s,
        "batch_latency_s": statistics.median(latencies or walls),
        "dup_pair_recall": recall,
        "store_bytes_per_input_byte": statistics.median(store_ratios),
    }


def run_workload(args, bench: dict, run_dir: str) -> dict:
    from corpus import dir_bytes
    from tracing import RssSampler, read_event_logs

    spec = WORKLOADS[args.workload]
    run = Run(args, spec, run_dir)
    layers: dict[str, float] = {}
    try:
        setup_s = run.setup()
        input_bytes = sum(
            dir_bytes(os.path.join(run.corpus_dir, d))
            for d in os.listdir(run.corpus_dir)
            if os.path.isdir(os.path.join(run.corpus_dir, d)))

        walls, latencies, store_ratios = [], [], []
        recall = None
        with RssSampler() as rss:
            t_start = time.perf_counter()
            while (not walls and run.attempted < 5) or \
                    time.perf_counter() - t_start < args.seconds:
                done = run.attempt(full_check=not walls)
                if done is None:
                    continue
                job, job_recall = done
                if recall is None:
                    recall = job_recall
                walls.append(job["wall"])
                if spec["kind"] == "stream":
                    latencies.extend(s.duration for s in job["spans"])
                store_ratios.append(dir_bytes(job["dir"]) / input_bytes)
                shutil.rmtree(job["dir"], ignore_errors=True)
        if not walls:
            raise RuntimeError("no timed job completed")

        if args.trace:
            base = run.attempt()
            traced = run.attempt(traced=True)
            if base is None or traced is None:
                raise RuntimeError("a job of the traced pair failed")
            shutil.rmtree(base[0]["dir"], ignore_errors=True)
            job = traced[0]
            untraced_s = base[0]["wall"]
            if spec["kind"] == "batch":
                layers = batch_layers(job, untraced_s)
            # the event log is complete once the session stops
            run.spark.stop()
            run.spark = None
            counters = read_event_logs(os.path.join(run_dir, "events"),
                                       TRACED)
            if spec["kind"] == "batch":
                layers.update(counter_layers(counters))
            else:
                layers = stream_layers(job, counters, untraced_s,
                                       spec["compact_every"])
            from kernels import kernel_rates

            layers.update(kernel_rates(args.seed))
    finally:
        if run.spark is not None:
            run.spark.stop()

    if args.trace:
        layers["process.peak_rss_mb"] = rss.peak / 1e6
        metrics = emit_metrics(layers, declared_metrics(bench, True))
    else:
        metrics = emit_metrics(
            end_to_end(setup_s, walls, latencies, recall, run.n_turns,
                       store_ratios),
            declared_metrics(bench, False))
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    run_dir = os.path.join(HERE, ".cache", f"run-{os.getpid()}")
    procs.become_subreaper()
    configure_env(run_dir)
    try:
        result = run_workload(args, bench, run_dir)
    finally:
        t0 = time.perf_counter()
        procs.stop_jvm()
        procs.stop_descendants()
        log(f"processes stopped: {time.perf_counter() - t0:.2f}s")
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
