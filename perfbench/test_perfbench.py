"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import corpus  # noqa: E402
import procs  # noqa: E402
import run  # noqa: E402
from corpus import FLOOD_SIZES, flood_turns  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    TracedStageStore,
    critical_path,
    parse_event_log,
    pipeline_layer,
    self_time,
    union_length,
)


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as f:
        return json.load(f)


def _span(name, start, end):
    return Span(name, 1, start, end, "run")


# -- span math -------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_covered_part_once():
    run_span = _span("run", 0, 10)
    children = [_span("a", 1, 4), _span("b", 3, 5), _span("c", 9, 12)]
    # covered: [1, 5] and [9, 10] -> 5 of 10
    assert self_time(run_span, children) == pytest.approx(5)


def test_critical_path_takes_the_longer_chain():
    stage_s = {"docs": 1, "signatures": 2, "pairs_minhash": 3,
               "pairs_simhash": 1, "hot_band_drops": 0.5,
               "overlap_fps": 2, "pairs_overlap": 7,
               "dup_pairs": 4, "clusters": 1}
    # overlap chain 9 > signature chain 6.5
    assert critical_path(stage_s) == pytest.approx(1 + 9 + 4 + 1)


def test_pipeline_layer_concurrency_and_outside_time():
    run_span = _span("run", 0, 10)
    spans = [_span("docs", 0, 2), _span("signatures", 2, 6),
             _span("overlap_fps", 2, 4), _span("dup_pairs", 7, 9)]
    out = pipeline_layer(run_span, spans)
    # stages cover [0, 6] and [7, 9]
    assert out["outside_stages_s"] == pytest.approx(2)
    assert out["concurrency"] == pytest.approx(10 / 8)
    assert out["critical_path_s"] == pytest.approx(2 + 4 + 2)


# -- event log -------------------------------------------------------------

def _job(job_id, stages, stage_tag, run_tag="traced"):
    props = {"perfbench.run": run_tag}
    if stage_tag:
        props["perfbench.stage"] = stage_tag
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id,
                       "Stage IDs": stages, "Properties": props})


def _task(stage_id, run_ms, cpu_ns=0, shuffle=0, spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}})


def test_parse_event_log_attributes_tasks_to_stage_tags():
    lines = [
        json.dumps({"Event": "SparkListenerLogStart"}),
        _job(0, [0, 1], "docs"),
        _task(0, 100, cpu_ns=2e9, shuffle=1000),
        _task(0, 300, shuffle=500),
        _task(1, 50, spill=7),
        _job(1, [2], None),                       # outside any stage
        _task(2, 10),
        _job(2, [3], "docs", run_tag="other"),    # another run: ignored
        _task(3, 999),
        "",
    ]
    out = parse_event_log(lines, "traced")
    docs = out["docs"]
    assert (docs.jobs, docs.tasks) == (1, 3)
    assert docs.cpu_s == pytest.approx(2.0)
    assert docs.shuffle_bytes == 1500
    assert docs.spill_bytes == 7
    # stage 0: max 300 / median 200
    assert docs.skew == pytest.approx(1.5)
    assert out[""].tasks == 1
    assert set(out) == {"docs", ""}


# -- flood generator -------------------------------------------------------

@pytest.fixture(scope="module")
def flood_1():
    return flood_turns(1)


def test_flood_is_deterministic_per_seed(flood_1):
    pd.testing.assert_frame_equal(flood_1, flood_turns(1))
    assert not flood_1["text"].equals(flood_turns(2)["text"])


def test_flood_shape(flood_1):
    convs = flood_1.groupby("conv_id")["text"].agg(tuple)
    # flood conversations never look like planted duplicate variants
    assert not convs.index.str.contains("_dup").any()
    fam0 = convs[convs.index.str.match(r"^flood0_\d+$")]
    assert len(fam0) == FLOOD_SIZES[0]
    # members share their block but are distinct documents
    assert fam0.map(lambda t: t[0]).nunique() == 1
    assert fam0.nunique() == FLOOD_SIZES[0]
    # the block outlasts the overlap threshold and fits one turn
    assert 200 <= len(fam0.iloc[0][0].encode()) <= 2048


def test_stream_corpus_carves_every_conversation_into_one_batch(
        tmp_path, monkeypatch):
    monkeypatch.setattr(corpus, "CACHE", str(tmp_path))
    out = corpus.ensure_corpus("stream_ingest", 3, 40, flood=False,
                               n_batches=2, n_files=3)
    batches = [pq.read_table(os.path.join(out, f"batch_{k}"))
               for k in range(2)]
    assert all(t.schema.equals(corpus.TURNS_ARROW) for t in batches)
    got = pd.concat([t.to_pandas() for t in batches])
    want = corpus.base_turns(3, 40)
    assert len(got) == len(want)
    assert set(got["conv_id"]) == set(want["conv_id"])
    # a conversation never straddles two batches
    assert not set(batches[0].column("conv_id").to_pylist()) & set(
        batches[1].column("conv_id").to_pylist())
    assert len(os.listdir(os.path.join(out, "batch_0"))) == 3


# -- processes -------------------------------------------------------------

def test_stop_descendants_reaps_children_and_orphans():
    procs.become_subreaper()
    # a child that exits at once and leaves its own child orphaned
    subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
    subprocess.Popen(["sleep", "60"])
    assert len(procs.children()) == 2
    procs.stop_descendants(timeout=5)
    assert procs.children() == []


# -- metric names ----------------------------------------------------------

def test_end_to_end_names_are_declared(bench):
    values = run.end_to_end(1.0, [3.0, 2.0], [], 0.99, 100, [2.0])
    assert set(values) == set(run.declared_metrics(bench, False))
    assert values["batch_latency_s"] == values["job_s"] == 2.5


def test_emit_metrics_rejects_undeclared_names(bench):
    with pytest.raises(KeyError):
        run.emit_metrics({"nope": 1.0}, run.declared_metrics(bench, True))


def _write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def test_traced_batch_metric_names_are_declared(bench, tmp_path):
    store = TracedStageStore(spark=None, work_dir=str(tmp_path),
                             config_hash="h")
    root = tmp_path / "h"
    for stage in run.STAGES:
        (root / stage).mkdir(parents=True)
    _write(str(root / "_metrics"), pa.table({
        "stage": list(run.STAGES) + ["hot_band_drops"],
        "rows_out": list(range(10, 19))}))
    _write(str(root / "hot_band_drops"), pa.table({"n_docs": [1200, 1300]}))
    _write(str(root / "dup_pairs"), pa.table({"jaccard": [1.0, 0.9, -1.0]}))
    store.spans.extend(_span(s, i, i + 1) for i, s in enumerate(run.STAGES))
    job = {"store": store, "start": 0.0, "end": 10.0, "wall": 10.0}
    values = run.batch_layers(job, untraced_wall=8.0)
    counters = parse_event_log(
        [_job(0, [0], "clusters"), _task(0, 5)], "traced")
    values.update(run.counter_layers(counters))
    declared = run.declared_metrics(bench, True)
    assert set(values) <= set(declared)
    assert values["funnel.cluster_edges"] == 2
    assert values["bands.hot_docs"] == 2500
    assert values["pipeline.trace_overhead_frac"] == pytest.approx(0.25)
    assert values["stage.clusters.jobs"] == 1
    run.emit_metrics(values, declared)


def test_traced_stream_and_kernel_names_are_declared(bench, tmp_path):
    from kernels import kernel_rates

    job = {"spans": [_span("batch_0", 0, 2), _span("batch_1", 2, 5)],
           "dir": str(tmp_path), "wall": 5.0}
    values = run.stream_layers(job, {}, untraced_wall=5.0, compact_every=2)
    values.update(kernel_rates(seed=1, min_s=0.01))
    values["process.peak_rss_mb"] = 1.0
    assert set(values) <= set(run.declared_metrics(bench, True))
    assert values["stream.compact_batch_s"] == 3
    assert values["stream.growth"] == pytest.approx(1.5)
    assert values["kernel.signature.docs_per_s"] > 0


# -- output checks ---------------------------------------------------------

def test_cluster_problems_flags_each_broken_invariant():
    clusters = pd.DataFrame({"doc_id": [1, 2, 3], "cluster_id": [1, 1, 3]})
    dup = pd.DataFrame({"id_a": [1], "id_b": [2], "jaccard": [0.9]})
    assert checks.cluster_problems(clusters, dup, 3) == []
    bad_edge = pd.DataFrame({"id_a": [2], "id_b": [3], "jaccard": [0.9]})
    assert checks.cluster_problems(clusters, bad_edge, 3)
    overlap_only = pd.DataFrame({"id_a": [2], "id_b": [3], "jaccard": [-1.0]})
    assert checks.cluster_problems(clusters, overlap_only, 3) == []
    not_min = pd.DataFrame({"doc_id": [1, 2], "cluster_id": [2, 2]})
    assert checks.cluster_problems(not_min, dup.iloc[:0], 2)
    assert checks.cluster_problems(clusters, dup, 4)


def test_planted_exact_pairs_are_evidenced_through_any_path():
    docs = pd.DataFrame({
        "conv_id": ["conv000000001", "conv000000001_dup0_exact",
                    "conv000000001_dup1_whitespace", "conv000000001_dup2_edit"],
        "doc_id": [10, 11, 12, 13]})
    pairs = checks.planted_exact_pairs(docs)
    assert sorted(pairs) == [(10, 11), (10, 12)]
    # 10-11 directly, 10-12 through 11
    dup = pd.DataFrame({"id_a": [10, 11], "id_b": [11, 12]})
    assert checks.unevidenced(pairs, dup) == 0
    assert checks.unevidenced(pairs, dup.iloc[:1]) == 1


def test_components_use_min_member_id():
    edges = pd.DataFrame({"id_a": [5, 7], "id_b": [3, 5]})
    out = checks.components(edges, [3, 5, 7, 9])
    assert dict(zip(out["doc_id"], out["cluster_id"])) == {
        3: 3, 5: 3, 7: 3, 9: 9}
