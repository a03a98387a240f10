"""spark-submit driver surface (job.py / python -m lsh_cascade_poc_spark).

Runs the CLI end-to-end in a SUBPROCESS (job.main creates and stops its own
SparkSession — calling it in-process would tear down the shared test
session) on a tiny parquet corpus, then re-submits the identical config and
asserts the resume path reproduces the same clusters from checkpoints.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_job(input_path: str, work: str, out: str) -> dict:
    cmd = [
        sys.executable, "-m", "lsh_cascade_poc_spark",
        "--input", input_path, "--work-dir", work, "--output", out,
        "--no-overlap",
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                          env=env, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no summary JSON in stdout:\n{proc.stdout[-2000:]}")


def test_job_cli_end_to_end_and_resume(tmp_path):
    from lsh_cascade_poc_spark.datagen.transcripts import generate_corpus

    corpus = generate_corpus(n_base=15, dup_fraction=0.5, seed=5)
    input_path = str(tmp_path / "turns.parquet")
    table = pa.Table.from_pandas(corpus.turns, preserve_index=False)
    # pandas ns-precision timestamps write as TIMESTAMP(NANOS), which Spark's
    # parquet reader rejects — cast to the us precision Spark expects
    ts_i = table.schema.get_field_index("ts")
    table = table.set_column(
        ts_i, "ts", table.column("ts").cast(pa.timestamp("us", tz="UTC"))
    )
    pq.write_table(table, input_path)

    work, out = str(tmp_path / "work"), str(tmp_path / "out")
    summary = _run_job(input_path, work, out)
    assert summary["stages"]["clusters"]["rows"] > 0
    clusters1 = pq.read_table(out + "/clusters").to_pydict()
    pairs1 = pq.read_table(out + "/dup_pairs").num_rows
    assert len(clusters1["doc_id"]) == summary["stages"]["docs"]["rows"]

    # identical re-submit resumes from the committed checkpoints (config
    # hash unchanged) and must reproduce the exact same outputs
    summary2 = _run_job(input_path, work, str(tmp_path / "out2"))
    assert summary2["config_hash"] == summary["config_hash"]
    clusters2 = pq.read_table(str(tmp_path / "out2") + "/clusters").to_pydict()
    as_set = lambda c: set(zip(c["doc_id"], c["cluster_id"]))  # noqa: E731
    assert as_set(clusters2) == as_set(clusters1)
    assert pq.read_table(str(tmp_path / "out2") + "/dup_pairs").num_rows == pairs1
