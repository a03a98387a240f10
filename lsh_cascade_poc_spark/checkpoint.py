"""Stage checkpoint / resume + lineage metrics.

North-rule requirement: every stage writes its output plus per-partition
lineage/metrics so the pipeline resumes from the last committed checkpoint.
Every stage is a Parquet directory plus a `_COMMITTED` marker written
after the data — Spark's Parquet commit protocol plus the marker gives the same
"stage output exists iff it committed" property the reference gets from
pickled index files (/root/reference/src/cascade_search.py:301-340
save_index/load_index is the reference's checkpoint analog).

All driver-side filesystem access (commit markers, parquet-footer stats,
metric appends) goes through ``pyarrow.fs`` resolved from the work_dir URI,
so a cluster deployment can point the store at ``s3://…`` or ``hdfs://…``
and the driver bookkeeping keeps working — plain ``os`` calls would bind
the checkpoint protocol to the driver's local disk.

Layout:  <work_dir>/<config_hash>/<stage_name>/   (data)
         <work_dir>/<config_hash>/_metrics/       (append-only metric rows)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# a StageStore stage, and a stream index commit (streaming.py), counts iff
# its directory holds this marker
COMMIT_MARKER = "_COMMITTED"

METRICS_SCHEMA = (
    "stage string, config_hash string, rows_out bigint, n_partitions int, "
    "wall_ms double, extra string, finished_at_ms bigint"
)


def resolve_fs(uri: str) -> tuple:
    """(pyarrow FileSystem, path inside it) for a local path or a
    ``scheme://`` URI — the driver-side filesystem of StageStore and of the
    streaming index (streaming.py)."""
    from pyarrow import fs as pafs

    if "://" in uri:
        return pafs.FileSystem.from_uri(uri)
    return pafs.LocalFileSystem(), os.path.abspath(uri)


@dataclass
class StageStore:
    spark: SparkSession
    work_dir: str
    config_hash: str

    def _stage_path(self, stage: str) -> str:
        """Path as SPARK sees it (keeps the scheme, e.g. s3://…)."""
        return f"{self.work_dir.rstrip('/')}/{self.config_hash}/{stage}"

    # -- driver-side filesystem (URI-aware) --------------------------------

    def _fs_path(self, stage: str) -> tuple:
        # resolved per call: pyarrow filesystems are cheap handles and a
        # dataclass field would break pickling of the store
        fs, root = resolve_fs(self.work_dir)
        return fs, f"{root.rstrip('/')}/{self.config_hash}/{stage}"

    def exists(self, stage: str) -> bool:
        from pyarrow import fs as pafs

        fs, path = self._fs_path(stage)
        info = fs.get_file_info(f"{path}/{COMMIT_MARKER}")
        return info.type != pafs.FileType.NotFound

    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._stage_path(stage))

    def materialize(
        self,
        stage: str,
        df_factory,
        extra_metrics: dict | None = None,
    ) -> DataFrame:
        """Run `df_factory()` and persist its result unless the stage already
        committed (resume path: skip recompute entirely and read back).
        Returns the stage DataFrame re-read from storage, so downstream
        lineage starts from the checkpoint (bounded plans, CC-style loops
        don't accumulate)."""
        path = self._stage_path(stage)
        if self.exists(stage):
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df: DataFrame = df_factory()
        df.write.mode("overwrite").parquet(path)
        wall_ms = (time.perf_counter() - t0) * 1000.0
        out = self.spark.read.parquet(path)
        # row count + partition count from parquet FOOTERS (driver-side, no
        # Spark job): a per-stage count() job added ~0.6s x n_stages of pure
        # serial time to every pipeline run
        fs, fspath = self._fs_path(stage)
        rows, n_parts = self._footer_stats(fs, fspath)
        self._append_metrics(stage, rows, n_parts, wall_ms, extra_metrics or {})
        # atomic-enough commit marker: written only after data + metrics land
        with fs.open_output_stream(f"{fspath}/{COMMIT_MARKER}") as f:
            f.write(json.dumps({"rows": rows, "wall_ms": wall_ms}).encode())
        return out

    @staticmethod
    def _footer_stats(fs, path: str) -> tuple[int, int]:
        """(row count, file count) from parquet file footers — no Spark job."""
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        rows = 0
        files = 0
        for info in fs.get_file_info(pafs.FileSelector(path, recursive=True)):
            if info.is_file and info.path.endswith(".parquet"):
                rows += pq.read_metadata(info.path, filesystem=fs).num_rows
                files += 1
        return rows, files

    def _append_metrics(self, stage: str, rows: int, n_parts: int,
                        wall_ms: float, extra: dict) -> None:
        """One metric row appended as a single parquet file, written DRIVER-
        side with pyarrow (schema matches METRICS_SCHEMA): a Spark write job
        per stage was another ~0.6s of serial overhead per stage."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table({
            "stage": [stage],
            "config_hash": [self.config_hash],
            "rows_out": pa.array([rows], type=pa.int64()),
            "n_partitions": pa.array([n_parts], type=pa.int32()),
            "wall_ms": pa.array([wall_ms], type=pa.float64()),
            "extra": [json.dumps(extra, sort_keys=True)],
            "finished_at_ms": pa.array([int(time.time() * 1000)], type=pa.int64()),
        })
        fs, mdir = self._fs_path("_metrics")
        fs.create_dir(mdir, recursive=True)
        # uuid uniquifier: wall-clock microseconds alone can collide (coarse
        # clocks / concurrent stores sharing a work_dir) and would silently
        # overwrite a sibling metric row
        import uuid

        pq.write_table(
            table,
            f"{mdir}/{stage}-{int(time.time() * 1e6)}-{uuid.uuid4().hex[:8]}.parquet",
            filesystem=fs,
        )

    def metrics(self) -> DataFrame:
        from pyarrow import fs as pafs

        fs, mdir = self._fs_path("_metrics")
        if fs.get_file_info(mdir).type == pafs.FileType.NotFound:
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        return self.spark.read.parquet(self._stage_path("_metrics"))

    def stage_size_bytes(self, stage: str) -> int:
        """On-disk footprint of a committed stage (A6 index-stats analog of
        the reference's embeddings/hashes_memory_mb, src/cascade_search.py:292-299)."""
        from pyarrow import fs as pafs

        fs, path = self._fs_path(stage)
        total = 0
        for info in fs.get_file_info(pafs.FileSelector(path, recursive=True)):
            name = info.path.rstrip("/").rsplit("/", 1)[-1]
            if info.is_file and not name.startswith("_"):
                total += info.size or 0
        return total

    def partition_lineage(self, stage: str) -> DataFrame:
        """Per-partition (file-level) lineage of a committed stage: one row
        per output file with its row count — derived from Parquet metadata
        via the input_file_name() trick, no extra bookkeeping at write time."""
        df = self.load(stage)
        return (
            df.withColumn("file", F.input_file_name())
            .groupBy("file")
            .agg(F.count(F.lit(1)).alias("rows"))
        )
