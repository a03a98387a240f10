"""Structured Streaming ingest: incremental signatures + dedup-vs-index.

The reference is batch-only (SURVEY.md §2.6: no streaming); the north rule
doesn't require it either, but a 10^12-turn corpus is APPENDED to in
practice, so the engine ships an incremental path:

  readStream(turn files) -> foreachBatch:
      1. read the index as it stood before this batch (its committed
         directories only, see the layout below)
      2. run the batch pipeline's cascade body (pipeline.py run_cascade)
         over the micro-batch's turns (complete convs per batch — the
         file-per-conversation-chunk contract) against that index: the
         docs, the doc_id collision check over the batch and every indexed
         doc, the exact collapse (within the batch and against the
         fingerprints of the indexed signatures), signatures, the tier-0
         band probe, the tier-1 slice filter, the SimHash chunk probe, the
         winnow fingerprint probe, the Jaccard verify and the evidence
         merge. Every probe is operators/pairs.py shared_key_pairs with
         the indexed rows as its `index` side (new x new plus new x
         indexed, never indexed x indexed); a batch run is the same body
         against an empty index
      3. write the batch's index tables concurrently under batch_<id>/;
         its _COMMITTED marker, written after the last of them, is the
         commit point

The cascade steps and the hot-key cap are one rule in both drivers: a
probe sizes each bucket the batch's docs fall into over every indexed doc
plus the new ones, as a batch run sizes it over the whole corpus. What
differs:
  - a bucket can cross the cap after earlier batches already paired its
    docs: those pairs stay, and only later probes of the bucket stop.

Each micro-batch costs three probes of (new x indexed) — the tier-0 bands,
the SimHash chunks and the winnow fingerprints — instead of full
self-joins: the standard "probe the inverted index" incremental dedup. All
state lives in parquet tables under index_dir, one directory per commit:

  batch_<k>/<table>/       written by micro-batch k
  compact_<upto>/<table>/  every batch <= upto, folded every compact_every

A directory is read iff it holds StageStore's _COMMITTED marker: the view
is the newest committed compaction plus the committed batches above it.
The stream is restartable via Spark's checkpointLocation and an idempotent
batch-id guard. Each fact is stored once, in one of six tables
(INDEX_TABLES):

  docs            (conv_id, doc_id, fingerprint) of every ingested doc
  signatures      fresh representatives' signatures; its (fingerprint,
                  doc_id) projection is also the exact-collapse index, and
                  the tier-0 bands of its minhash and the 16-bit chunks of
                  its simhash are the band probes' indexed side
  dup_pairs       (id_a, id_b, jaccard) evidence
  overlap_fps     winnow fingerprints of long fresh representatives
  texts           (doc_id, doc_text) of those long representatives
  hot_band_drops  the recorded hot-bucket drops (tier 0 and SimHash)
"""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import COMMIT_MARKER, resolve_fs
from .config import DedupConfig
from .pipeline import local_stage, run_cascade, run_concurrently

TURNS_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)

# every index table; every batch writes all of them and every compaction
# folds all of them
INDEX_TABLES = ("docs", "signatures", "dup_pairs", "overlap_fps", "texts",
                "hot_band_drops")
# the only directories of an index root: one per batch and per compaction
_COMMIT_DIR = re.compile(r"(batch|compact)_(\d+)")


class IncrementalDedup:
    """foreachBatch sink: maintains signatures + dup pairs."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: DedupConfig | None = None,
                 compact_every: int = 32):
        self.spark = spark
        self.index_dir = index_dir
        self.cfg = cfg or DedupConfig()
        # fold the batch dirs into one compaction every this many batches
        # (0 disables); without it every batch's probe pays a file listing
        # linear in stream history (VERDICT r3 #5)
        self.compact_every = compact_every
        fs, root = resolve_fs(self.index_dir)
        fs.create_dir(root, recursive=True)

    def _path(self, name: str) -> str:
        """Path as Spark sees it (keeps the URI scheme)."""
        return f"{self.index_dir.rstrip('/')}/{name}"

    def _view(self) -> tuple[int, list[int], list[tuple[str, int]]]:
        """One listing of the index root plus one batched stat of the commit
        markers -> (u, batches, dirs): u is the `upto` of the newest
        committed compaction (-1 before the first), batches the committed
        batch ids above u, ascending, and dirs every (kind, id) directory,
        committed or not. What a crash leaves behind (a dir that died
        before its marker, an older compaction or folded batches that died
        before their deletion) is never read, so the deletes in _compact
        are garbage collection, not a correctness step. Any other directory
        (a table dir of the older per-table layout) raises ValueError."""
        from pyarrow import fs as pafs

        fs, root = resolve_fs(self.index_dir)
        root = root.rstrip("/")
        dirs = []
        for info in fs.get_file_info(pafs.FileSelector(root)):
            if info.type != pafs.FileType.Directory:
                continue
            m = _COMMIT_DIR.fullmatch(info.base_name)
            if m is None:
                raise ValueError(
                    f"{self.index_dir} holds {info.base_name!r}, not a "
                    "batch_<k> or compact_<upto> dir: an older index layout")
            dirs.append((m[1], int(m[2])))
        markers = fs.get_file_info(
            [f"{root}/{kind}_{k}/{COMMIT_MARKER}" for kind, k in dirs])
        done = [d for d, m in zip(dirs, markers)
                if m.type != pafs.FileType.NotFound]
        u = max((k for kind, k in done if kind == "compact"), default=-1)
        return u, sorted(k for kind, k in done
                         if kind == "batch" and k > u), dirs

    def _read(self, name: str, view, before: int | None = None) -> DataFrame:
        """Table `name` over the committed dirs of `view` (_view), below
        batch `before` when given: the index as it stood before that
        batch. With none it raises FileNotFoundError: before the first
        committed batch the index is empty."""
        u, batches, _ = view
        dirs = [f"compact_{u}"] * (u >= 0) + [
            f"batch_{k}" for k in batches if before is None or k < before]
        if not dirs:
            raise FileNotFoundError(
                f"stream index {self.index_dir} holds no committed batch yet")
        return self.spark.read.parquet(
            *(self._path(f"{d}/{name}") for d in dirs))

    def _commit(self, name: str) -> None:
        """Write the marker of directory `name`: its commit point."""
        fs, root = resolve_fs(self.index_dir)
        with fs.open_output_stream(
                f"{root.rstrip('/')}/{name}/{COMMIT_MARKER}") as f:
            f.write(b"ok")

    def _compact(self, upto: int) -> None:
        """Fold the committed view up to batch `upto` (the just-committed
        one) into compact_<upto>/: the six tables are written concurrently,
        one marker commits them together, then every batch_<k <= upto> and
        every other compact_* is deleted whole. A crash before the marker
        leaves a compact_<upto> no reader selects and the next compaction
        deletes; a crash among the deletes leaves dirs no view selects."""
        view = self._view()

        def fold(name: str) -> None:
            # single partition: the compacted result IS the small
            # historical tail; at cluster scale raise this to taste
            self._read(name, view, upto + 1).coalesce(1).write \
                .mode("overwrite").parquet(self._path(f"compact_{upto}/{name}"))

        run_concurrently(self.spark, *(
            partial(fold, name) for name in INDEX_TABLES))
        self._commit(f"compact_{upto}")
        fs, root = resolve_fs(self.index_dir)
        for kind, k in view[2]:
            if (kind == "batch" and k <= upto) or (
                    kind == "compact" and k != upto):
                fs.delete_dir(f"{root.rstrip('/')}/{kind}_{k}")

    def _write_batch(self, df: DataFrame, name: str, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            self._path(f"batch_{batch_id}/{name}"))

    def _index(self, view, batch_id: int) -> dict[str, DataFrame] | None:
        """The index tables process_batch reads, as they stood before
        `batch_id` in `view` -> {name: table}; None before the first
        committed batch (an empty index)."""
        try:
            return {name: self._read(name, view, batch_id) for name in
                    ("docs", "signatures", "overlap_fps", "texts")}
        except FileNotFoundError:
            return None

    def process_batch(self, turns_batch: DataFrame, batch_id: int) -> None:
        view = self._view()
        u, batches, _ = view
        if batch_id <= u or batch_id in batches:
            return  # replayed micro-batch after restart: already applied

        # the cascade reads only the batch and the index as it stood before
        # it, and raises (a doc_id collision included) before the first
        # index write below, so a failing batch leaves no commit marker.
        # Every stage of the cascade, dup_pairs included, is materialized
        # before the writes touch the index: a replay OVERWRITES this
        # batch's own tables.
        out = run_cascade(turns_batch, self.cfg, local_stage,
                          self._index(view, batch_id))

        # one directory per batch + overwrite: a crash between the writes
        # is healed by the replay overwriting the SAME directories, so the
        # marker is a true commit point (ADVICE r1: plain appends made
        # replays duplicate rows). The writes are independent and run
        # concurrently; the marker follows the last of them.
        writes = {
            # narrow per-doc bookkeeping (EVERY doc, signed or not): id
            # mapping + fingerprint — the signature table carries only
            # fresh representatives
            "docs": out.docs.select("conv_id", "doc_id", "fingerprint"),
            "signatures": out.signatures,
            "dup_pairs": out.dup_pairs,
            "overlap_fps": out.fps,
            # texts of fresh LONG representatives (every possible verify
            # candidate is gated, so short docs are dead weight here): the
            # overlap verify of every FUTURE batch needs the indexed side's
            # raw text. At cluster scale this table is a projection of the
            # corpus the stream already owns — point it at the source table
            # instead of materializing when storage matters.
            "texts": out.texts,
            # A5 analog: dropped hot buckets are recorded, never silent
            "hot_band_drops": out.hot,
        }
        run_concurrently(self.spark, *(
            partial(self._write_batch, writes[name], name, batch_id)
            for name in INDEX_TABLES
        ))
        self._commit(f"batch_{batch_id}")
        # periodic index compaction AFTER the commit point: only committed
        # batches are ever folded, and a replay of a folded batch
        # short-circuits on the compaction's `upto`
        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            self._compact(batch_id)

    # -- convenience wiring -------------------------------------------------

    def start(self, source_dir: str, checkpoint_dir: str,
              trigger_once: bool = True):
        stream = (
            self.spark.readStream.schema(TURNS_DDL).parquet(source_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def dup_pairs(self) -> DataFrame:
        return self._read("dup_pairs", self._view())

    def signatures(self) -> DataFrame:
        """Fresh-representative signatures (one row per distinct fingerprint
        first seen in each batch) — the banded/verifiable population."""
        return self._read("signatures", self._view())

    def docs(self) -> DataFrame:
        """Narrow per-doc bookkeeping for EVERY ingested doc:
        (fingerprint, conv_id, doc_id, _root). _root is the GLOBAL
        exact-group root, derived at read time: the fingerprint's
        first-indexed representative, i.e. its one row in the signatures
        table. An exact group straddling micro-batches thus reads with ONE
        root."""
        view = self._view()
        roots = self._read("signatures", view) \
            .select("fingerprint", F.col("doc_id").alias("root_id"))
        return (
            self._read("docs", view)
            .join(roots, "fingerprint", "left")
            .withColumn("_root", F.coalesce("root_id", F.col("doc_id")))
            .drop("root_id")
        )

    def hot_band_drops(self) -> DataFrame:
        """Recorded hot-bucket drops (tier, band_id, band_key, n_docs): the
        hot buckets each batch's docs fell into, sized over every doc
        indexed up to and including that batch — empty before the first
        batch."""
        try:
            return self._read("hot_band_drops", self._view())
        except FileNotFoundError:
            return self.spark.createDataFrame(
                [], "tier int, band_id int, band_key bigint, n_docs bigint"
            )
