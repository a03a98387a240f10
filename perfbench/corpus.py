"""Workload inputs, made from the seed and cached as parquet.

Every corpus holds the rows of the program's planted-family generator
(`generate_corpus_distributed`), made here row by row with the same
per-conversation function so no Spark job is needed before the session is
timed. `batch_flood` adds a boilerplate flood made here; the stream corpus
is carved into micro-batches by a hash of conv_id. A corpus is cached under
`.cache/corpora/`, keyed on the workload, the seed, the size and a hash of
the generator sources (the flood's hot block is picked with the program's
signature kernel, so the kernel functions count as generator sources), so a
changed generator never reuses a stale corpus.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# generate_corpus_distributed's corpus shape
DUP_FRACTION = 0.3
BOILERPLATE_FRACTION = 0.25
MIN_TURNS, MAX_TURNS = 2, 10

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# the program's TURNS_SCHEMA as parquet
TURNS_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

# The flood. Family 0 is larger than hot_band_cap (1000) and
# overlap_hot_cap (200): its MinHash and SimHash band buckets and its shared
# fingerprints are dropped as hot. Family 1 stays under the band cap (but
# over the fingerprint cap, with its copies), so all its C(200, 2) = 19,900
# pairs are verified. Each member of families 0-1 is a shared block turn
# plus a tail turn holding one unique token; a few members repeat verbatim
# under new ids. Family 2 is one short turn repeated verbatim: a large
# exact group.
FLOOD_SIZES = (1500, 200)
FLOOD_EXACT_COPIES = (200, 20)
# family 0's long block (still under max_turn_chars, 2048) keeps one tail
# shingle from moving its MinHash bands; family 1's short block keeps its
# verify cheap
FLOOD_BLOCK_WORDS = (250, 80)
EXACT_FLOOD_SIZE = 5_000

_EPOCH = datetime(2026, 6, 1, tzinfo=timezone.utc)


def _simhash_stable(block: str, n_tails: int = 32) -> bool:
    """True if no tail token can flip a SimHash bit of the block: a bit
    whose vote is tied flips with about half of all tails, which would
    split the family's SimHash buckets below the hot cap."""
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.functions.signature_udf import make_signature_udf
    from lsh_cascade_poc_spark.operators.assemble import TURN_SEP

    cfg = DedupConfig()
    sig = make_signature_udf(cfg.shingle_k, cfg.n_perm, cfg.minhash_seed,
                             cfg.simhash_bits).func
    docs = pd.Series([f"user: {block}{TURN_SEP}assistant: {_tail(-1 - i)}"
                      for i in range(n_tails)])
    out = pd.concat(list(sig(iter([docs]))))
    return out["simhash"].nunique() == 1


def _tail(i: int) -> str:
    return f"ref{i:07d}"


def flood_turns(seed: int) -> pd.DataFrame:
    """The flood's turns, a pure function of the seed. Conv ids avoid the
    generator's `_dup` naming, so planted-family recall counts only the
    planted families."""
    from lsh_cascade_poc_spark.datagen.transcripts import _ROLES, _sentence

    rng = np.random.default_rng([seed, 0xF100D])
    rows = []

    def emit(conv_id: str, texts: list[str], minute: int) -> None:
        for i, text in enumerate(texts):
            ts = pd.Timestamp(_EPOCH) + pd.Timedelta(minutes=minute,
                                                     seconds=30 * i)
            rows.append((conv_id, i, _ROLES[i % len(_ROLES)], text, None,
                         ts.tz_convert(None)))

    for fam, size in enumerate(FLOOD_SIZES):
        block = _sentence(rng, FLOOD_BLOCK_WORDS[fam])
        while fam == 0 and not _simhash_stable(block):
            block = _sentence(rng, FLOOD_BLOCK_WORDS[fam])
        members = []
        for i in range(size):
            texts = [block, _tail(i)]
            members.append(texts)
            emit(f"flood{fam}_{i:06d}", texts, i)
        for j in range(FLOOD_EXACT_COPIES[fam]):
            emit(f"flood{fam}_{j % 5:06d}c{j:04d}", members[j % 5], size + j)
    short = [_sentence(rng, 12)]
    for i in range(EXACT_FLOOD_SIZE):
        emit(f"flood2_{i:06d}", short, i % 10_000)
    return pd.DataFrame(rows, columns=COLUMNS).astype({"turn_idx": "int32"})


def base_turns(seed: int, n_base: int) -> pd.DataFrame:
    """The rows generate_corpus_distributed(n_base=n_base, seed=seed) makes:
    each base conversation and its duplicate variants come from a function
    of (seed, index) alone."""
    from lsh_cascade_poc_spark.datagen.transcripts_spark import _gen_conv_rows

    rows = []
    for base_idx in range(n_base):
        rows.extend(_gen_conv_rows(base_idx, seed, DUP_FRACTION,
                                   BOILERPLATE_FRACTION, MIN_TURNS, MAX_TURNS))
    return pd.DataFrame(rows, columns=COLUMNS).astype({"turn_idx": "int32"})


def write_turns(turns: pd.DataFrame, path: str, n_files: int) -> None:
    """Write turns as `n_files` parquet files Spark reads as TURNS_SCHEMA."""
    turns = turns.assign(ts=turns["ts"].dt.tz_localize("UTC"))
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(turns)), n_files)):
        table = pa.Table.from_pandas(turns.iloc[part], schema=TURNS_ARROW,
                                     preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def sources_hash(*paths: str) -> str:
    """Hash of the Python sources in the given files and directories."""
    h = hashlib.sha256()
    for path in paths:
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(root, f) for root, _d, names in os.walk(path)
            for f in names if f.endswith(".py"))
        for name in files:
            with open(name, "rb") as f:
                h.update(os.path.relpath(name, REPO).encode() + f.read())
    return h.hexdigest()[:12]


def corpus_dir(workload: str, seed: int, n_base: int) -> str:
    pkg = os.path.join(REPO, "lsh_cascade_poc_spark")
    gen = sources_hash(os.path.join(pkg, "datagen"),
                       os.path.join(pkg, "functions"),
                       os.path.abspath(__file__))
    return os.path.join(CACHE, "corpora",
                        f"{workload}-s{seed}-n{n_base}-{gen}")


def ensure_corpus(workload: str, seed: int, n_base: int, flood: bool,
                  n_batches: int, n_files: int) -> str:
    """Generate the workload's input unless it is cached; returns its dir.
    Batch workloads read `<dir>/turns`; the stream workload reads
    `<dir>/batch_<k>` for k < n_batches."""
    out = corpus_dir(workload, seed, n_base)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    turns = base_turns(seed, n_base)
    if flood:
        turns = pd.concat([turns, flood_turns(seed)], ignore_index=True)
    if n_batches:
        batch = turns["conv_id"].map(
            lambda c: zlib.crc32(c.encode()) % n_batches)
        for k in range(n_batches):
            write_turns(turns[batch == k], os.path.join(out, f"batch_{k}"),
                        n_files)
    else:
        write_turns(turns, os.path.join(out, "turns"), n_files)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
