"""Conversation assembly: transcript turns -> one document per conv_id.

Input shape (BASELINE.json input_hint):
    conv_id:string, turn_idx:int, role:string, text:string, tool:string, ts:timestamp

The invariant the driver asserts is **per-turn text equality under stable turn
ordering**: the assembled document must equal the concatenation of turn texts
sorted by turn_idx, independent of partitioning/shuffle order. We therefore
never rely on collect_list ordering (which is partition-order-dependent);
turns are packed into structs and `sort_array`-ed by the leading turn_idx
field before concatenation (SURVEY.md §7.3 item e).

Reference analog: one "document" = one embedded passage (src/loader.py:85-93);
here one document = one conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import is_valid_text, normalize_text

TURN_SEP = "\n"


def assemble_conversations(
    turns: DataFrame,
    max_turn_chars: int = 2048,
    min_doc_chars: int = 10,
    keep_roles: bool = True,
) -> DataFrame:
    """turns(conv_id, turn_idx, role, text, tool, ts) ->
    docs(conv_id, doc_text, n_turns, first_ts, last_ts).

    One shuffle (the groupBy on conv_id); per-turn normalization runs
    map-side inside codegen before the exchange.
    """
    norm = normalize_text(F.col("text"), max_chars=max_turn_chars)
    turn_payload = F.concat_ws(": ", F.col("role"), norm) if keep_roles else norm

    prepared = turns.select(
        "conv_id",
        F.struct(
            F.col("turn_idx").alias("turn_idx"),
            turn_payload.alias("turn_text"),
        ).alias("turn"),
        F.col("ts"),
    )

    docs = (
        prepared.groupBy("conv_id")
        .agg(
            F.sort_array(F.collect_list("turn")).alias("turns_sorted"),
            F.count(F.lit(1)).alias("n_turns"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "conv_id",
            F.concat_ws(
                TURN_SEP, F.transform("turns_sorted", lambda t: t["turn_text"])
            ).alias("doc_text"),
            "n_turns",
            "first_ts",
            "last_ts",
        )
        .filter(is_valid_text(F.col("doc_text"), min_doc_chars))
    )
    return docs


def with_doc_id(docs: DataFrame) -> DataFrame:
    """Stable int64 doc_id derived from conv_id (xxhash64) — NOT
    monotonically_increasing_id, which is partitioning-dependent and would
    break determinism across parallelism levels. Birthday bound: expected
    collisions ~ n^2/2^65 — ~0.03 at 10^9 docs but ~27,000 at 10^12 docs,
    NOT negligible at the north-rule scale. Batch and streaming both detect
    collisions (pipeline.check_doc_id_collisions, always on) and fail
    loudly rather than silently merging distinct conversations;
    conv_id is kept alongside everywhere."""
    return docs.withColumn("doc_id", F.xxhash64("conv_id"))
