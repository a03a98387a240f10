"""Text normalization + conversation assembly invariants.

The assembly invariant is the driver's per-row check (BASELINE.json):
per-turn text equality under stable turn ordering — the assembled document
must be identical whatever the input partitioning/row order."""

from __future__ import annotations

from pyspark.sql import functions as F

from lsh_cascade_poc_spark.functions.text import (
    fingerprint_md5,
    is_valid_text,
    normalize_text,
)
from lsh_cascade_poc_spark.operators.assemble import assemble_conversations
from lsh_cascade_poc_spark.reference_impl import ref_assemble, ref_normalize


def test_normalize_matches_reference_semantics(spark):
    # mirrors /root/reference/tests/test_loader.py:18-56 (whitespace collapse,
    # truncation, short-drop)
    cases = [
        "  hello   world  ",
        "a\t\tb\nc",
        "x" * 3000,
        "short",
        "",
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["text"])
    rows = df.select(normalize_text(F.col("text"), 2048).alias("n")).collect()
    for c, r in zip(cases, rows):
        assert r.n == ref_normalize(c, 2048)


def test_is_valid_text_floor(spark):
    df = spark.createDataFrame([("123456789",), ("1234567890",)], ["t"])
    got = [r[0] for r in df.select(is_valid_text(F.col("t"), 10)).collect()]
    assert got == [False, True]


def test_assembly_stable_under_shuffled_input(spark, tiny_corpus):
    turns_pdf = tiny_corpus.turns
    shuffled = turns_pdf.sample(frac=1.0, random_state=99).reset_index(drop=True)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    d1 = assemble_conversations(spark.createDataFrame(turns_pdf, schema))
    d2 = assemble_conversations(
        spark.createDataFrame(shuffled, schema).repartition(7, "role")
    )
    p1 = {r.conv_id: r.doc_text for r in d1.collect()}
    p2 = {r.conv_id: r.doc_text for r in d2.collect()}
    assert p1 == p2


def test_assembly_matches_reference_per_turn(spark, tiny_corpus):
    """Per-turn text equality under stable turn ordering vs the independent
    numpy reference assembly."""
    turns_pdf = tiny_corpus.turns
    want = ref_assemble(
        list(zip(turns_pdf.conv_id, turns_pdf.turn_idx, turns_pdf.role, turns_pdf.text))
    )
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    got_df = assemble_conversations(spark.createDataFrame(turns_pdf, schema))
    got = {r.conv_id: r.doc_text for r in got_df.collect()}
    assert got == want
    # every turn's normalized text appears intact at the right position
    sample = sorted(want)[0]
    for line_got, line_want in zip(got[sample].split("\n"), want[sample].split("\n")):
        assert line_got == line_want


def test_quality_and_langid_and_fingerprint(spark, tmp_path):
    """The quality and language heuristics the driver runs (q_quality_scores,
    q_langid) on hand-checked texts, and the exact-dup key: md5 of the whole
    normalized text, so whitespace variants share it and two long texts
    that differ only past 2048 normalized characters (the former
    truncation default) do not."""
    import hashlib

    import __spark_entry__ as entry

    texts = [
        "the cat and the dog is in the house, yes!",
        "el gato es una casa por la manana como siempre",
        "zz qq xx yy ww",
    ]
    sf = tmp_path / "sf"
    spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string") \
        .write.parquet(str(sf / "documents.parquet"))
    q = {r.doc_id: r for r in entry.q_quality_scores(spark, str(sf)).collect()}
    assert q[0].n_tokens == 10
    assert q[0].stopword_ratio == 0.6  # the x3, and, is, in
    assert q[0].unique_ratio == 0.8    # 8 distinct: "the" x3
    assert q[2].stopword_ratio == 0.0
    lang = {r.doc_id: r.pred_lang for r in entry.q_langid(spark, str(sf)).collect()}
    assert lang == {0: "en", 1: "es", 2: "und"}

    shared = "word " * 600  # 3000 normalized chars
    texts = [
        "the cat  and\tthe dog",
        " the cat and the dog ",
        shared + "tail one",
        shared + "tail two",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    fps = [r.fp for r in df.select(fingerprint_md5(F.col("text")).alias("fp")).collect()]
    assert fps == [hashlib.md5(ref_normalize(t, 0).encode()).hexdigest() for t in texts]
    assert all(len(fp) == 32 for fp in fps)
    assert fps[0] == fps[1]
    assert fps[2] != fps[3]


def test_shingled_queries_survive_short_token_docs(spark, tmp_path):
    """ADVICE r3 (medium): Catalyst pushes the explode-inferred
    size(shingles) > 0 predicate below the size(toks) >= 3 filter, inlining
    the trigram slice into the scan filter where 1-2-token docs still
    exist; the unclamped `size(toks) - 2` slice length crashed
    contamination_overlap / containment_pairs with
    INVALID_PARAMETER_VALUE.LENGTH. The driver corpus happens to avoid the
    shape, so pin it with a synthetic one: a single >= 10-char token passes
    the normalize floor but has < 3 tokens."""
    import pandas as pd

    import __spark_entry__ as entry

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "superlongsingletoken",          # 1 token, >= 10 chars
            "two tokens_here_long_enough",   # 2 tokens
            "three tokens are here now plus some more words for shingles",
            "three tokens are here now plus some more words for shingle",
        ],
        "source": ["s"] * 4,
        "lang": ["en"] * 4,
    })
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    # must not raise; short-token docs contribute no shingles
    out = entry.q_contamination_overlap(spark, sf).collect()
    assert isinstance(out, list)
    pairs = entry.q_shingle_pairs_jaccard(spark, sf).collect()
    assert all({r.id_a, r.id_b} <= {3, 4} for r in pairs)
