"""Cross-engine parity of the production banding arithmetic.

Two layers pin q_prod_shingle_pairs / q_prod_band_keys / q_prod_lsh_pairs
(__spark_entry__):
  1. a pure-Python model of Spark's XXH64.hashInt chain (the semantics the
     DuckDB HUGEINT SQL implements) vs the real JVM xxhash64 on random
     int32 chains — the analog of reference tests/test_lsh.py's
     hash-core determinism block;
  2. the full DuckDB oracle SQL vs the Spark production path at sf0.001 —
     a SECOND scale factor beyond the driver's sf0.01 gate, so the oracle
     can't silently overfit one dataset.
"""

from __future__ import annotations

import os
import random

import duckdb
import pytest
from pyspark.sql import functions as F

M64 = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P5 = 0x27D4EB2F165667C5


def _rotl(x: int, k: int) -> int:
    return ((x << k) | (x >> (64 - k))) & M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    h ^= h >> 32
    return h


def _hash_int(v: int, seed: int) -> int:
    """Spark XXH64.hashInt: 4-byte path incl. fmix; v is an int32."""
    h = (seed + P5 + 4) & M64
    h ^= ((v & 0xFFFFFFFF) * P1) & M64
    h = (_rotl(h, 23) * P2 + P3) & M64
    return _fmix(h)


P4 = 0x85EBCA77C2B2AE63


def _hash_long(v: int, seed: int = 42) -> int:
    """Spark XXH64.hashLong: 8-byte path incl. fmix; v is an int64.
    Returns the SIGNED value Spark's xxhash64 column yields."""
    h = (seed + P5 + 8) & M64
    h ^= (_rotl(((v & M64) * P2) & M64, 31) * P1) & M64
    h = (_rotl(h, 27) * P1 + P4) & M64
    h = _fmix(h)
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_int_chain(vals: list[int], seed: int = 42) -> int:
    """Spark xxhash64(c0, c1, ...) over int32 columns: each element's hash
    becomes the next element's seed (array elements chain identically)."""
    h = seed
    for v in vals:
        h = _hash_int(v, h)
    return h - (1 << 64) if h >= (1 << 63) else h


def test_xxh64_int_chain_model_matches_spark(spark):
    rng = random.Random(7)
    cases = [
        [rng.randint(-(2**31), 2**31 - 1) for _ in range(rng.randint(1, 6))]
        for _ in range(12)
    ]
    # one job: a row per case, xxhash64 over the posexploded... simpler —
    # each case as its own column set in a single select on range(1)
    exprs = [
        F.xxhash64(*[F.lit(v).cast("int") for v in vals]).alias(f"h{i}")
        for i, vals in enumerate(cases)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    for i, vals in enumerate(cases):
        assert row[f"h{i}"] == xxh64_int_chain(vals), vals

    # the array-slice form band_keys_column actually uses
    arr = F.array(*[F.lit(i * 917 - 400).cast("int") for i in range(8)])
    got = (
        spark.range(1)
        .select(F.xxhash64(F.lit(0), F.lit(3), F.slice(arr, 3, 4)).alias("h"))
        .collect()[0]
        .h
    )
    want = xxh64_int_chain([0, 3] + [i * 917 - 400 for i in range(2, 6)])
    assert got == want


def test_xxh64_long_model_matches_spark(spark):
    rng = random.Random(13)
    vals = [rng.randint(-(2**63), 2**63 - 1) for _ in range(10)] + [
        0, -1, 1, 2**63 - 1, -(2**63)
    ]
    exprs = [
        F.xxhash64(F.lit(v).cast("long")).alias(f"h{i}")
        for i, v in enumerate(vals)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    for i, v in enumerate(vals):
        assert row[f"h{i}"] == _hash_long(v), v


SF001 = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_prod_band_keys_duckdb_oracle_sf0001(spark):
    import __spark_entry__ as entry

    got = sorted(
        (r.doc_id, r.band_id, r.band_key)
        for r in entry.queries()["prod_band_keys"](spark, SF001).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{SF001}/documents.parquet')"
    )
    want = sorted(con.execute(entry.oracle_sql()["prod_band_keys"]).fetchall())
    assert got == want
    assert len(got) > 0


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_prod_shingle_pairs_duckdb_oracle_sf0001(spark):
    import __spark_entry__ as entry

    got = sorted(
        (r.id_a, r.id_b, r.n_inter, r.jaccard)
        for r in entry.queries()["prod_shingle_pairs"](spark, SF001).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{SF001}/documents.parquet')"
    )
    want = sorted(
        con.execute(entry.oracle_sql()["prod_shingle_pairs"]).fetchall()
    )
    assert got == want
    assert len(got) > 0


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_hash_split_duckdb_oracle_sf0001(spark):
    import __spark_entry__ as entry

    got = sorted(
        (r.doc_id, r.bucket, r.split)
        for r in entry.queries()["hash_split"](spark, SF001).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{SF001}/documents.parquet')"
    )
    want = sorted(con.execute(entry.oracle_sql()["hash_split"]).fetchall())
    assert got == want
    # split assignment must be a pure function of doc_id (model-checked;
    # python % is already a positive mod, matching Spark's pmod)
    for doc_id, bucket, _ in got[:50]:
        assert bucket == _hash_long(doc_id) % 1000


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_prod_lsh_pairs_duckdb_oracle_sf0001(spark):
    import __spark_entry__ as entry

    got = sorted(
        (r.id_a, r.id_b, r.jaccard, r.is_dup)
        for r in entry.queries()["prod_lsh_pairs"](spark, SF001).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{SF001}/documents.parquet')"
    )
    want = sorted(
        (a, b, j, d)
        for a, b, j, d in con.execute(
            entry.oracle_sql()["prod_lsh_pairs"]
        ).fetchall()
    )
    assert got == want


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_dedup_pairs_duckdb_oracle_sf0001(spark):
    """The full-cascade dedup_pairs oracle (r4) pinned at a SECOND scale
    factor beyond the driver's sf0.01 gate: assembly, md5 collapse,
    signature kernel, both band tiers, SimHash pass, verify prunes and the
    exact-Jaccard values must all agree or the pair set / scores drift."""
    import __spark_entry__ as entry

    got = sorted(
        (r.conv_a, r.conv_b, round(r.jaccard, 9))
        for r in entry.queries()["dedup_pairs"](spark, SF001).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{SF001}/documents.parquet')"
    )
    want = sorted(
        (a, b, round(j, 9))
        for a, b, j in con.execute(entry.oracle_sql()["dedup_pairs"]).fetchall()
    )
    assert got == want
    assert len(got) > 0


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_overlap_pairs_duckdb_oracle_sf0001(spark):
    """The overlap_pairs oracle (promoted r4) pinned at a SECOND scale
    factor beyond the driver's sf0.01 gate: winnow fingerprints, the
    [2, hot_cap] shared-fp filter, the three-seed selection (boundary
    min/max + dominant alignment) and the greedy byte extension must all
    agree or the pair set / overlap lengths drift."""
    import __spark_entry__ as entry

    got = sorted(
        (r.id_a, r.id_b, r.overlap_chars)
        for r in entry.queries()["overlap_pairs"](spark, SF001).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{SF001}/documents.parquet')"
    )
    want = sorted(con.execute(entry.oracle_sql()["overlap_pairs"]).fetchall())
    assert got == want
    assert len(got) > 0


def test_overlap_pairs_oracle_late_positions(spark, tmp_path):
    """Regression: the oracle packs (pos_a, pos_b) as pos_a * 2^21 + pos_b;
    without a BIGINT cast DuckDB's INT32 multiplication overflows for any
    shared fingerprint at byte position >= 1024 (positions reach 2024 by
    the norm_text truncation). The driver test corpora happen to share all
    their overlaps at early positions, so this synthesizes two ~1900-char
    docs whose 300-char shared passage sits at the END — every shared
    fingerprint lands past position 1500 on both sides."""
    import random

    import pandas as pd

    rng = random.Random(1024)

    def filler(n_words, tag):
        return " ".join(
            f"{tag}{rng.randrange(10**6)}tok{i}" for i in range(n_words)
        )

    passage = ("the late position shared passage body text segment " * 6).strip()
    assert len(passage) >= 200
    # fillers sized so the passage STARTS past byte 1024 (the INT32
    # overflow boundary) but ENDS inside the 2048-char norm truncation
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            filler(95, "alpha") + " " + passage,
            filler(95, "beta") + " " + passage,
            filler(160, "gamma"),
        ],
    })
    for t in docs["text"][:2]:
        start = t.index(passage[:50])
        assert 1024 <= start and start + len(passage) <= 2048, start
    sf = tmp_path / "sf"
    sf.mkdir()
    pd_docs = spark.createDataFrame(docs)
    pd_docs.write.mode("overwrite").parquet(str(sf / "documents.parquet"))

    import __spark_entry__ as entry

    got = sorted(
        (r.id_a, r.id_b, r.overlap_chars)
        for r in entry.queries()["overlap_pairs"](spark, str(sf)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(con.execute(entry.oracle_sql()["overlap_pairs"]).fetchall())
    assert got == want
    assert len(got) == 1 and got[0][:2] == (1, 2)
    # the scenario is real: the shared fps sit past the INT32-overflow
    # boundary (norm truncates at 2048, passage starts past byte 1500)
    norm_a = " ".join(docs["text"][0].split())[:2048]
    assert norm_a.index(passage[:50]) >= 1024


@pytest.mark.skipif(not os.path.isdir("/root/testdata"), reason="no testdata")
def test_embeddings_are_64_dim_everywhere():
    """Every DuckDB cosine/dot oracle hardcodes generate_series(1, 64)
    while the Spark side folds the arrays' actual length (__spark_entry__
    _emb_dot docstring). That is only parity-safe because the embeddings
    table is exactly 64-dim at every scale factor — pin it so a testdata
    contract change fails HERE instead of silently desyncing the cosine
    oracles (they would read NULL past the array end and drop rows)."""
    import glob

    con = duckdb.connect()
    sfs = sorted(glob.glob("/root/testdata/sf*/embeddings.parquet"))
    assert sfs, "no embeddings tables found"
    for path in sfs:
        lo, hi = con.execute(
            f"SELECT min(len(embedding)), max(len(embedding))"
            f" FROM read_parquet('{path}')"
        ).fetchone()
        assert (lo, hi) == (64, 64), (path, lo, hi)


def test_dedup_oracle_space_boundary_truncation(spark, tmp_path):
    """Regression (ADVICE r5): a turn whose max_turn_chars truncation ends ON
    a space leaves the assembled turn with a trailing space (normalize_text
    truncates LAST), so after the oracle's replace(chr(10) -> ' ') the doc
    carries a double space and DuckDB string_split emits an '' token the
    production kernel's python str.split() never does — shifting tok_idx and
    the whole token-hash chain. The driver corpora never hit the boundary;
    this synthesizes it: token 1 is exactly 2047 chars, so the first 20-token
    window's join has a space at position 2048 and truncation ends on it."""
    import pandas as pd

    import __spark_entry__ as entry
    from lsh_cascade_poc_spark.config import DedupConfig

    cfg = DedupConfig(**entry._DEDUP_Q_CFG)
    big = "a" * (cfg.max_turn_chars - 1)
    base = [big] + [f"tok{i}" for i in range(1, 100)]
    # the boundary really is hit: window-1 body truncates to "...a "
    w1 = " ".join(base[: entry._TURN_TOKENS])
    assert w1[cfg.max_turn_chars - 1] == " " and len(w1) > cfg.max_turn_chars
    near = list(base)
    near[50] = "tokFIFTYchanged"  # 1 of 100 tokens -> true Jaccard ~0.90
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [" ".join(base), " ".join(near),
                 " ".join(f"other{i}word" for i in range(60))],
    })
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(sf / "documents.parquet")
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    got_pairs = sorted(
        (r.conv_a, r.conv_b, round(r.jaccard, 9))
        for r in entry.queries()["dedup_pairs"](spark, str(sf)).collect()
    )
    want_pairs = sorted(
        (a, b, round(j, 9))
        for a, b, j in con.execute(entry.oracle_sql()["dedup_pairs"]).fetchall()
    )
    assert got_pairs == want_pairs
    assert len(got_pairs) == 1 and got_pairs[0][:2] == ("doc1", "doc2")
    got_cl = sorted(
        (r.conv_id, r.cluster_conv)
        for r in entry.queries()["dedup_clusters"](spark, str(sf)).collect()
    )
    want_cl = sorted(
        con.execute(entry.oracle_sql()["dedup_clusters"]).fetchall()
    )
    assert got_cl == want_cl


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_dedup_band_occupancy_below_hot_cap(spark, sf_dir):
    """Scope precondition of the dedup_pairs/dedup_clusters oracles (ADVICE
    r5): the oracle omits hot_band_cap on the claim that no gate corpus has
    a band bucket with >= hot_band_cap colliding docs. Assert it loudly for
    every tier the production pipeline caps (coarse, tight, SimHash) at both
    gate scale factors — if a future corpus or config drift makes the cap
    bind, this fails HERE with a clear message instead of surfacing as an
    inscrutable hash mismatch in CORRECTNESS_r{N}."""
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata absent")
    import __spark_entry__ as entry
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.operators.bands import explode_bands
    from lsh_cascade_poc_spark.pipeline import simhash_chunks

    cfg = DedupConfig(**entry._DEDUP_Q_CFG)
    sigs = entry._dedup_run(spark, sf_dir).signatures
    tiers = [
        explode_bands(sigs, "minhash", tier=0, n_bands=cfg.coarse_n_bands,
                      rows_per_band=cfg.coarse_rows_per_band),
        explode_bands(sigs, "minhash", tier=1, n_bands=cfg.tight_n_bands,
                      rows_per_band=cfg.tight_rows_per_band),
        simhash_chunks(sigs, cfg),
    ]
    for t in tiers:
        occ = (
            t.groupBy("tier", "band_id", "band_key")
            .agg(F.countDistinct("doc_id").alias("n"))
            .agg(F.max("n").alias("mx"), F.first("tier").alias("tier"))
            .collect()[0]
        )
        assert occ.mx < cfg.hot_band_cap, (
            f"{sf_dir} tier {occ.tier}: a band bucket holds {occ.mx} docs >= "
            f"hot_band_cap {cfg.hot_band_cap}; the dedup oracle's no-cap "
            f"assumption no longer holds — add the cap to the oracle SQL"
        )


def test_registry_window_shape():
    """Window-discipline record (VERDICT r4 #5 / ADVICE r4): all 53 queries
    are oracle-backed; the two production kernels promoted r5 (e2lsh_pairs,
    media_dedup) sit INSIDE the driver's 50-entry window; the three tail
    entries are exactly the subsumed/doubly-pinned ones."""
    import __spark_entry__ as entry

    q = list(entry.queries())
    o = entry.oracle_sql()
    assert set(q) == set(o), "every queries() entry must carry an oracle"
    assert q[50:] == ["itq_transform", "e2lsh_buckets", "overlap_pairs"]
    assert "e2lsh_pairs" in q[:50] and "media_dedup" in q[:50]


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
def test_tail_queries_hash_exact_sf0001(spark, monkeypatch):
    """The registry entries outside the driver's 50-query window stay
    hash-exact at a SECOND scale factor (overlap_pairs has its dedicated
    test above; this pins the two displaced in r5 — itq_transform and
    e2lsh_buckets — so tail placement can never hide a regression)."""
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", SF001)
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS"
        f" SELECT * FROM read_parquet('{SF001}/embeddings.parquet')"
    )
    qs, osql = entry.queries(), entry.oracle_sql()
    for name in ("itq_transform", "e2lsh_buckets"):
        got = sorted(tuple(r) for r in qs[name](spark, SF001).collect())
        want = sorted(tuple(r) for r in con.execute(osql[name]).fetchall())
        assert got == want, name
        assert len(got) > 0, name
