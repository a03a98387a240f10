"""Embedding-mode tests — mirrors the reference's tests/test_lsh.py and
test_pipeline.py (metric properties: similar -> small Hamming, unrelated ->
mid-band; self-query top-1; cascade recall) over the kernels and driver
queries that run them: the signbit fingerprint, q_hamming_topk,
q_multiprobe_hamming, q_pivot_prefilter, q_cascade_topk, the ITQ fit and
q_itq_codes fold, and the quantized E2LSH kernel of q_e2lsh_pairs, each
against numpy."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry
from lsh_cascade_poc_spark.embedding.e2lsh import (
    e2lsh_buckets_quantized_numpy,
    e2lsh_candidate_pairs,
    explode_e2lsh_buckets,
    make_e2lsh_params,
    make_e2lsh_quantized_udf,
    quantize_e2lsh_params,
)
from lsh_cascade_poc_spark.embedding.itq import itq_fit

DIM = 64


def _unit(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


@pytest.fixture(scope="module")
def vectors():
    # seeded corpus like tests/conftest.py:16-22 of the reference
    rng = np.random.default_rng(42)
    return _unit(rng, 100)


@pytest.fixture(scope="module")
def emb_df(spark, vectors):
    pdf = pd.DataFrame({
        "vec_id": range(len(vectors)),
        "embedding": [list(map(float, v)) for v in vectors],
    })
    return spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").cache()


def _signbit_numpy(vectors: np.ndarray) -> np.ndarray:
    """The signbit fingerprint the driver queries compute in SQL
    (_SPARK_SIGNBIT): bit i = embedding[i] > 0, packed into one int64."""
    bits = (vectors > 0).astype(np.uint64)
    return (bits << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64).astype(np.int64)


def _popcount(x) -> int:
    return bin(int(x) & 0xFFFFFFFFFFFFFFFF).count("1")


def _near_copies(v: np.ndarray, scales, seed: int) -> np.ndarray:
    """Unit vectors at increasing distance from v (noise of norm `scale`)."""
    rng = np.random.default_rng(seed)
    out = []
    for scale in scales:
        n = rng.standard_normal(DIM).astype(np.float32)
        u = v + scale * n / np.linalg.norm(n)
        out.append(u / np.linalg.norm(u))
    return np.stack(out).astype(np.float32)


def test_hyperplane_determinism_and_shapes(vectors):
    """The seeded projections the vector kernels hash with: E2LSH lines
    (q_e2lsh_pairs) and the ITQ PCA basis (q_itq_codes)."""
    a = make_e2lsh_params(DIM, k=4, n_tables=3, w=1.0, seed=42)
    b = make_e2lsh_params(DIM, k=4, n_tables=3, w=1.0, seed=42)
    c = make_e2lsh_params(DIM, k=4, n_tables=3, w=1.0, seed=7)
    assert a.a.shape == (3, 4, DIM) and a.b.shape == (3, 4)
    assert (a.n_tables, a.k) == (3, 4)
    assert np.array_equal(a.a, b.a) and np.array_equal(a.b, b.b)
    assert not np.array_equal(a.a, c.a)
    assert ((a.b >= 0) & (a.b < a.w)).all()  # offsets uniform on [0, w)
    m = itq_fit(vectors, 32, n_iter=5, seed=42)
    p = m.pca.astype(np.float64)
    assert p.shape == (DIM, 32)
    assert np.allclose(p.T @ p, np.eye(32), atol=1e-4)  # orthonormal basis


def test_vector_simhash_metric_properties(spark, vectors):
    # similar vectors -> Hamming < 16/64 (test_lsh.py:33-49's 32/128);
    # unrelated vectors -> mid band (test_lsh.py:51-64's 40..88 of 128)
    v = vectors[0]
    noise = np.random.default_rng(1).standard_normal(DIM).astype(np.float32) * 0.05
    similar = v + noise
    similar /= np.linalg.norm(similar)
    df = spark.createDataFrame(
        [(i, list(map(float, u))) for i, u in enumerate([v, similar, vectors[1]])],
        "vec_id long, embedding array<float>",
    )
    h = [r.h for r in df.select("vec_id", F.expr(entry._SPARK_SIGNBIT).alias("h"))
         .orderBy("vec_id").collect()]
    d_sim = _popcount(h[0] ^ h[1])
    d_other = _popcount(h[0] ^ h[2])
    assert d_sim < 16
    assert 20 < d_other < 44


def test_vector_simhash_udf_matches_numpy(spark, emb_df, vectors):
    """The signbit fingerprint: Spark's expression == numpy == DuckDB's
    oracle expression, bit 63 (long-min) included."""
    import duckdb

    rows = emb_df.select("vec_id", F.expr(entry._SPARK_SIGNBIT).alias("h")) \
        .orderBy("vec_id").collect()
    got = np.array([r.h for r in rows], dtype=np.int64)
    want = _signbit_numpy(vectors)
    assert np.array_equal(got, want)
    assert (want < 0).any()  # bit 63 set somewhere

    pdf = pd.DataFrame({"vec_id": range(len(vectors)),
                        "embedding": [list(map(float, v)) for v in vectors]})
    con = duckdb.connect()
    con.register("pdf", pdf)
    duck = con.execute(
        f"SELECT {entry._DUCK_SIGNBIT} FROM"
        " (SELECT vec_id, embedding::FLOAT[] AS embedding FROM pdf)"
        " ORDER BY vec_id"
    ).fetchall()
    assert np.array_equal(np.array([r[0] for r in duck], dtype=np.int64), want)


def test_multiprobe_keys(spark, vectors, write_embeddings):
    """q_multiprobe_hamming: probe keys are the query's four 16-bit band
    keys plus every single-bit flip, so the candidates are exactly the
    docs within Hamming 1 of the query in some band (verified <= 24)."""
    corpus = np.concatenate([vectors, _near_copies(vectors[7], [0.1, 0.3, 0.5, 0.7], 3)])
    got = {(r.vec_id, r.hamming)
           for r in entry.q_multiprobe_hamming(spark, write_embeddings(corpus)).collect()}
    h = _signbit_numpy(corpus)
    q = int(h[7]) & 0xFFFFFFFFFFFFFFFF

    def band(x, i):
        return ((int(x) & 0xFFFFFFFFFFFFFFFF) >> (16 * i)) & 0xFFFF

    want, exact = set(), set()
    for d in range(len(corpus)):
        ham = _popcount(h[d] ^ h[7])
        if d == 7 or ham > 24:
            continue
        flips = [_popcount(band(h[d], i) ^ band(q, i)) for i in range(4)]
        if min(flips) <= 1:
            want.add((d, ham))
        if min(flips) == 0:
            exact.add(d)
    assert got == want
    assert (100, _popcount(h[100] ^ h[7])) in got  # the nearest planted copy
    assert exact <= {d for d, _ in got}


def test_itq_roundtrip_and_properties(vectors):
    model = itq_fit(vectors, 64, n_iter=20, seed=42)
    r = model.rotation.astype(np.float64)
    assert np.allclose(r @ r.T, np.eye(64), atol=1e-4)  # rotation orthogonal
    # the reference transform order (center -> PCA-project -> rotate ->
    # sign) that q_itq_codes folds into SQL literals
    codes = ((vectors - model.mean) @ model.pca @ model.rotation) >= 0
    assert codes.shape == (100, 64)
    # determinism
    again = itq_fit(vectors, 64, n_iter=20, seed=42)
    for a, b in ((model.mean, again.mean), (model.pca, again.pca),
                 (model.rotation, again.rotation)):
        assert np.array_equal(a, b)


def test_itq_udf_matches_numpy(spark, vectors, write_embeddings):
    """q_itq_codes' SQL fold == the same sequential double fold in numpy
    over the same 6-decimal literals, and agrees with the unrounded
    reference transform on all but boundary bits."""
    from decimal import ROUND_HALF_UP, Decimal

    got = {r.vec_id: r.itq_code
           for r in entry.q_itq_codes(spark, write_embeddings(vectors)).collect()}
    w, c = entry._itq64_fold_model(vectors)
    w_lit = [[float(f"{x:.6f}") for x in w[:, j]] for j in range(64)]
    c_lit = [float(f"{x:.6f}") for x in c]

    def bit(v, j):
        acc = 0.0
        for x, y in zip(v, w_lit[j]):
            acc += float(x) * y
        # Spark's round(double, 6): HALF_UP on the double's decimal string
        return Decimal(repr(acc - c_lit[j])).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP) >= 0

    def pack(bits):
        return sum((-(1 << 63) if j == 63 else 1 << j) for j in range(64) if bits[j])

    want = {i: pack([bit(v, j) for j in range(64)]) for i, v in enumerate(vectors)}
    assert got == want

    m = itq_fit(vectors, 64, n_iter=25, seed=42)
    ref = ((vectors - m.mean) @ m.pca @ m.rotation) >= 0
    sql = np.array([[(want[i] >> j) & 1 for j in range(64)] for i in range(len(vectors))])
    assert (sql == ref).mean() > 0.99


def test_fit_itq_on_dataframe(spark, emb_df, vectors):
    """The driver's fit matrix is the vec_id-ordered float32 embeddings,
    whatever the partitioning, and folds to a (dim, 64) model."""
    x = entry._itq_fit_matrix(emb_df.repartition(3))
    assert x.dtype == np.float32 and np.array_equal(x, vectors)
    w, c = entry._itq64_fold_model(x)
    assert w.shape == (DIM, 64) and c.shape == (64,)


def test_e2lsh_batch_udf_matches_numpy(spark, emb_df, vectors):
    params = make_e2lsh_params(DIM, k=4, n_tables=3, w=1.0, seed=42)
    qa, qb, qw = quantize_e2lsh_params(params)
    want = e2lsh_buckets_quantized_numpy(vectors, qa, qb, qw)
    rows = emb_df.select("vec_id", make_e2lsh_quantized_udf(params)("embedding").alias("b")) \
        .orderBy("vec_id").collect()
    got = np.array([r.b for r in rows], dtype=np.int32)
    assert got.shape == (len(vectors), 3, 4)
    assert np.array_equal(got, want)


def test_e2lsh_candidates_and_collision_prob(spark, vectors):
    """The bucket join q_e2lsh_pairs runs pairs exactly the ids sharing a
    bucket tuple in some table; identical vectors (distance 0, collision
    probability 1) pair in every table."""
    corpus = np.concatenate([vectors, vectors[:5]])
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(corpus)),
                      "embedding": [list(map(float, v)) for v in corpus]}),
        schema="vec_id long, embedding array<float>",
    )
    params = make_e2lsh_params(DIM, k=2, n_tables=4, w=4.0, seed=1)
    buckets = df.select("vec_id", make_e2lsh_quantized_udf(params)("embedding").alias("b"))
    table = explode_e2lsh_buckets(buckets, "b")
    assert table.columns == ["vec_id", "table_id", "bucket_key"]
    pairs = {(r.id_a, r.id_b) for r in e2lsh_candidate_pairs(table).collect()}
    qa, qb, qw = quantize_e2lsh_params(params)
    b = e2lsh_buckets_quantized_numpy(corpus, qa, qb, qw)
    n = len(corpus)
    assert pairs == {
        (i, j) for i in range(n) for j in range(i + 1, n)
        if any((b[i, t] == b[j, t]).all() for t in range(4))
    }
    assert len(pairs) > 5  # wide w -> collisions beyond the planted copies
    for i in range(5):
        assert (i, 100 + i) in pairs
        assert (b[i] == b[100 + i]).all()


@pytest.fixture(scope="module")
def clustered_vectors():
    """12 planted clusters x 12 points with small noise — real neighbors
    have high cosine (random vectors have near-orthogonal 'neighbors', which
    no LSH can recall; the reference's recall numbers are on real
    embeddings) — plus exact copies of vec_id 0..2, the queries of
    q_cascade_topk."""
    rng = np.random.default_rng(7)
    centers = _unit(rng, 12)
    pts = []
    for c in centers:
        # noise of fixed norm 0.25 so within-cluster cosine ~0.95 — every
        # top-5 neighbor is in-cluster
        for _ in range(12):
            n = rng.standard_normal(DIM).astype(np.float32)
            n = 0.25 * n / np.linalg.norm(n)
            v = c + n
            pts.append(v / np.linalg.norm(v))
    pts = np.stack(pts).astype(np.float32)
    return np.concatenate([pts, pts[:3]])


def test_cascade_search_self_query_and_recall(spark, clustered_vectors, write_embeddings):
    """q_cascade_topk: a query's exact copy comes back first with cosine ~1
    (test_pipeline.py:106-124's self-query; the query itself is excluded),
    cosines are ranked, and recall vs brute-force q_cosine_topk >= 0.8."""
    sf = write_embeddings(clustered_vectors)
    n_base = len(clustered_vectors) - 3
    res = entry.q_cascade_topk(spark, sf).collect()
    for qid in range(3):
        rows = sorted((r for r in res if r.query_id == qid), key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        assert rows[0].doc_id == n_base + qid and rows[0].cosine > 0.99
        cos = [r.cosine for r in rows]
        assert cos == sorted(cos, reverse=True)

    pred = {(r.query_id, r.doc_id) for r in res}
    gt = {(r.query_id, r.doc_id) for r in entry.q_cosine_topk(spark, sf).collect()}
    assert len(gt) == 15
    rec = len(pred & gt) / len(gt)
    assert rec >= 0.8, rec


def test_pivot_filter_triangle_inequality(spark, vectors, write_embeddings):
    """q_pivot_prefilter keeps exactly the docs whose pivot distances all
    lie within 8 of the query's, so (triangle inequality) it never drops
    a doc within Hamming 8 of the query, and it prunes the rest."""
    corpus = np.concatenate([vectors, _near_copies(vectors[42], [0.02, 0.05, 0.1, 0.3], 5)])
    kept = {r.vec_id: r.max_dev
            for r in entry.q_pivot_prefilter(spark, write_embeddings(corpus)).collect()}
    h = _signbit_numpy(corpus)
    pivots, q = h[:8], h[42]
    dev = {d: max(abs(_popcount(h[d] ^ p) - _popcount(q ^ p)) for p in pivots)
           for d in range(len(corpus))}
    assert kept == {d: m for d, m in dev.items() if m <= 8}
    assert kept[42] == 0  # the query itself always survives
    near = [d for d in range(len(corpus)) if d != 42 and _popcount(h[d] ^ q) <= 8]
    assert near  # the planted near copies
    assert set(near) <= set(kept)
    assert len(kept) < len(corpus)


def test_hamming_topn_contains_self(spark, vectors, write_embeddings):
    """q_hamming_topk == brute-force top-10 by (Hamming, doc_id) per query;
    a query's exact copy ranks first at distance 0."""
    corpus = np.concatenate([vectors, vectors[:3]])
    rows = entry.q_hamming_topk(spark, write_embeddings(corpus)).collect()
    h = _signbit_numpy(corpus)
    for qid in range(5):
        got = sorted((r.rank, r.doc_id, r.hamming) for r in rows if r.query_id == qid)
        ham = sorted((_popcount(h[qid] ^ h[d]), d) for d in range(len(corpus)) if d != qid)
        assert got == [(i + 1, d, hd) for i, (hd, d) in enumerate(ham[:10])]
        if qid < 3:
            assert got[0][1:] == (100 + qid, 0)


def _e2lsh_buckets_float32(vectors, params):
    """The float32 form of the reference hash, floor((a.v + b) / w)
    (src/e2lsh.py:75-147): (n, dim) -> (n, L, k) int32."""
    av = np.einsum("lkd,nd->nlk", params.a, vectors.astype(np.float32))
    return np.floor((av + params.b[None, :, :]) / params.w).astype(np.int32)


def test_e2lsh_quantized_kernel(spark, emb_df, vectors):
    """The fixed-point E2LSH kernel (r5, VERDICT r4 #4): UDF == numpy
    bit-exactly, buckets are genuine floors (negative-side check), and the
    quantized grid stays within one bucket of the float32 hash."""
    import math

    params = make_e2lsh_params(vectors.shape[1], k=3, n_tables=2, w=2.0, seed=7)
    qa, qb, qw = quantize_e2lsh_params(params)
    want = e2lsh_buckets_quantized_numpy(vectors.astype(np.float32), qa, qb, qw)
    rows = emb_df.select(
        "vec_id", make_e2lsh_quantized_udf(params)("embedding").alias("b")
    ).orderBy("vec_id").collect()
    got = np.array([r.b for r in rows], dtype=np.int32)
    assert np.array_equal(got, want)

    # floor (not truncation) on the negative side: exact rational cross-check
    S = 1_000_000
    neg = -vectors[:5]
    qx = np.floor(neg.astype(np.float64) * S + 0.5).astype(np.int64)
    b = e2lsh_buckets_quantized_numpy(neg.astype(np.float32), qa, qb, qw)
    for n in range(5):
        for line in range(2):
            for j in range(3):
                num = int(np.dot(qa[line, j], qx[n])) + int(qb[line, j]) * S
                assert b[n, line, j] == math.floor(num / (qw * S)) == num // (qw * S)

    # the 1e-6 grid can only move a projection across a floor boundary by
    # ~dim*1e-6/w — quantized and float32 buckets agree except at boundaries
    f32 = _e2lsh_buckets_float32(vectors, params)
    assert np.abs(f32.astype(np.int64) - want.astype(np.int64)).max() <= 1
    assert (f32 == want).mean() > 0.99
