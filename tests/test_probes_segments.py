"""F5 confidence multiprobe, H13 E2LSH multiprobe, H18 overlap segments and
the driver-side ITQ/IVF fits: the probe-key and segment expressions the
driver queries run (q_confidence_multiprobe, q_e2lsh_multiprobe,
q_overlap_segments, q_ivf_topk), in parity with numpy references."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import __spark_entry__ as entry
from lsh_cascade_poc_spark.embedding.confidence import (
    confidence_probes_numpy,
    explode_confidence_probes,
)
from lsh_cascade_poc_spark.embedding.itq import itq_fit
from lsh_cascade_poc_spark.embedding.vector_hash import explode_overlap_segments

N_BITS = 128
BAND_BITS = 8
DIM = 32


def generate_random_hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    """(n_bits, dim) float32 Gaussian hyperplanes (reference
    generate_random_hyperplanes, src/lsh.py:29-43)."""
    return np.random.default_rng(seed).standard_normal((n_bits, dim)).astype(np.float32)


def simhash_vectors_numpy(vectors: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, dim) x (n_bits, dim) -> (n, n_bits // 64) int64 SimHash lanes
    (reference SimHashGenerator.hash_batch, src/lsh.py:234-263): bit b =
    planes[b] . v > 0, stored in lane b // 64 at position b % 64."""
    proj = vectors.astype(np.float32) @ planes.T.astype(np.float32)
    n, n_bits = proj.shape
    bits = (proj > 0).astype(np.uint64).reshape(n, n_bits // 64, 64)
    return (bits << np.arange(64, dtype=np.uint64)).sum(
        axis=2, dtype=np.uint64).astype(np.int64)


def make_simhash_confidence_udf(planes: np.ndarray):
    """pandas_udf: embedding -> struct(lanes, proj), the fingerprint plus the
    per-bit projection values (reference transform_with_confidence,
    src/dflsh.py:101-134). Self-contained, so Spark's Python workers need
    not import this test module."""
    p = planes.astype(np.float32)

    @F.pandas_udf(T.StructType([
        T.StructField("lanes", T.ArrayType(T.LongType())),
        T.StructField("proj", T.ArrayType(T.FloatType())),
    ]))
    def simhash_conf(s: pd.Series) -> pd.DataFrame:
        mat = np.stack([np.asarray(v, dtype=np.float32) for v in s])
        proj = mat @ p.T                                  # (n, n_bits)
        n, n_bits = proj.shape
        bits = (proj > 0).astype(np.uint64).reshape(n, n_bits // 64, 64)
        lanes = (bits << np.arange(64, dtype=np.uint64)).sum(
            axis=2, dtype=np.uint64).astype(np.int64)
        return pd.DataFrame({"lanes": list(lanes), "proj": list(proj)})

    return simhash_conf


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.default_rng(7)
    return rng.standard_normal((40, DIM)).astype(np.float32)


@pytest.fixture(scope="module")
def planes():
    return generate_random_hyperplanes(DIM, N_BITS, seed=3)


def _vec_df(spark, vecs):
    pdf = pd.DataFrame({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": [v for v in vecs],
    })
    return spark.createDataFrame(pdf)


def test_confidence_probe_parity(spark, vecs, planes):
    """Spark probe table == numpy reference probe set, per vector."""
    df = _vec_df(spark, vecs)
    udf = make_simhash_confidence_udf(planes)
    coded = df.select(
        "vec_id", udf("embedding").alias("c")
    ).select("vec_id", F.col("c.lanes").alias("lanes"), F.col("c.proj").alias("proj"))
    coded = coded.localCheckpoint(eager=True)

    probes = explode_confidence_probes(
        coded, "lanes", "proj", N_BITS, BAND_BITS, max_probes=4
    ).collect()
    got: dict[int, set] = {}
    for r in probes:
        got.setdefault(r.vec_id, set()).add((r.band_id, r.band_key))

    proj = vecs @ planes.T.astype(np.float32)
    lanes = simhash_vectors_numpy(vecs, planes)
    for i in range(len(vecs)):
        want = confidence_probes_numpy(lanes[i], proj[i], BAND_BITS, max_probes=4)
        assert got[i] == want, f"vec {i}: {got[i] ^ want}"


def test_confidence_probes_superset_and_recall(spark, vecs, planes):
    """Multiprobe candidates are a superset of plain-band candidates; with
    planted near-neighbours the probe pass recovers pairs banding misses."""
    # plant near-duplicates: vector i+0.05*noise for the first 10
    rng = np.random.default_rng(11)
    near = vecs[:10] + 0.08 * rng.standard_normal((10, DIM)).astype(np.float32)
    allv = np.vstack([vecs, near])
    df = _vec_df(spark, allv)
    udf = make_simhash_confidence_udf(planes)
    coded = df.select("vec_id", udf("embedding").alias("c")).select(
        "vec_id", F.col("c.lanes").alias("lanes"), F.col("c.proj").alias("proj")
    ).localCheckpoint(eager=True)

    base = explode_confidence_probes(coded, "lanes", "proj", N_BITS, BAND_BITS, 0)
    multi = explode_confidence_probes(coded, "lanes", "proj", N_BITS, BAND_BITS, 6)
    doc_bands = base  # docs are indexed with plain keys

    def cands(qp):
        return {
            (r.query_id, r.doc_id)
            for r in doc_bands.join(
                qp.withColumnRenamed("vec_id", "query_id"), ["band_id", "band_key"]
            ).filter(F.col("query_id") != F.col("vec_id"))
            .select("query_id", F.col("vec_id").alias("doc_id"))
            .distinct().collect()
        }

    c_base, c_multi = cands(base), cands(multi)
    assert c_base <= c_multi
    # every planted pair (i, 40+i) should be found by SOME tier; multiprobe
    # must not lose any and typically adds coverage
    planted = {(i, 40 + i) for i in range(10)}
    assert len(planted & c_multi) >= len(planted & c_base)


def test_e2lsh_probe_parity_and_superset(spark, write_embeddings):
    """q_e2lsh_multiprobe: its buckets are floor((a.v + b) / w) (numpy, up to
    6-decimal rounding at floor boundaries); queries vec_id < 5 pair with
    exactly the docs whose bucket equals the base bucket or one of its four
    +-1 single-coordinate perturbations in some table — a strict superset
    of the plain bucket-join candidates."""
    # 64-dim, the width the oracle params are drawn at; unnormalized so the
    # projections spread over many w=4 buckets
    x = np.random.default_rng(5).standard_normal((60, 64)).astype(np.float32)
    sf = write_embeddings(x)
    base = entry.q_e2lsh_buckets(spark, sf).collect()
    a, b, w = entry._e2lsh_oracle_params()
    got_b = np.zeros((len(x), a.shape[0], 2), dtype=np.int64)
    for r in base:
        got_b[r.vec_id, r.table_id] = (r.b0, r.b1)
    want_b = np.floor(
        (np.einsum("tkd,nd->ntk", a, x.astype(np.float64)) + b[None]) / w
    ).astype(np.int64)
    assert np.abs(got_b - want_b).max() <= 1
    assert (got_b == want_b).mean() > 0.99

    got = {(r.query_id, r.doc_id)
           for r in entry.q_e2lsh_multiprobe(spark, sf).collect()}
    deltas = [(0, 0), (-1, 0), (1, 0), (0, -1), (0, 1)]
    want, plain = set(), set()
    for q in range(5):
        for d in range(len(x)):
            if d == q:
                continue
            for t in range(a.shape[0]):
                diff = tuple(got_b[d, t] - got_b[q, t])
                if diff in deltas:
                    want.add((q, d))
                if diff == (0, 0):
                    plain.add((q, d))
    assert got == want
    assert plain < got


def test_overlap_segment_parity(spark, vecs, planes):
    """H18 segment keys == numpy sliding-window extraction, INCLUDING windows
    that straddle the 64-bit lane boundary (128-bit code, w=8, s=4)."""
    lanes = simhash_vectors_numpy(vecs, planes)  # (n, 2) lanes
    pdf = pd.DataFrame({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "lanes": [row for row in lanes],
    })
    df = spark.createDataFrame(pdf)
    w, s = 8, 4
    got = {
        (r.vec_id, r.band_id, r.band_key)
        for r in explode_overlap_segments(df, "lanes", N_BITS, w, s).collect()
    }
    # numpy reference: unpack bits lane-wise little-endian, read windows
    want = set()
    for i, row in enumerate(lanes.astype(np.uint64)):
        bits = np.zeros(N_BITS, dtype=np.uint64)
        for ln in range(N_BITS // 64):
            bits[ln * 64:(ln + 1) * 64] = (row[ln] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        for seg in range((N_BITS - w) // s + 1):
            window = bits[seg * s: seg * s + w]
            key = int((window << np.arange(w, dtype=np.uint64)).sum())
            want.add((i, seg, key))
    assert got == want




def test_fit_itq_deterministic_across_partitionings(spark, vecs):
    """The driver's ITQ fit matrix (_itq_fit_matrix) is read in vec_id
    order, so the fitted model does not depend on the physical layout."""
    df1 = _vec_df(spark, vecs).repartition(7)
    df2 = _vec_df(spark, vecs).repartition(2).sortWithinPartitions("embedding")
    x1 = entry._itq_fit_matrix(df1)
    x2 = entry._itq_fit_matrix(df2)
    assert np.array_equal(x1, vecs) and np.array_equal(x2, vecs)
    m1 = itq_fit(x1, 32, n_iter=5, seed=42)
    m2 = itq_fit(x2, 32, n_iter=5, seed=42)
    assert np.array_equal(m1.mean, m2.mean)
    assert np.array_equal(m1.pca, m2.pca)
    assert np.array_equal(m1.rotation, m2.rotation)


def test_ivf_assign_parity_and_full_probe_recall(spark, write_embeddings):
    """q_ivf_topk: the SQL cell assignment == numpy argmax of the rounded
    cosine to the driver-fitted centroids; every result lies in one of
    the query's 4 probed cells; on clustered data the probed cells hold
    the full brute-force top-10 (recall 1.0)."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for c in centers:
        for _ in range(12):  # > top-10 + 1: every true neighbor is in-cluster
            n = rng.standard_normal(64)
            v = c + 0.25 * n / np.linalg.norm(n)
            pts.append(v / np.linalg.norm(v))
    x = np.stack(pts).astype(np.float32)
    sf = write_embeddings(x)

    base = entry._ivf_base(spark, sf)
    cells = {r.vec_id: r.cell
             for r in base.select("vec_id", entry._ivf_cell().alias("cell")).collect()}
    cents = entry._ivf_oracle_centroids(x)
    x64 = x.astype(np.float64)
    sims = np.round((x64 @ cents.T) / np.linalg.norm(x64, axis=1, keepdims=True), 6)
    assert cells == {i: int(np.argmax(sims[i])) for i in range(len(x))}

    res = entry.q_ivf_topk(spark, sf).collect()
    cos = (x64 @ x64.T) / np.outer(np.linalg.norm(x64, axis=1), np.linalg.norm(x64, axis=1))
    hits = 0
    for q in range(5):
        rows = sorted((r for r in res if r.query_id == q), key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, 11))
        probed = set(np.argsort(-sims[q], kind="stable")[:4].tolist())
        assert {cells[r.doc_id] for r in rows} <= probed
        truth = [d for d in np.argsort(-cos[q], kind="stable") if d != q][:10]
        hits += len({r.doc_id for r in rows} & set(truth))
    assert hits / 50 == 1.0
