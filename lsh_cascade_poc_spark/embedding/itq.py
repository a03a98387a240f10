"""ITQ-LSH: iterative-quantization binary codes (H9/H10/H11) + whitening (H15).

Reference parity:
  - ITQLSH.fit        /root/reference/src/itq_lsh.py:50-122
    (center -> PCA via eigh of covariance -> 50-iteration Procrustes rotation)
  - ITQLSH.transform  /root/reference/src/itq_lsh.py:130-161
  - EmbeddingWhitener /root/reference/src/whitening.py:34-113
  - isotropy score    /root/reference/src/whitening.py:148-176

Algorithm from the public ITQ paper (Gong & Lazebnik, CVPR'11). Fit is
driver-side numpy on a bounded sample (df.sample().toPandas(), like the
reference's <=10k-row fits); transform is an Arrow pandas_udf with the
(mean, pca, rotation) float32 blobs closure-captured.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class ITQModel:
    mean: np.ndarray       # (dim,)
    pca: np.ndarray        # (dim, n_bits)
    rotation: np.ndarray   # (n_bits, n_bits)

    @property
    def n_bits(self) -> int:
        return self.pca.shape[1]


def itq_fit(x: np.ndarray, n_bits: int, n_iter: int = 50, seed: int = 42) -> ITQModel:
    x = x.astype(np.float64)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = xc.T @ xc / max(1, xc.shape[0] - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:n_bits]
    pca = eigvecs[:, order]                      # (dim, n_bits)
    v = xc @ pca                                 # (n, n_bits)

    rng = np.random.default_rng(seed)
    r = np.linalg.qr(rng.standard_normal((n_bits, n_bits)))[0]
    for _ in range(n_iter):
        z = v @ r
        b = np.where(z >= 0, 1.0, -1.0)
        u, _, vt = np.linalg.svd(b.T @ v)
        r = (u @ vt).T                           # orthogonal Procrustes update
    return ITQModel(mean=mean.astype(np.float32),
                    pca=pca.astype(np.float32),
                    rotation=r.astype(np.float32))


def itq_transform_numpy(x: np.ndarray, model: ITQModel) -> np.ndarray:
    """(n, dim) -> (n, n_bits) uint8 codes (0/1), reference transform order:
    center -> PCA-project -> rotate -> sign."""
    z = (x.astype(np.float32) - model.mean) @ model.pca @ model.rotation
    return (z >= 0).astype(np.uint8)


def codes_to_lanes(codes: np.ndarray) -> np.ndarray:
    """(n, n_bits) 0/1 -> (n, n_bits//64) int64 lanes (H11 bits->int pack)."""
    n, n_bits = codes.shape
    assert n_bits % 64 == 0
    lanes = np.zeros((n, n_bits // 64), dtype=np.uint64)
    u = codes.astype(np.uint64)
    for lane in range(n_bits // 64):
        chunk = u[:, lane * 64 : (lane + 1) * 64]
        lanes[:, lane] = (chunk << np.arange(64, dtype=np.uint64)[None, :]).sum(
            axis=1, dtype=np.uint64
        )
    return lanes.astype(np.int64)


def fit_itq_on_dataframe(
    df: DataFrame, vec_col: str, n_bits: int,
    sample_rows: int = 10_000, n_iter: int = 50, seed: int = 42,
    order_col: str | None = None,
) -> ITQModel:
    """Bounded driver-side fit on a DETERMINISTIC sample: rows are ordered by
    `order_col` (or by xxhash64 of the vector itself — a partition-independent
    pseudo-random but stable order) before the limit, so the fitted model is
    identical across partitionings/parallelism levels (r1 used a bare limit,
    which is partitioning-dependent)."""
    key = F.col(order_col) if order_col else F.xxhash64(F.col(vec_col))
    frac_df = df.select(F.col(vec_col), key.alias("_ord")) \
        .orderBy("_ord").limit(sample_rows).select(vec_col)
    pdf = frac_df.toPandas()
    x = np.stack([np.asarray(v, dtype=np.float32) for v in pdf[vec_col]])
    return itq_fit(x, n_bits, n_iter=n_iter, seed=seed)


# --- S10: model persistence (save/load) --------------------------------------
# Reference analogs: ITQLSH.save/load (/root/reference/src/itq_lsh.py:204-237),
# EmbeddingWhitener save/load (/root/reference/src/whitening.py:115-140),
# DFLSH save/load (/root/reference/src/dflsh.py:264-289). npz keeps exact
# float32 blobs, so a loaded model emits bit-identical codes.

def save_itq_model(model: ITQModel, path: str) -> None:
    np.savez(path, mean=model.mean, pca=model.pca, rotation=model.rotation)


def load_itq_model(path: str) -> ITQModel:
    z = np.load(path if path.endswith(".npz") else path + ".npz")
    return ITQModel(mean=z["mean"], pca=z["pca"], rotation=z["rotation"])


def save_whiten_model(model: "WhitenModel", path: str) -> None:
    np.savez(path, mean=model.mean, w=model.w)


def load_whiten_model(path: str) -> "WhitenModel":
    z = np.load(path if path.endswith(".npz") else path + ".npz")
    return WhitenModel(mean=z["mean"], w=z["w"])


def make_itq_udf(model: ITQModel):
    """pandas_udf: array<float> -> array<long> ITQ code lanes."""
    mean, pca, rot = model.mean, model.pca, model.rotation

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def itq_code(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = ITQModel(mean=mean, pca=pca, rotation=rot)
        for s in it:
            x = np.stack([np.asarray(v, dtype=np.float32) for v in s])
            lanes = codes_to_lanes(itq_transform_numpy(x, m))
            yield pd.Series(list(lanes))

    return itq_code


# --- whitening (H15) --------------------------------------------------------

@dataclass
class WhitenModel:
    mean: np.ndarray
    w: np.ndarray  # (dim, dim) whitening matrix U diag(1/sqrt(s)) U^T


def whitening_fit(x: np.ndarray, eps: float = 1e-8) -> WhitenModel:
    x = x.astype(np.float64)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = xc.T @ xc / max(1, xc.shape[0] - 1)
    u, s, _ = np.linalg.svd(cov)
    w = u @ np.diag(1.0 / np.sqrt(s + eps)) @ u.T
    return WhitenModel(mean=mean.astype(np.float32), w=w.astype(np.float32))


def whitening_transform_numpy(x: np.ndarray, model: WhitenModel,
                              renormalize: bool = True) -> np.ndarray:
    z = (x.astype(np.float32) - model.mean) @ model.w
    if renormalize:
        n = np.linalg.norm(z, axis=1, keepdims=True)
        n[n == 0] = 1.0
        z = z / n
    return z.astype(np.float32)


def isotropy_score(x: np.ndarray) -> float:
    """Eigenvalue condition-number-based isotropy diagnostic (H16):
    min(eig)/max(eig) of the covariance — 1.0 is perfectly isotropic."""
    xc = x.astype(np.float64) - x.mean(axis=0)
    cov = xc.T @ xc / max(1, xc.shape[0] - 1)
    eig = np.linalg.eigvalsh(cov)
    return float(eig.min() / eig.max()) if eig.max() > 0 else 0.0


def compute_embedding_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 1000,
    seed: int = 42,
) -> dict:
    """H16-b: sampled cosine-similarity distribution diagnostic (reference
    compute_embedding_stats, src/loader_comparison.py:143-179).

    The reference samples `sample_size` random index pairs from an in-memory
    (n, dim) matrix. Here the corpus is a DataFrame that may not fit anywhere,
    so the sampling is re-expressed scale-safely: a bounded POOL of
    2*sample_size vectors is drawn in deterministic xxhash64(id, seed) order
    (a top-K TakeOrdered over the scan — no global sort, no full-corpus
    window or collect; the hash order is a seeded pseudo-random permutation,
    so the pool is a uniform sample for exchangeable rows and identical
    across partitionings), then the reference's seeded pair-index draw and
    statistics run verbatim on that pool. Unlike the reference — which
    assumes pre-normalized embeddings and uses a raw dot product — the
    cosine here divides by the norms, so the diagnostic is meaningful for
    un-normalized inputs too (identical for normalized ones)."""
    n = int(df.count())
    if n == 0:
        raise ValueError("compute_embedding_stats: empty DataFrame")
    pool_rows = min(n, 2 * sample_size)
    pool = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(pool_rows)
        .toPandas()
    )
    x = np.stack([np.asarray(v, dtype=np.float32) for v in pool[vec_col]])

    rng = np.random.default_rng(seed)
    idx1 = rng.integers(0, len(x), size=sample_size)
    idx2 = rng.integers(0, len(x), size=sample_size)
    a, b = x[idx1].astype(np.float64), x[idx2].astype(np.float64)
    norms = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    cos = np.where(norms > 0, np.sum(a * b, axis=1) / np.where(norms > 0, norms, 1.0), 0.0)
    return {
        "n_vectors": n,
        "dim": int(x.shape[1]),
        "cos_sim_mean": float(np.mean(cos)),
        "cos_sim_std": float(np.std(cos)),
        "cos_sim_min": float(np.min(cos)),
        "cos_sim_max": float(np.max(cos)),
        "cos_sim_median": float(np.median(cos)),
    }
