"""ITQ-LSH: the iterative-quantization fit (H9/H10/H11).

Reference parity:
  - ITQLSH.fit        /root/reference/src/itq_lsh.py:50-122
    (center -> PCA via eigh of covariance -> 50-iteration Procrustes rotation)

Algorithm from the public ITQ paper (Gong & Lazebnik, CVPR'11). The fit is
driver-side numpy on a bounded matrix (like the reference's <=10k-row
fits). The transform (ITQLSH.transform, src/itq_lsh.py:130-161: center ->
PCA-project -> rotate -> sign) is SQL: `__spark_entry__.q_itq_codes` folds
`pca @ rotation` and `mean` into literals, bit j of the code is 1 << j.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class ITQModel:
    mean: np.ndarray       # (dim,)
    pca: np.ndarray        # (dim, n_bits)
    rotation: np.ndarray   # (n_bits, n_bits)


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
