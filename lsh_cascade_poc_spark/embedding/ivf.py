"""IVF (inverted-file) approximate nearest-neighbour: the k-means coarse
quantizer fit.

No direct reference analog (the reference's scale paths are LSH bands and
the Overlap segment index); IVF is the standard third option a
training-data pipeline expects: partition the corpus into Voronoi cells of
a small k-means codebook, search only the cells nearest to each query.

The fit is driver-side numpy Lloyd's k-means on a bounded deterministic
matrix. Cell assignment and the probe/rerank are SQL:
`__spark_entry__._ivf_base` folds the centroids into literals, and
`q_ivf_topk` / `q_semantic_dedup` join on the home cell.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class IVFModel:
    centroids: np.ndarray  # (k, dim) float32, L2-normalized


def ivf_fit(x: np.ndarray, n_cells: int, n_iter: int = 20, seed: int = 42) -> IVFModel:
    """Lloyd's k-means with cosine assignment (vectors and centroids are
    L2-normalized, so argmax dot == argmin angle). Deterministic from seed."""
    x = np.asarray(x, dtype=np.float32)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    xn = x / norms
    rng = np.random.default_rng(seed)
    k = min(n_cells, xn.shape[0])
    cent = xn[rng.choice(xn.shape[0], size=k, replace=False)].copy()
    for _ in range(n_iter):
        sims = xn @ cent.T                       # (n, k)
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = xn[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return IVFModel(centroids=cent.astype(np.float32))
