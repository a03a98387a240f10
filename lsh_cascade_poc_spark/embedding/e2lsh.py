"""E2LSH: p-stable (Gaussian) LSH for Euclidean distance (H12, F3).

Reference parity:
  - E2LSHHasher.hash_batch_all_tables  /root/reference/src/e2lsh.py:75-147
    (floor((a.v + b) / w) per k functions x L tables)
  - E2LSHIndex.query                   /root/reference/src/e2lsh.py:266-319

The kernel is the fixed-point QUANTIZED form of the reference hash (exact
int64 arithmetic on a 1e-6 grid), so its buckets are reproducible in SQL
(`__spark_entry__.q_e2lsh_pairs` carries a DuckDB oracle). The reference's
multiprobe keys (src/e2lsh.py:176-221) are `q_e2lsh_multiprobe`'s integer
perturbations. The L dict hash tables become one exploded DataFrame
(table_id, bucket_key, vec_id) joined on (table_id, bucket_key) — the same
shuffle-join layout as MinHash bands. Bucket tuples (k ints) are reduced to
one int64 key by hashing lane-wise with xxhash64 JVM-side after the UDF
emits the raw (L, k) int buckets.
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
class E2LSHParams:
    a: np.ndarray   # (L, k, dim) float32
    b: np.ndarray   # (L, k) float32
    w: float

    @property
    def n_tables(self) -> int:
        return self.a.shape[0]

    @property
    def k(self) -> int:
        return self.a.shape[1]


def make_e2lsh_params(dim: int, k: int, n_tables: int, w: float, seed: int = 42) -> E2LSHParams:
    rng = np.random.default_rng(seed)
    a = rng.standard_normal((n_tables, k, dim)).astype(np.float32)
    b = (rng.random((n_tables, k)) * w).astype(np.float32)
    return E2LSHParams(a=a, b=b, w=float(w))


# fixed-point scale (1e-6 grid) for the cross-engine-exact E2LSH variant
E2LSH_QUANT_SCALE = 1_000_000


def _quantize_fixed(x: np.ndarray, scale: int) -> np.ndarray:
    """Round-half-up fixed-point image of x: floor(x * scale + 0.5) — chosen
    over rint because floor() has identical semantics in numpy and in SQL
    engines, while rint's half-to-even disagrees with SQL round()."""
    return np.floor(x.astype(np.float64) * scale + 0.5).astype(np.int64)


def quantize_e2lsh_params(
    params: E2LSHParams, scale: int = E2LSH_QUANT_SCALE
) -> tuple[np.ndarray, np.ndarray, int]:
    """(qa, qb, qw): fixed-point images of (a, b, w) on the 1/scale grid."""
    qa = _quantize_fixed(params.a, scale)
    qb = _quantize_fixed(params.b, scale)
    qw = int(np.floor(params.w * scale + 0.5))
    assert qw > 0, "w must be positive"
    return qa, qb, qw


def e2lsh_buckets_quantized_numpy(
    vectors: np.ndarray, qa: np.ndarray, qb: np.ndarray, qw: int,
    scale: int = E2LSH_QUANT_SCALE,
) -> np.ndarray:
    """(n, dim) float -> (n, L, k) int32 buckets in EXACT int64 arithmetic:

        bucket = floor((<a,x> + b) / w)  on the 1/scale quantized grid
               = floordiv(<qa,qx> + qb*scale, qw*scale)

    Every step is order-insensitive integer math, so the bucket ids are
    bit-identical in ANY engine with 64-bit integers — the property a
    float32 kernel fundamentally lacks (its dot-accumulation order decides
    boundary floors; VERDICT r4 #4). Magnitude budget: |qa| <= ~6e6 for
    N(0,1) projections, |qx| <= scale * max|x| — int64 holds the dot for
    dim * 6e6 * scale * max|x| < 9.2e18, i.e. max|x| < ~23 at dim=64."""
    qx = _quantize_fixed(vectors, scale)
    dot = np.einsum("lkd,nd->nlk", qa, qx)
    num = dot + qb[None, :, :] * scale
    return np.floor_divide(num, qw * scale).astype(np.int32)


def make_e2lsh_quantized_udf(params: E2LSHParams, scale: int = E2LSH_QUANT_SCALE):
    """pandas_udf: array<float> -> array<array<int>> (L tables x k ints),
    one Arrow batch per call, feeding explode_e2lsh_buckets."""
    qa, qb, qw = quantize_e2lsh_params(params, scale)

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.IntegerType())))
    def e2lsh_q(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            x = np.stack([np.asarray(v, dtype=np.float32) for v in s])
            buckets = e2lsh_buckets_quantized_numpy(x, qa, qb, qw, scale)
            yield pd.Series(
                [[list(map(int, tbl)) for tbl in row] for row in buckets]
            )

    return e2lsh_q


def explode_e2lsh_buckets(df: DataFrame, buckets_col: str, id_col: str = "vec_id") -> DataFrame:
    """-> (id, table_id, bucket_key:int64) — the reference's L dict tables as
    one exploded relation; bucket tuple hashed to a single join key JVM-side."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.col(buckets_col)).alias("table_id", "bucket"),
    ).select(
        F.col(id_col),
        "table_id",
        F.xxhash64("table_id", "bucket").alias("bucket_key"),
    )


def e2lsh_candidate_pairs(bucket_table: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """F3 all-pairs form: ids sharing any (table, bucket)."""
    a = bucket_table.select("table_id", "bucket_key", F.col(id_col).alias("id_a"))
    b = bucket_table.select("table_id", "bucket_key", F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["table_id", "bucket_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
