"""Output checks. A job whose output fails one counts as failed. They
recompute what they need (components, planted pairs) without the program's
own operators, so a defect there cannot hide itself."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

MIN_RECALL = 0.99

_PLANTED = re.compile(r"^(conv\d+)_dup\d+_([a-z]+)$")


def dup_pairs_checksum(dup_pairs) -> tuple[int, int]:
    """(bit_xor of xxhash64 over the rows, row count) of a Spark DataFrame:
    order-independent, so identical outputs read identical."""
    from pyspark.sql import functions as F

    row = dup_pairs.agg(
        F.coalesce(F.bit_xor(F.xxhash64("id_a", "id_b", "jaccard")),
                   F.lit(0)).alias("chk"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(row.chk), int(row.n)


def cluster_problems(clusters: pd.DataFrame, dup_pairs: pd.DataFrame,
                     n_docs: int) -> list[str]:
    """Structural checks of a batch job's (clusters, dup_pairs) output."""
    problems = []
    if len(clusters) != n_docs or clusters["doc_id"].duplicated().any():
        problems.append("not exactly one cluster per doc")
    mins = clusters.groupby("cluster_id")["doc_id"].min()
    if (mins.index.to_numpy() != mins.to_numpy()).any():
        problems.append("cluster_id is not the minimum member doc_id")
    edges = dup_pairs[dup_pairs["jaccard"] >= 0]
    cid = clusters.set_index("doc_id")["cluster_id"]
    ca = cid.reindex(edges["id_a"]).to_numpy()
    cb = cid.reindex(edges["id_b"]).to_numpy()
    if np.isnan(ca.astype(float)).any() or (ca != cb).any():
        problems.append("a clustering edge spans two clusters")
    return problems


class UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        parent = self.parent
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def components(edges: pd.DataFrame, doc_ids) -> pd.DataFrame:
    """(doc_id, cluster_id = min member doc_id) over every doc in
    `doc_ids`, from an (id_a, id_b) edge list."""
    uf = UnionFind()
    for a, b in zip(edges["id_a"].tolist(), edges["id_b"].tolist()):
        uf.union(a, b)
    ids = [int(d) for d in doc_ids]
    return pd.DataFrame({"doc_id": ids,
                         "cluster_id": [uf.find(d) for d in ids]},
                        dtype="int64")


def planted_exact_pairs(docs: pd.DataFrame) -> list[tuple[int, int]]:
    """(base doc_id, variant doc_id) for planted exact and whitespace
    variants whose base conversation is present."""
    by_conv = dict(zip(docs["conv_id"], docs["doc_id"]))
    out = []
    for conv, doc in by_conv.items():
        m = _PLANTED.match(conv)
        if m and m.group(2) in ("exact", "whitespace") and m.group(1) in by_conv:
            out.append((int(by_conv[m.group(1)]), int(doc)))
    return out


def unevidenced(pairs, dup_pairs: pd.DataFrame) -> int:
    """How many of `pairs` the dup_pairs edges (any evidence) leave
    unconnected."""
    uf = UnionFind()
    for a, b in zip(dup_pairs["id_a"].tolist(), dup_pairs["id_b"].tolist()):
        uf.union(a, b)
    return sum(uf.find(a) != uf.find(b) for a, b in pairs)
