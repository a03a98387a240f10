"""Connected components vs a union-find oracle (chain / star / forest)."""

from __future__ import annotations

import pytest

from lsh_cascade_poc_spark.operators.components import (
    clusters_with_singletons,
    connected_components,
)
from lsh_cascade_poc_spark.reference_impl import _union_find_clusters


def _check(spark, edges: list[tuple[int, int]], nodes: list[int]):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(df, max_iterations=15).collect()
    }
    want = _union_find_clusters(
        [str(n).zfill(8) for n in nodes],
        {(str(min(a, b)).zfill(8), str(max(a, b)).zfill(8)) for a, b in edges},
    )
    want_int = {int(k): int(v) for k, v in want.items()}
    edge_nodes = {n for e in edges for n in e}
    for n in edge_nodes:
        assert got[n] == want_int[n], (n, got.get(n), want_int[n])


def test_cc_two_components(spark):
    _check(spark, [(1, 2), (2, 3), (4, 5)], [1, 2, 3, 4, 5])


def test_cc_long_chain(spark):
    edges = [(i, i + 1) for i in range(1, 12)]
    _check(spark, edges, list(range(1, 13)))


def test_cc_star_and_cycle(spark):
    edges = [(10, i) for i in range(11, 16)] + [(20, 21), (21, 22), (22, 20)]
    _check(spark, edges, list(range(10, 16)) + [20, 21, 22])


def test_cc_duplicate_and_reversed_edges(spark):
    _check(spark, [(2, 1), (1, 2), (2, 3), (3, 1)], [1, 2, 3])


def test_singletons_added(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    docs = spark.createDataFrame([(1,), (2,), (9,)], "doc_id long")
    cl = clusters_with_singletons(connected_components(pairs), docs)
    got = {r.doc_id: r.cluster_id for r in cl.collect()}
    assert got == {1: 1, 2: 1, 9: 9}


def test_local_finish_matches_distributed_fixpoint(spark):
    """The hybrid driver union-find finish must produce the identical
    cluster partition as the forced fully-distributed star fixpoint."""
    import random

    rng = random.Random(9)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {
        r.doc_id: r.cluster_id
        for r in connected_components(df, local_finish_edges=10**6).collect()
    }
    dist = {
        r.doc_id: r.cluster_id
        for r in connected_components(df, local_finish_edges=0).collect()
    }
    assert local == dist


def test_unconverged_components_raise(spark):
    """Out of star rounds before the fixpoint: fail loudly instead of
    returning a partial contraction as if it were the clustering."""
    edges = [(i, i + 1) for i in range(1, 64)]  # 64-node path
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=2, local_finish_edges=0)
