"""Connected components over the dup-pair graph: cluster assignment.

No reference analog (the reference is top-k search, not clustering) — this is
the north-rule extension (SURVEY.md §2.6). Algorithm: alternating large-star /
small-star hash joins (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14), which converges in O(log^2 n) rounds and is the standard
shuffle-based CC for Spark.

  large-star: for each node u, connect every neighbor v > u to min(N(u) ∪ u)
  small-star: for each node u, connect every neighbor v <= u to min(N(u) ∪ u)

Each round is a groupBy(min) + join; lineage is cut every two rounds with
a localCheckpoint, in every run (the frontier is never written to the
checkpoint store). Convergence is checked every two rounds by comparing an
(edge count, xor checksum) signature of the edge set with the previous
one; once at most `local_finish_edges` edges remain, the driver finishes
with a union-find. Hot roots (a giant cluster's representative) are exactly
the skew AQE's skew-join splitting handles; the groupBy side uses partial
aggregation so a hot node aggregates map-side first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (src > dst) ordered pairs, no self-loops."""
    return (
        edges.select(
            F.greatest("id_a", "id_b").alias("src"),
            F.least("id_a", "id_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors to the component-wise minimum.
    Output is already CANONICAL (src > dst, no self-loops, distinct): emitted
    pairs are (v, m) with v > original src >= m — re-canonicalizing it would
    add a full extra shuffle per round for nothing."""
    # symmetric neighbor list
    nbrs = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("m"))
    mins = mins.withColumn("m", F.least("m", F.col("src")))
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect smaller-or-equal neighbors to the minimum. Like _large_star,
    the output is already canonical (src > dst or dropped, distinct)."""
    directed = edges.select("src", "dst")  # src > dst by canonical form
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    moved = (
        directed.join(mins, "src")
        .select(
            F.when(F.col("dst") != F.col("m"), F.col("dst")).otherwise(F.col("src")).alias("src"),
            F.col("m").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return moved


def _local_union_find(edge_rows) -> list[tuple[int, int]]:
    """Driver-side union-find over a SMALL edge iterable -> (doc_id, min-id
    of component) rows, roots included."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        comp_min[r] = node if m is None or node < m else m
    return [(node, comp_min[find(node)]) for node in parent]


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    local_finish_edges: int = 250_000,
) -> DataFrame:
    """pairs(id_a, id_b) -> clusters(doc_id, cluster_id) where cluster_id is
    the minimum doc_id of the component. Singleton nodes (no edges) are not
    emitted — callers union them back with cluster_id = doc_id.

    Two-phase: alternating large-star/small-star hash joins contract the
    graph distributedly; once the surviving edge count is at or below
    `local_finish_edges` the remaining (node -> candidate-root) edges are
    collected and finished with a driver union-find — the standard hybrid
    (GraphFrames-style) finish. Star rounds strictly preserve components and
    only shrink the edge set, so the local phase computes the same partition
    the pure-distributed fixpoint would. The default 250k-edge collect costs
    on the order of 100MB of TRANSIENT driver memory (collected Row objects
    + the union-find dicts — Python object overhead, not 16 bytes/edge), a
    deliberate driver budget that saves the O(log^2 n) tail rounds whose
    per-round cost is pure driver scheduling; at 10^12-turn scale the dup
    graph has billions of edges, so early rounds run distributed and the
    local finish fires only once contraction has actually shrunk the
    frontier. Set local_finish_edges=0 to force the fully-distributed
    fixpoint. Raises RuntimeError when the star rounds have not converged
    after `max_iterations`: a non-fixpoint edge set is not a clustering."""
    def _signature(df: DataFrame) -> tuple[int, int]:
        """(edge count, order-independent checksum) — one cheap job per round
        instead of two exceptAll scans; a checksum collision would only cost
        one early-stopped iteration with astronomically small probability,
        and the fixpoint of star operations is stable (re-entering the loop
        cannot corrupt a converged edge set)."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("chk"),
        ).collect()[0]
        return int(row.n), int(row.chk)

    # lazy: the _signature collect right below materializes the
    # checkpoint — eager=True would run a SEPARATE job first, doubling the
    # per-round driver round-trips (each is ~0.3-0.5s of serial
    # scheduling; the CC stage's wall is almost entirely these)
    edges = _canonical(pairs).localCheckpoint(eager=False)
    sig = _signature(edges)

    def _finish_local(e: DataFrame) -> DataFrame:
        # Arrow both ways: .collect() materializes one Py4J Row object per
        # edge and createDataFrame(list-of-tuples) re-serializes row-by-row —
        # together ~6-8s of pure DRIVER time at the 250k-edge budget, i.e.
        # parallelism-independent serial constant S that directly taxes the
        # N->4N efficiency ratio. toArrow() + a pandas upload (Arrow batch
        # path) cut the same transfer to well under a second (measured).
        import pandas as pd

        tbl = e.select("src", "dst").toArrow()
        rows = _local_union_find(
            zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist())
        )
        pdf = pd.DataFrame(rows or None, columns=["doc_id", "cluster_id"],
                           dtype="int64")
        return e.sparkSession.createDataFrame(
            pdf, "doc_id long, cluster_id long"
        )

    if 0 < sig[0] <= local_finish_edges:
        return _finish_local(edges)

    # TWO large/small rounds per convergence check: each check is a driver
    # round-trip (collect) plus a lineage checkpoint, and they dominate the
    # stage's serial wall. Star outputs stay canonical by construction (see
    # _large_star/_small_star docstrings), so chaining two rounds inside one
    # job is safe; the cost is at most one redundant round at the fixpoint,
    # where the edge set is tiny.
    for _ in range(max(1, (max_iterations + 1) // 2)):
        after = edges
        for _r in range(2):
            after = _small_star(_large_star(after))
        edges = after.localCheckpoint(eager=False)
        new_sig = _signature(edges)
        if 0 < new_sig[0] <= local_finish_edges:
            return _finish_local(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_iterations} "
            f"star rounds ({new_sig[0]} edges left); raise cc_max_iterations"
        )

    # at fixpoint every edge is (node -> component min)
    members = edges.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
    )
    roots = edges.select(F.col("dst").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.unionByName(roots).distinct()


def clusters_with_singletons(clusters: DataFrame,
                             all_docs: DataFrame) -> DataFrame:
    """Union non-duplicated docs back as their own clusters."""
    singles = (
        all_docs.select("doc_id")
        .join(clusters.select("doc_id"), "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return clusters.unionByName(singles)
