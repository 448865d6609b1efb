"""Distributed connected components over a candidate-pair graph.

The dedup pipeline's missing last mile: pair finders (MinHash/SimHash/
Jaccard — ``operators/dedup.py``) emit *edges*; an actual dedup needs
*clusters* (keep one doc per connected component). The reference repo has
no graph op at all (its nearest analog is the client-side HashMap group
in ``Assignment 7/MongoDB.java:260-267``), so this is an extension
operator per SURVEY §7 step 8.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Both steps are
expressed as join + min-aggregate — never ``collect_list`` — so a giant
component with a hot hub key becomes an AQE-splittable shuffle, not an
executor-OOM array. Converges in O(log² n) rounds (O(log n) in practice;
near-dup clusters are shallow — typically 2 rounds).

Scale notes (100 TB): each round is two shuffles keyed by node id over an
edge set that only ever *shrinks* (both stars strictly reduce the sum of
component-internal edge lengths). ``localCheckpoint`` truncates lineage
per round so the plan does not grow with the iteration count. The hub
node of a star (the component min) is by construction the skewed key;
AQE skew-join splitting handles it without manual salting.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bigdatamanagement_spark.session import scoped_shuffle_partitions


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set as canonical (hi → lo) pairs, no self-loops."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .where(u != v)
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = both.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        both.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient hi→lo; connect u and all its smaller neighbors to the min."""
    oriented = _canon(edges)
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    children = oriented.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfs = mins.select(F.col("u"), F.col("m").alias("v"))
    return children.union(selfs).where(F.col("u") != F.col("v")).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # Sum 64-bit hashes in DECIMAL(38,0): overflow-proof under ANSI mode.
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _iter_partitions(spark, n_edges: int):
    """Scope spark.sql.shuffle.partitions for the contraction loop.

    Every round materializes eagerly (localCheckpoint + convergence
    checksum), so AQE's partition coalescing cannot amortize the FIXED
    per-task scheduling cost across rounds the way it does inside one
    query — at the session default (2x cores) a small graph pays
    rounds x partitions x task-overhead for mostly-empty tasks (the
    same economics as the streaming state drains, streaming_pack.py).
    Size the loop's shuffles from the measured edge count instead:
    ~250k edges per partition, floored at 8, capped at the session
    default so a genuinely large graph keeps full parallelism."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return scoped_shuffle_partitions(spark, min(default, max(8, n_edges // 250_000 + 1)))


def _driver_components(e: DataFrame) -> DataFrame:
    """Union-find on the driver for a provably tiny edge set — same
    output contract as the distributed path (component = min node id).
    O(E α(E)) in one collect, vs O(rounds) eager shuffle rounds whose
    FIXED scheduling cost dwarfs graphs this small."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # Arrow transfer: the measured-small gate already bounds this to
    # driver_threshold edges; columnar transfer is ~3x faster than the
    # row-pickling collect (1.0 s -> 0.3 s at the 163k-edge gate max).
    tbl = e.toArrow()
    for u, v in zip(tbl.column("u").to_pylist(), tbl.column("v").to_pylist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # min-label union keeps the contract exact: the root IS the
            # component minimum at all times
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    rows = [(n, find(n)) for n in parent]
    return e.sparkSession.createDataFrame(
        rows, schema="node long, component long"
    )


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component label is the minimum node id of the component.

    Nodes absent from ``edges`` are their own singleton components —
    callers join this result back and ``coalesce`` to the node id.

    Graphs at or under ``driver_threshold`` edges (a few MB of longs —
    the count is already measured for the convergence checksum) finish
    with a driver-side union-find instead of the iterative contraction:
    each eager star round costs a FIXED scheduling price (4 shuffles +
    checkpoint + checksum collect, ~0.8 s locally) regardless of size,
    so a 4-round run on a 4k-edge graph pays ~3 s for microseconds of
    actual work. Same economics as AQE's runtime broadcast conversion:
    pick the local algorithm when the data is measured small, keep the
    distributed one (unchanged, property-tested) for real scale. Pass
    ``driver_threshold=0`` to force the distributed path.
    """
    e = _canon(
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
    ).localCheckpoint(eager=True)
    prev = _checksum(e)
    if prev[0] <= driver_threshold:
        return _driver_components(e)
    with _iter_partitions(e.sparkSession, prev[0]):
        for _ in range(max_iter):
            e = _small_star(_large_star(e)).localCheckpoint(eager=True)
            cur = _checksum(e)
            if cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError(
                f"connected_components: no convergence in {max_iter} rounds"
            )
    # Converged state is a union of stars: (child → root) plus the roots
    # themselves, which appear only on the v side.
    roots = e.select(F.col("v").alias("node")).distinct().join(
        e.select(F.col("u").alias("node")).distinct(), "node", "left_anti"
    )
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(roots.select("node", F.col("node").alias("component")))
        .distinct()
    )


def assign_clusters(
    items: DataFrame, id_col: str, pairs: DataFrame, pair_a: str, pair_b: str
) -> DataFrame:
    """items + ``cluster_rep`` column: min item id reachable through the
    pair graph (singletons map to themselves)."""
    comp = connected_components(pairs, pair_a, pair_b)
    return (
        items.join(comp, items[id_col] == comp["node"], "left")
        .select(
            *[items[c] for c in items.columns],
            F.coalesce(comp["component"], items[id_col].cast("long")).alias("cluster_rep"),
        )
    )
