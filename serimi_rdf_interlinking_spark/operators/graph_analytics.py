"""Distributed graph analytics over the canonical KG edge set:
PageRank (synchronous power iteration), bounded k-hop reachability
(frontier BFS) and per-node triangle counting (degree-ordered
compact-forward).

These extend the KG-construction tier past canonicalization
(operators/graph.py connected components): once mentions are linked
and triples materialized, ranking entities (PageRank over the
entity-link graph), neighborhood queries (k-hop) and clustering
statistics (triangles) are the first analyses a KG consumer runs.

Scale design (all three):
* edges are the ONLY corpus-sized input; every round is a constant
  number of hash-shuffles of |E| rows — no all-pairs step anywhere;
* iteration lineage is truncated per round (eager localCheckpoint,
  released unless the result reads it, on raise too), so plans stay bounded;
* PageRank's dangling-mass term is a 1-row scalar aggregate per
  round (O(1) driver traffic, not a collect of node state);
* triangle counting orients edges by (degree, id) before the
  wedge join — the compact-forward bound: per-task fan-out is
  capped by max out-degree after orientation ~ O(sqrt(|E|)) on
  skewed graphs instead of the raw hub degree, the standard
  remedy for the quadratic hub-wedge blowup at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import Checkpoints


def _distinct_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous power-iteration PageRank with uniform teleport and
    uniform dangling-mass redistribution:

        r_{t+1}(v) = (1-d)/N
                   + d * ( sum_{u->v} r_t(u)/outdeg(u) + D_t/N )

    where D_t is the total rank mass on dangling nodes (no out-edges)
    at step t. Node set = union of edge endpoints. Returns
    (node, rank) with rank a double; total mass is 1 at every step.

    Exactly `iterations` full steps — fixed-iteration semantics so an
    independent engine (the DuckDB power-iteration oracle in
    __spark_entry__.py) computes bit-comparable values.
    """
    ck = Checkpoints()
    try:
        e = ck(_distinct_edges(edges, src, dst))
        nodes = ck(
            e.select(F.col("src").alias("node")).union(e.select("dst"))
            .distinct()
        )
        n = nodes.count()
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        # nodes annotated once with out-degree; deg NULL == dangling
        base = ck(
            nodes.join(deg, nodes["node"] == deg["src"], "left")
            .select("node", "deg")
        )

        ranks = base.withColumn("rank", F.lit(1.0 / n))
        for _ in range(iterations):
            # dangling mass as a ONE-ROW frame crossJoined into the
            # round's single materializing job (a driver collect cost one
            # extra job per round); same aggregate, same partial-sum order
            # and IEEE division as the collected float, so ranks stay
            # bit-identical (oracle-hash-verified).
            dangling = ranks.filter(F.col("deg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            contribs = (
                e.join(
                    ranks.filter(F.col("deg").isNotNull()),
                    e["src"] == ranks["node"],
                )
                .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("c"))
            )
            ranks = ck(
                base.join(contribs, base["node"] == contribs["dst"], "left")
                .crossJoin(dangling)
                .select(
                    "node",
                    "deg",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.col("dm") / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
            )
        ck.release(keep=ranks if iterations else base)
        return ranks.select("node", "rank")
    finally:
        ck.release()


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Bounded-depth BFS: every node reachable from any seed in <= k
    directed hops, with its minimum hop distance. Returns
    (node, dist), seeds at dist 0.

    Frontier-based: each round joins only the NEWLY reached frontier
    against the edge set and anti-joins the visited set — shuffle
    volume per round is O(frontier out-edges), never O(|E| * rounds)
    — then truncates lineage. The textbook distributed BFS shape.
    """
    e = _distinct_edges(edges, src, dst)
    ck = Checkpoints()
    try:
        visited = ck(
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0))
        )
        frontier = visited
        for depth in range(1, k + 1):
            nxt = ck(
                frontier.join(e, frontier["node"] == e["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("dist", F.lit(depth))
            )
            if nxt.isEmpty():
                break
            visited = ck(visited.union(nxt))
            frontier = nxt
        return ck.release(keep=visited)
    finally:
        ck.release()


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    seed_col: str = "node",
) -> DataFrame:
    """Bounded-hop single-source(-set) shortest paths: after `rounds`
    Bellman-Ford relaxations, (node, dist) holds the minimum path cost
    from any seed using <= `rounds` edges (seeds at 0) — the fixed-
    round semantics an independent engine can replay exactly.

    Frontier-optimized: each round relaxes ONLY the out-edges of
    nodes whose distance improved last round (classic SPFA pruning —
    identical results to full relaxation by the prefix-improvement
    argument, but settled regions of a 100-TB graph stop shuffling),
    then folds improvements into the distance table with one
    full-outer join. Early exit when no node improves.
    """
    e = (
        edges.select(src, dst, weight)
        .filter(F.col(src) != F.col(dst))
        .groupBy(src, dst)
        .agg(F.min(weight).alias("__w"))
    )
    ck = Checkpoints()
    try:
        # `merged` is always the checkpoint `dist` reads
        dist = merged = ck(
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
        )
        frontier = dist
        for _ in range(rounds):
            cand = (
                frontier.join(e, frontier["node"] == e[src])
                .select(
                    F.col(dst).alias("node"),
                    (F.col("dist") + F.col("__w")).alias("nd"),
                )
                .groupBy("node")
                .agg(F.min("nd").alias("nd"))
            )
            merged = ck(
                dist.join(cand, "node", "full_outer")
                .select(
                    "node",
                    F.least(
                        F.coalesce(F.col("dist"), F.col("nd")),
                        F.coalesce(F.col("nd"), F.col("dist")),
                    ).alias("dist"),
                    (
                        F.col("dist").isNull()
                        | (F.col("nd") < F.col("dist"))
                    ).alias("__improved"),
                )
            )
            frontier = merged.filter("__improved").select("node", "dist")
            dist = merged.select("node", "dist")
            if frontier.isEmpty():
                break
        ck.release(keep=merged)
        return dist
    finally:
        ck.release()


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation count over the UNDIRECTED
    simple graph induced by `edges`. Returns (node, triangles) for
    nodes in >= 1 triangle.

    Compact-forward with degree ordering: undirect + dedup, orient
    every edge from its (degree, id)-smaller endpoint to the larger,
    wedge-join oriented edges on the middle vertex, then semi-join
    wedges against oriented edges to close triangles. Each triangle
    is found exactly once. Orientation bounds the wedge fan-out by
    the max ORIENTED out-degree (O(sqrt(|E|))-ish on power-law
    graphs) — the hub-safe plan at web scale, vs. raw-id ordering
    where one celebrity hub generates quadratic wedges.
    """
    und = (
        _distinct_edges(edges, src, dst)
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select("b"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # orient by (degree, id): lo endpoint -> hi endpoint
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    fwd = keyed.select(
        F.when(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
            F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        )
        .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
        .alias("e")
    ).select("e.u", "e.v")

    e1 = fwd.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = fwd.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = e1.join(e2, "y").filter(F.col("x") != F.col("z"))
    closing = fwd.select(
        F.least("u", "v").alias("cx"), F.greatest("u", "v").alias("cz")
    )
    tris = wedges.join(
        closing,
        (F.least("x", "z") == F.col("cx")) & (F.greatest("x", "z") == F.col("cz")),
        "left_semi",
    )
    corners = (
        tris.select(F.col("x").alias("node"))
        .union(tris.select("y"))
        .union(tris.select("z"))
    )
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))
