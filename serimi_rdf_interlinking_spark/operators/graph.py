"""Canonicalization: connected components over owl:sameAs ∪ redirects.

north_star: matched entities are canonicalized with a connected-
components union over sameAs links before graph materialization.

GraphFrames-free pure-DataFrame implementation: iterative minimum-label
propagation with POINTER JUMPING — each round propagates the min label
over edges, then compresses labels through the current label table
(node's label := its label's label), so long paths halve every round
and convergence is O(log diameter) rounds, not O(diameter). Each round
is three shuffles (edge join + groupBy-min + compression join);
lineage is truncated per round (localCheckpoint) so plans stay bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import Checkpoints

# edge rows connected_components' path probe collects before counting
DRIVER_PROBE_ROWS = 10_000
# edge count up to which connected_components labels on the driver
DRIVER_MAX_EDGES = 1_000_000
MAX_ITER = 25  # pointer-jumping rounds: cover diameters up to ~2^25


def _union_find_local(pairs: list[tuple]) -> dict:
    """Driver-side union-find with min-label roots — exact same
    result as the distributed loop, one pass, no per-round jobs."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min label becomes the root, so component = min node id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Returns (node, component) with component = min node id (string
    order) of the node's component. Edges are treated as undirected.

    Adaptive strategy: the edge set here is VERIFIED near-dup / sameAs
    pairs — orders of magnitude smaller than the corpus — so when it
    fits comfortably on the driver (<= DRIVER_MAX_EDGES edges) a local
    union-find computes the identical labeling in one collect instead
    of paying multiple two-shuffle+checkpoint rounds (measured ~4.6s of
    pure round overhead for a 477-node graph). Above the threshold the
    distributed pointer-jumping loop runs — that is the 100-TB path,
    where the per-round cost amortizes over real data.

    Raises RuntimeError if MAX_ITER rounds do not converge — a silent
    partial result would be WRONG labels.

    Every localCheckpoint made here except the returned frame is
    released before returning or raising."""
    ck = Checkpoints()
    try:
        e = ck(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
            .distinct()
        )
        # one bounded probe job decides AND fetches a small graph; a full
        # probe pays a count(), and the edges are collected only if it fits
        rows = e.limit(DRIVER_PROBE_ROWS + 1).collect()
        n_edges = len(rows) if len(rows) <= DRIVER_PROBE_ROWS else e.count()
        if n_edges <= DRIVER_MAX_EDGES:
            if len(rows) < n_edges:
                rows = e.collect()
            mapping = _union_find_local([(r.a, r.b) for r in rows])
            spark = edges.sparkSession
            if not mapping:
                return spark.createDataFrame([], "node string, component string")
            sample = next(iter(mapping))
            t = "string" if isinstance(sample, str) else "long"
            return spark.createDataFrame(
                list(mapping.items()), f"node {t}, component {t}"
            )

        und = ck(
            e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
        )
        labels = ck(
            und.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
        )
        for _ in range(MAX_ITER):
            # candidate labels: own + min over neighbors' labels
            neigh = (
                und.join(labels, und["b"] == labels["node"])
                .select(F.col("a").alias("node"), F.col("component"))
            )
            prop = (
                labels.select("node", "component")
                .unionByName(neigh)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            # pointer jumping: follow the label one hop (label's label) —
            # label values are node ids, monotonically non-increasing, so
            # compression is safe and halves chain lengths each round
            lab2 = prop.select(
                F.col("node").alias("component"),
                F.col("component").alias("comp2"),
            )
            new_labels = ck(
                prop.join(lab2, "component", "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("comp2"), F.col("component")),
                    ).alias("component"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                return ck.release(keep=labels)
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITER} rounds"
        )
    finally:
        ck.release()


def canonical_mapping(
    sameas: DataFrame, redirects: DataFrame | None = None
) -> DataFrame:
    """(entity, canonical) over sameAs ∪ redirect edges; canonical is
    the component minimum (deterministic)."""
    edges = sameas.select(
        F.col(sameas.columns[0]).alias("src"), F.col(sameas.columns[1]).alias("dst")
    )
    if redirects is not None:
        edges = edges.unionByName(
            redirects.select(
                F.col(redirects.columns[0]).alias("src"),
                F.col(redirects.columns[1]).alias("dst"),
            )
        )
    cc = connected_components(edges)
    return cc.select(F.col("node").alias("entity"), F.col("component").alias("canonical"))

