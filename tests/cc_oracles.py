"""Connected-components reference forms, kept as test oracles for
``operators/dedup.neardup_clusters`` (a driver union-find under an edge
bound, large-star/small-star rounds past it).

- :func:`label_propagation` — plain min-label propagation run to
  convergence: rounds = component diameter, so it is no production
  fallback (SCALING.md, star vs label-propagation crossover).
- :func:`union_find` — the min-id components of an edge list in pure
  Python, the ground truth the Spark forms are checked against.

Both return the ``(doc_id, cluster_id, is_canonical)`` contract,
cluster_id = min doc id in the component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def label_propagation(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Symmetric-closure edges, identity labels, then passes of every
    node adopting min(own, neighbour labels) until no label changes.
    Each round's state is localCheckpoint-ed, so no round's plan carries
    the previous rounds' lineage."""
    half = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr = (
            edges.join(
                labels.select(F.col("node").alias("dst"), F.col("label").alias("dst_label")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr.withColumnRenamed("src", "node"), "node", "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        no_change = stepped.where(F.col("label") < F.col("old_label")).isEmpty()
        labels = stepped.select("node", "label")
        if no_change:
            return labels.select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id"),
                (F.col("node") == F.col("label")).alias("is_canonical"),
            )
    raise RuntimeError(f"label propagation did not converge in {max_iters} rounds")


def union_find(edges: list[tuple[int, int]]) -> list[tuple[int, int, bool]]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n), n == find(n)) for n in {x for e in edges for x in e})
