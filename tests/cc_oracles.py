"""Connected-components reference forms, kept as test oracles for
``operators/dedup.neardup_clusters`` (a driver union-find under an edge
bound, a distributed LP-prelude/star fallback past it).

- :func:`label_propagation` — plain min-label propagation run to
  convergence: rounds = component diameter.
- :func:`star_clusters` — alternating large-star/small-star (Kiveris
  et al., "Connected Components in MapReduce and Beyond"): O(log n)
  rounds on any shape.
- :func:`union_find` — the min-id components of an edge list in pure
  Python, the ground truth the Spark forms are checked against.

All three return the ``(doc_id, cluster_id, is_canonical)`` contract,
cluster_id = min doc id in the component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from football_lakehouse_spark.operators.dedup import (
    _cluster_output,
    _lp_rounds,
    _star_components,
)


def label_propagation(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    _edges, labels, converged = _lp_rounds(pairs, max_iters)
    if not converged:
        raise RuntimeError(f"label propagation did not converge in {max_iters} rounds")
    return _cluster_output(labels)


def star_clusters(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    star, _rounds = _star_components(pairs, max_iters)
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    return nodes.join(star.withColumnRenamed("src", "node"), "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("dst"), F.col("node")).alias("cluster_id"),
        F.col("dst").isNull().alias("is_canonical"),
    )


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
