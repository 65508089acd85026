"""Connected-components cluster resolution (SURVEY.md §7 M5).

The reference assigns one shared id per dup group by insertion order
(``create_file_ids``, ``finddup.py:1007-1047``); with fuzzy edges the dup
relation is no longer transitive-by-construction, so clusters are the
connected components of the verified-edge graph, each labelled by its
minimum id.

One algorithm at every scale: the numpy union-find kernel
:func:`union_find`. A graph of at most ``driver_threshold`` edges is
collected and solved by the kernel on the driver. A larger graph is
contracted in rounds, after BTS (load-balanced distributed union-find,
ICDE 2024): hash-partition the canonical edges into P partitions, run
the kernel in every partition, and join each vertex's smallest local
root to its other local roots. That star set is the contracted edge set
of the next round, whose components are those of the input. P starts at
the session's shuffle-partition count and halves every round; the P=1
round is a complete union-find, so at most ⌈log₂P⌉+1 rounds run before
the edge set fits the driver. Adaptive execution may merge the first
round's partitions (a small edge set lands in one, which completes the
union-find at once); later rounds keep their edges in the partition of
the vertex that produced them, coalesced to at most P. Labels compose
back through each round's vertex → smallest-local-root map.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_find(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, roots)``: every id in ``src``/``dst`` (sorted, unique) and
    the minimum id of its connected component.

    Ids are compacted with ``np.unique``, which keeps their order, so the
    smallest compact id of a component is its smallest id. Every round
    hooks the larger root of each edge whose endpoints still have
    different roots onto the smaller root, then pointer-jumps until every
    parent is a root. A hook only ever points down, so no cycle can form
    and a component's minimum is never hooked: it ends as the root.
    """
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = inv[: len(src)], inv[len(src):]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return ids, ids[parent]
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        # repeated indices: any one of the smaller roots wins — each is in
        # the same component and smaller, which is all correctness needs
        parent[np.maximum(ra, rb)] = np.minimum(ra, rb)
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def _partition_roots(batches):
    """mapInPandas body: (x, r) = every vertex of this partition's edges
    and its root under this partition's edges alone."""
    parts = [b for b in batches if len(b)]
    if parts:
        e = pd.concat(parts)
        ids, roots = union_find(e.u.to_numpy(), e.v.to_numpy())
        yield pd.DataFrame({"x": ids, "r": roots})


def _contract(edges: DataFrame, driver_threshold: int) -> tuple[list, list[DataFrame]]:
    """Contraction rounds (module docstring) until at most
    ``driver_threshold`` edges remain: ``(rows, maps)`` = those edges,
    collected, and per round the checkpointed (x, m = smallest local root
    of x, rs = all local roots of x). Unpersists the cached ``edges``
    once the first round's checkpoint holds what they fed."""
    parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select(
        F.least("src", "dst").cast("long").alias("u"),
        F.greatest("src", "dst").cast("long").alias("v"),
    ).repartition("u", "v")
    maps = []
    while True:
        t = (
            e.mapInPandas(_partition_roots, "x long, r long")
            .groupBy("x")
            .agg(F.min("r").alias("m"), F.collect_set("r").alias("rs"))
            .localCheckpoint(eager=True)
        )
        edges.unpersist()  # a no-op after the first round
        maps.append(t)
        parts = max(1, parts // 2)
        e = t.select(
            F.col("m").alias("u"), F.explode(F.array_remove("rs", F.col("m"))).alias("v")
        ).coalesce(parts)
        rows = e.limit(driver_threshold + 1).collect()
        if len(rows) <= driver_threshold:
            return rows, maps


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    id_col: str = "doc_id",
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """clusters(doc_id, cluster_id) — cluster_id = min doc_id in component.

    ``edges``: (src, dst). ``vertices``: optional (doc_id) universe; docs
    with no edges come out as singleton clusters (cluster_id = doc_id).

    Cardinality-dependent finish (the reference's P4 principle,
    ``finddup.py:434-467``, generalized): near-dup edge sets are tiny
    relative to the corpus even at 100 TB (edges ≈ dup pairs, not
    pages), so a graph of at most ``driver_threshold`` edges is solved
    by :func:`union_find` on the driver. A larger one is contracted by
    partition-local union-find rounds (module docstring) until the
    contracted edge set fits under ``driver_threshold``, then finished
    the same way on the driver.
    """
    if driver_threshold < 0:
        # the rounds stop only once at most driver_threshold edges remain
        raise ValueError(f"driver_threshold must be >= 0, got {driver_threshold}")
    spark = edges.sparkSession
    edges = edges.persist()
    # limit-guarded collect: ONE action decides the strategy AND feeds
    # the driver path (a count-then-collect pair would cost an extra full
    # action per dedup call). At most driver_threshold + 1 rows ever reach
    # the driver; overflow means the contraction rounds run against the
    # (partially) persisted edges.
    rows = edges.select("src", "dst").limit(driver_threshold + 1).collect()
    if not rows and vertices is not None:
        edges.unpersist()
        # no edges at all: every vertex is a singleton — what the anti-join
        # below yields, minus the plan nodes it would burn on a no-dup corpus
        return vertices.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(id_col).cast("long").alias("cluster_id"),
        )

    if len(rows) > driver_threshold:
        rows, maps = _contract(edges, driver_threshold)
    else:
        maps = []
        edges.unpersist()  # collected — the cache has served its purpose

    if rows:
        # fromiter over the flattened Rows: np.array(rows) probes every Row
        # as a generic sequence, hundreds of times slower
        flat = np.fromiter(chain.from_iterable(rows), np.int64, 2 * len(rows))
        ids, roots = union_find(flat[0::2], flat[1::2])
        # pandas → Arrow → JVM: the tuple-list path pickles rows through a
        # python-RDD scan job (~4 s per call at any size — guide §6 "Arrow
        # for driver transfers"); the Arrow path is a driver-side memcpy
        result = spark.createDataFrame(
            pd.DataFrame({id_col: ids, "cluster_id": roots}),
            f"{id_col} long, cluster_id long",
        )
    else:
        # an empty list or pandas frame takes that python-RDD path too;
        # an empty range is a JVM-side empty relation the optimizer folds
        result = spark.range(0).select(
            F.col("id").alias(id_col), F.col("id").alias("cluster_id")
        )
    for t in reversed(maps):
        result = t.join(result.withColumnRenamed(id_col, "m"), "m", "left").select(
            F.col("x").alias(id_col), F.coalesce("cluster_id", "m").alias("cluster_id")
        )
    if vertices is not None:
        singles = (
            vertices.select(F.col(id_col).cast("long").alias(id_col))
            .join(result, id_col, "left_anti")
            .withColumn("cluster_id", F.col(id_col))
        )
        result = result.unionByName(singles)
    return result
