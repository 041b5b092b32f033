"""Connected components as a DataFrame fixpoint (no GraphFrames here).

Alternating min-label propagation: each node's label becomes the min of
its own and its neighbors' labels, iterated to fixpoint. Alias clusters
have tiny diameter (≤ ~4), so convergence is a handful of rounds; each
round is one shuffle (groupBy node). `localCheckpoint` truncates the
iterative lineage so plans stay bounded — the same loop runs unchanged
on a real cluster (checkpoint dir instead of local).

SURVEY §4.2: "GraphFrames if available; else a small iterative DataFrame
label-propagation loop (join+min-agg until fixpoint)".
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import collect_if_small


DRIVER_THRESHOLD = 2_000_000


def connected_components(edges: DataFrame, max_iter: int = 20,
                         n_partitions: int = 8) -> DataFrame:
    """edges(src long, dst long) undirected → (node long, component long),
    component = min reachable node id. Deterministic.

    Physical strategy is size-adaptive, like AQE picking a broadcast
    join: alias graphs are vocabulary-sized (distinct linked surfaces),
    orders of magnitude below corpus scale, so up to DRIVER_THRESHOLD
    edges one probe job (session.collect_if_small) brings them to the
    driver as numpy columns and union-find solves them in milliseconds —
    ~10 distributed rounds of shuffle latency buy nothing there. Above
    the threshold the distributed min-label fixpoint with pointer
    jumping runs (O(log diameter) rounds)."""
    small = collect_if_small(edges.select("src", "dst"), DRIVER_THRESHOLD)
    if small is not None:
        return _driver_union_find(edges.sparkSession, small["src"].to_numpy(),
                                  small["dst"].to_numpy())
    return _distributed_cc(edges, max_iter, n_partitions)


def _driver_union_find(spark, src: np.ndarray, dst: np.ndarray) -> DataFrame:
    """Union-find over numpy edge columns. Nodes are renumbered by sorted
    id and every root is its component's smallest index, so the root's
    node id is the component's min node id."""
    nodes, ends = np.unique(np.concatenate([src, dst]), return_inverse=True)
    if not len(nodes):
        return spark.createDataFrame([], "node long, component long")
    parent = list(range(len(nodes)))

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(*ends.reshape(2, -1).tolist()):
        a, b = find(a), find(b)
        if a != b:
            parent[max(a, b)] = min(a, b)
    comp = nodes[[find(i) for i in range(len(nodes))]]
    # pandas → Arrow createDataFrame: the whole column batch crosses the
    # JVM gateway at once instead of row-by-row pickling
    pdf = pd.DataFrame({"node": nodes, "component": comp}).astype("int64")
    return spark.createDataFrame(pdf, "node long, component long")


def _distributed_cc(edges: DataFrame, max_iter: int = 20,
                    n_partitions: int = 8) -> DataFrame:
    """edges(src long, dst long) undirected → (node long, component long)
    where component = min node id reachable. Deterministic.

    Min-label propagation accelerated with pointer jumping
    (component ← component-of-component each round), so convergence is
    O(log diameter) rounds instead of O(diameter). The graph here is
    vocabulary-sized (distinct surfaces), so every round is pinned to a
    small fixed partition count — per-round latency, not data volume,
    is the cost driver, and running it at corpus-wide parallelism only
    adds scheduling overhead."""
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(n_partitions, "src")
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))
    labels = labels.coalesce(n_partitions).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # 1) neighbor min: smallest label among each node's neighbors
        nbr = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("component"))
        )
        merged = (
            labels.select("node", "component")
            .union(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # 2) pointer jump: follow component → its component (path halving)
        jump = merged.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        new_labels = (
            merged.join(jump, merged.component == jump.jnode, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("jcomp", F.col("component"))
                ).alias("component"),
            )
            .coalesce(n_partitions)
            .localCheckpoint(eager=True)
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
            break
    return labels


def canonicalize(surfaces: DataFrame, pairs: DataFrame, stats: dict) -> DataFrame:
    """surfaces(etype, surface, freq) + linked pairs → alias table
    (entity_id, canonical, etype, alias).

    `surfaces` is the distinct surface vocabulary (pre-aggregated once by
    the caller and cached — every downstream action here would otherwise
    re-shuffle the corpus-scale mention table). The canonical surface of
    a component is its most frequent alias (freq desc, surface asc
    tiebreak). Singleton surfaces form their own entity.

    Fills stats["n_surfaces"], the alias-table row count (the output
    here is exactly one row per surfaces row), which the caller's
    broadcast-vs-shuffle decision needs. Below DRIVER_THRESHOLD edges
    the probe job that sizes the CC strategy also carries that count as
    one extra row, so it costs no extra blocking job: at local[N] the
    pipeline tail is bounded by serialized job COUNT, not data volume
    (NOTES_r2). Above it the distributed fixpoint already runs many
    jobs, and the count is one more."""
    from pyspark.sql import Window as W

    from ..linking.minhash_lsh import normalize_surface

    surf = surfaces.select("etype", "surface", "freq")
    # node id = xxhash64(etype, NORMALIZED surface): deterministic,
    # shuffle-free to assign (no global row_number funnel), AND it folds
    # exact-normalization linking into the id itself — 'APT 28'/'APT-28'/
    # 'apt28' share a node with no edge generation at all. Only fuzzy
    # LSH pairs need explicit edges.
    ids = surf.withColumn("node", F.xxhash64("etype", normalize_surface(F.col("surface"))))
    a = ids.select("etype", F.col("surface").alias("surface_a"), F.col("node").alias("src"))
    b = ids.select("etype", F.col("surface").alias("surface_b"), F.col("node").alias("dst"))
    edges = (
        pairs.join(a, ["etype", "surface_a"]).join(b, ["etype", "surface_b"])
        .select("src", "dst")
        .persist()
    )
    # one job: the edges plus a 1-row surface count, marked apart
    probe = collect_if_small(
        edges.withColumn("marker", F.lit(0)).unionByName(
            surfaces.agg(F.count(F.lit(1)).alias("src"))
            .select("src", F.lit(0).cast("long").alias("dst"), F.lit(1).alias("marker"))
        ),
        DRIVER_THRESHOLD + 1,
    )
    if probe is not None:
        is_count = probe["marker"] == 1
        stats["n_surfaces"] = int(probe.loc[is_count, "src"].iloc[0])
        small = probe[~is_count]
        comp = _driver_union_find(edges.sparkSession, small["src"].to_numpy(),
                                  small["dst"].to_numpy())
    else:
        stats["n_surfaces"] = surfaces.count()
        comp = _distributed_cc(edges)
    edges.unpersist(blocking=False)
    labeled = (
        ids.join(comp, ids.node == comp.node, "left")
        .select(
            "etype", "surface", "freq", ids.node.alias("node"),
            F.coalesce(comp.component, ids.node).alias("component"),
        )
    )
    pick = W.partitionBy("component").orderBy(F.desc("freq"), F.asc("surface"))
    canon = labeled.withColumn("canonical", F.first("surface").over(pick))
    return canon.select(
        F.col("component").alias("entity_id"), "canonical", "etype",
        F.col("surface").alias("alias"),
    )
