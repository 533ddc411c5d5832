"""Connected components over a pair graph — the step that turns
near-duplicate PAIRS (minhash/simhash/embedding output) into dedup
GROUPS with one canonical survivor per group, which is what a
training-data pipeline actually executes (drop all but one doc per
component).

Algorithm: alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm, reimplemented here as DataFrame joins). Each round:

  large-star: per node u with m = min(neighborhood ∪ u), re-point every
              neighbor v > u at m          (edges (v, m));
  small-star: canonicalize edges to (hi → lo); per hi-node u with
              m = min(lo-neighbors), emit (v, m) for every lo-neighbor
              and (u, m) — i.e. contract u's star onto its minimum.

The edge set converges to disjoint stars whose centers are the component
minima in O(log n) rounds REGARDLESS of diameter — this replaces r2's
min-label propagation, whose O(diameter) rounds were pathological on a
long chain and whose max_iter stop could silently mislabel deep graphs
(VERDICT r2). Propagation is kept as `_label_propagation` purely as a
cross-validation twin for tests.

Scale shape per round: two groupBy-min + two joins, all keyed on node
id, map-side combinable; the edge set shrinks monotonically toward one
edge per non-center node. Each round's edges go through
session.materialize so the logical plan stays flat (driver-OOM guard, as
in index/skew.py). Convergence detection is a single (count,
xor-of-hashes) aggregate per round, which also materializes the round —
O(1) driver data, no extra shuffle of the full edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def _large_star(edges: DataFrame) -> DataFrame:
    """edges(u, v) — emit (v, least(u, min neighbor of u)) for v > u,
    over the symmetrized edge set."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonicalize to (hi → lo); contract each hi-star onto its min."""
    e = (edges.select(F.greatest("u", "v").alias("u"),
                      F.least("u", "v").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct())
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    re_pointed = (e.join(mins, "u")
                  .select(F.col("v").alias("u"), F.col("m").alias("v")))
    centers = mins.select(F.col("u"), F.col("m").alias("v"))
    return (re_pointed.unionByName(centers)
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _edge_fingerprint(edges: DataFrame) -> tuple:
    """(row count, xor-ish hash sum) — an order-independent probabilistic
    identity for an edge set; one aggregate, no full-set comparison."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h")).first()
    return (row["n"], row["h"])


def connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
                         max_iter: int = 50) -> DataFrame:
    """edges(src, dst) undirected → (id, component) with component = the
    minimum node id reachable from `id` (a canonical, join-stable group
    key). Nodes = every endpoint appearing in edges (self-loops allowed:
    the node labels itself)."""
    nodes = materialize(edges.select(F.col(src).alias("id"))
                        .unionByName(edges.select(F.col(dst).alias("id")))
                        .distinct())
    e = materialize(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
                    .filter(F.col("u") != F.col("v"))
                    .distinct())
    fp = _edge_fingerprint(e)
    for _ in range(max_iter):
        e = materialize(_small_star(_large_star(e)))
        new_fp = _edge_fingerprint(e)
        if new_fp == fp:
            break
        fp = new_fp
    # converged star graph: every edge is (node, component-min); centers
    # and isolated nodes label themselves
    labels = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    return (nodes.join(labels, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component")))


def _label_propagation(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
                       max_iter: int = 50) -> DataFrame:
    """r2's min-label propagation — O(diameter) rounds; retained only as
    an independent cross-validation twin for the star-contraction path."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    labels = materialize(sym.select(F.col("s").alias("id")).distinct()
                         .withColumn("component", F.col("id")))
    for _ in range(max_iter):
        nb = (sym.join(labels.withColumnRenamed("id", "d_id"),
                       sym.d == F.col("d_id"))
              .groupBy(F.col("s").alias("id"))
              .agg(F.min("component").alias("nb_component")))
        new = materialize(labels.join(nb, "id", "left").select(
            "id", F.least(F.col("component"), F.coalesce("nb_component", "component"))
            .alias("component")))
        changed = (new.alias("n").join(labels.alias("o"), "id")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .limit(1).count())
        labels = new
        if changed == 0:
            break
    return labels


def dedup_groups(pairs: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Near-dup pairs → (doc_id, group_id, is_survivor): one survivor
    (the min id) per connected component."""
    comp = connected_components(pairs, src, dst)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("group_id"),
        (F.col("id") == F.col("component")).alias("is_survivor"))
