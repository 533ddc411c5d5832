"""Block-definition closure (J9): which block definitions are reachable
from a document's INSERT entities.

Reference semantics: dxf_reader.py:376-400 serializes INSERT block
content recursively with a visited-set cycle guard (:383-387), and the
writer rebuilds the reachable-block set from modelspace roots
(dxf_writer.py:666-718; tests/test_integration.py:554-579 asserts the
closure is preserved). A nested-INSERT graph is a transitive closure —
in Spark, a bounded driver loop of frontier-expansion joins over a
``blocks(parent, child)`` edge table (SURVEY §2.4 J9: "iterative
self-join loop ... not expressible as a single plan").

Scale notes: the frontier shrinks monotonically (visited set filters),
each round is one equi-join; block-definition tables are small relative
to entities (thousands of blocks vs 10^12 entities) so edges broadcast.
Lineage is truncated per round by session.materialize, like skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def insert_roots(entities: DataFrame) -> DataFrame:
    """Modelspace roots: distinct (doc_id, block) referenced by INSERT
    entities (block name lives in extra_data.block_name, C14)."""
    return (
        entities.filter(F.col("entity_type") == "INSERT")
        .select("doc_id",
                F.get_json_object("data_json", "$.extra_data.block_name").alias("block"))
        .filter(F.col("block").isNotNull())
        .distinct()
    )


def block_closure(roots: DataFrame, edges: DataFrame, max_depth: int = 32) -> DataFrame:
    """Transitive closure: all (doc_id, block) reachable from ``roots``
    through ``edges(parent, child)``.

    Cycle guard ≙ the reference's visited set: each round's frontier is
    anti-joined against everything already visited, so a cyclic graph
    terminates as soon as no NEW block appears (and ``max_depth`` bounds
    pathological inputs, mirroring the recursion depth limit).
    """
    edges = F.broadcast(edges.select("parent", "child").distinct())
    visited = materialize(roots.select("doc_id", "block").distinct())
    frontier = visited
    for _ in range(max_depth):
        children = (
            frontier.join(edges, frontier.block == edges.parent, "inner")
            .select("doc_id", F.col("child").alias("block"))
            .distinct()
        )
        new = materialize(children.join(visited, ["doc_id", "block"], "left_anti"))
        if new.isEmpty():
            break
        visited = materialize(visited.unionByName(new))
        frontier = new
    return visited


def reachable_blocks(entities: DataFrame, edges: DataFrame, max_depth: int = 32) -> DataFrame:
    """entities + blocks(parent, child) → per-doc reachable block set —
    the writer's block-definition export list (dxf_writer.py:666-718)."""
    return block_closure(insert_roots(entities), edges, max_depth=max_depth)
