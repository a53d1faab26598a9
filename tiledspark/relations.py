"""Recursive relation→tile assignment (SURVEY.md §2 op 7).

Reference semantics (OsmSharp/tiled-db, SURVEY.md §1.2): a relation lives in
every tile any of its members touches; members may themselves be relations
(relations-contain-relations), so tile sets propagate through the membership
graph until a fixpoint. Round 1 shipped only a single-level ancestor join —
this is the full fixpoint loop.

Graft analogue: "relations" are composite web entities (e.g. a site section
grouping pages and sub-sections); leaf members are documents with point
tiles. The loop is datalog-style semi-naive evaluation:

    assigned_0   = leaf members' tiles
    delta_{t+1}  = (parent, tile) pairs reachable through one more
                   relation-member edge, minus everything already assigned
    until delta empty (or max_iters, cycle-bounded)

Scale shape: each round is ONE equi-join (edges ⋈ delta on child rel_id) +
one left_anti dedupe against the assigned set — both shuffle on rel_id/tile
pairs only (never payloads). Both `assigned` and `delta` are
checkpointed per round, so round t's plan never re-derives rounds
0..t-1 (the same quadratic-lineage fix as the kNN loop). Semi-naive matters:
joining the full assigned set every round would rediscover every pair every
time; joining only the delta keeps per-round work proportional to NEW facts,
which is what survives a 100×-deeper membership graph.

Cycles (A member-of B member-of A) terminate naturally: a cycle can only
re-derive already-assigned pairs, so delta goes empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiledspark.lineage import checkpoint


def assign_relations_to_tiles(
    members: DataFrame,
    leaf_tiles: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """members(rel_id, member_type in {'leaf','relation'}, member_ref),
    leaf_tiles(leaf_id, tile_id) -> (rel_id, tile_id), the transitive-closure
    fixpoint of tile propagation through relation membership.

    max_iters bounds pathological graphs (deeper than any real hierarchy);
    hitting the bound raises rather than silently truncating (no-silent-caps).
    """
    leaf_edges = members.where(F.col("member_type") == "leaf").select(
        "rel_id", F.col("member_ref").alias("leaf_id")
    )
    rel_edges = (
        members.where(F.col("member_type") == "relation")
        .select("rel_id", F.col("member_ref").alias("child_id"))
        .localCheckpoint(eager=True)
    )

    assigned = (
        leaf_edges.join(leaf_tiles, "leaf_id")
        .select("rel_id", "tile_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    delta = assigned

    for _ in range(max_iters):
        # one more membership edge: parent inherits child's (new) tiles
        new_pairs = (
            rel_edges.join(
                delta.select(F.col("rel_id").alias("child_id"), "tile_id"),
                "child_id",
            )
            .select("rel_id", "tile_id")
            .distinct()
        )
        # one job per round: the delta checkpoint's gate also computes the
        # previous round's lazy `assigned` union (read once, via the anti-join)
        delta, c = checkpoint(
            new_pairs.join(assigned, ["rel_id", "tile_id"], "left_anti"),
            n=F.count(F.lit(1)),
        )
        if not c["n"]:
            return assigned
        assigned = assigned.unionByName(delta).localCheckpoint(eager=False)
    raise RuntimeError(
        f"relation tiling did not reach a fixpoint in {max_iters} iterations "
        "(membership graph deeper than max_iters?)"
    )
