"""Quadtree tile tree: per-tile counts rolled up the hierarchy + the
deterministic split/merge fixpoint (SURVEY.md op 13; reference semantics:
tiled-db's tile-split/merge snapshot tests, SPEC-PINNED rule §1.3).

SPEC-PINNED split/merge rule (frozen; golden fixtures derive from it):
- a tile at zoom z in [Z_BASE, Z_MAX) SPLITS while doc_count > max_docs;
- sibling groups MERGE into their parent (zoom < Z_BASE) while the parent's
  combined count < max_docs / 4;
- applied bottom-up then top-down → unique fixpoint → deterministic tree.

Resulting leaf rule (provably equivalent, and what the implementation uses —
one pass over the count table instead of an iterative rewrite):
- leaf at z in (Z_BASE, Z_MAX]: parent count > max_docs, and (count <=
  max_docs or z == Z_MAX);
- leaf at Z_BASE: count <= max_docs and parent count >= max_docs/4;
- leaf at z < Z_BASE: count < max_docs/4 and (z == 0 or parent count >=
  max_docs/4)  [all descendants absorbed — 'merged' state below the leaf].

The deep rule is the fixpoint's "every ancestor in [Z_BASE, z) has count >
max_docs" (the tile is reached by splits all the way down) in one lookup:
a tile's docs are a subset of its parent's, so counts never grow with
depth, and the smallest count on that ancestor chain is the parent's. Every
state is thus a projection of (zoom, doc_count, parent_count), and the
tree needs one parent self-join over the count table and nothing else.

States in the emitted tree (SURVEY.md §1.2 tile_tree):
  'materialized' = a leaf; 'split' = has materialized descendants deeper;
  'merged' = absorbed into a shallower merged leaf; 'interior' = rollup
  ancestor above the leaf level.

Scale shape: no per-zoom passes over the documents. One groupBy over the
docs at Z_BASE (map-side partial combine does the heavy lifting), its
ancestors rolled up from the (tiny) base-tile table, and one more pass over
only the docs under split base tiles for the counts below Z_BASE (none when
no base tile splits). Everything after that reads the O(tiles) count table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiledspark import tiles
from tiledspark.lineage import checkpoint
from tiledspark.tiles import MAX_DOCS_PER_TILE, Z_BASE, Z_MAX


def tile_counts_all_zooms(
    doc_points: DataFrame,
    z_max: int = Z_MAX,
    z_base: int = Z_BASE,
    max_docs: int = MAX_DOCS_PER_TILE,
) -> DataFrame:
    """doc_points(lat, lon, ...) -> counts(tile_id, zoom, doc_count).

    Drill-down shape: aggregate at z_base first (ONE shuffle over the docs,
    map-side combined), roll ancestors up from the (tiny) tile table, and
    compute deeper-than-base counts ONLY under tiles that can actually split
    (count > max_docs — a set provably <= n_docs/max_docs). The naive
    alternative (count at z_max for everything, explode 19 ancestors) shuffles
    ~19x the distinct-tile rows for counts the split rule never looks at.
    """
    docs = doc_points.where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    # checkpointed once: both consumers (ancestor rollup, the split-id
    # broadcast of the deep-docs join) would otherwise each re-run the
    # doc-scale groupBy; the checkpoint is O(base tiles), never O(docs).
    base, c = checkpoint(
        docs.withColumn("tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), z_base))
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("doc_count")),
        n_split=F.sum((F.col("doc_count") > F.lit(max_docs)).cast("int")),
    )
    up = base.select(
        F.explode(
            tiles.tile_ancestors_literal_expr(F.col("tile_id"), z_base)
        ).alias("tile_id"),
        "doc_count",
    ).groupBy("tile_id").agg(F.sum("doc_count").alias("doc_count"))

    # Short-circuit (round 4): when NO base tile exceeds max_docs the deep
    # branch is a guaranteed-empty full pass over the docs (join against an
    # empty broadcast); at planet scale splittable tiles exist and it runs.
    counts = up
    if z_max > z_base and c["n_split"]:
        split_ids = base.where(F.col("doc_count") > max_docs).select(
            F.col("tile_id").alias("_split_base")
        )
        deep_docs = docs.withColumn(
            "_base", tiles.tile_id_expr(F.col("lon"), F.col("lat"), z_base)
        ).join(
            F.broadcast(split_ids),
            F.col("_base") == F.col("_split_base"),
            "inner",
        )
        deep = (
            deep_docs.withColumn(
                "_deep", tiles.tile_id_expr(F.col("lon"), F.col("lat"), z_max)
            )
            .select(
                F.explode(
                    tiles.tile_ancestors_literal_expr(F.col("_deep"), z_max, z_base + 1)
                ).alias("tile_id")
            )
            .groupBy("tile_id")
            .agg(F.count(F.lit(1)).alias("doc_count"))
        )
        counts = up.unionByName(deep)
    z, _, _ = tiles.tile_unpack_exprs(F.col("tile_id"))
    return counts.withColumn("zoom", z)


def build_tile_tree(
    doc_points: DataFrame,
    max_docs: int = MAX_DOCS_PER_TILE,
    z_base: int = Z_BASE,
    z_max: int = Z_MAX,
) -> DataFrame:
    """-> tile_tree(tile_id, zoom, x, y, parent_id, doc_count, state).

    The golden tile-tree artifact (BASELINE.json: "golden tile-tree match rate
    100%"). Deterministic: pure function of the doc coordinates.
    """
    # Eager localCheckpoint, not cache(): the count table feeds BOTH sides of
    # the parent self-join. A lazy cache() here never helped — the old code
    # unpersisted before the caller's first action, so every reference
    # re-derived counts from scratch, including the doc-scale deep branch
    # (measured 1.36x slower at 1.2M docs). The checkpoint is O(tiles),
    # never O(docs), and truncates the lineage exactly like graph.py's
    # fixpoint frames.
    counts = tile_counts_all_zooms(doc_points, z_max, z_base, max_docs).localCheckpoint(
        eager=True
    )
    merge_thresh = max_docs / 4.0

    parent = tiles.tile_parent_expr(F.col("tile_id"))
    with_parent = counts.withColumn(
        "parent_id", F.when(F.col("zoom") > 0, parent)
    )
    # attach parent count (self-join on the small count table; broadcast-size
    # at any realistic tile cardinality relative to docs)
    pc = counts.select(
        F.col("tile_id").alias("parent_id"), F.col("doc_count").alias("parent_count")
    )
    t = with_parent.join(pc, "parent_id", "left")

    # 'reached' for z > z_base: every ancestor in [z_base, z) has count >
    # max_docs. Counts never grow with depth, so the smallest of those is
    # the parent's (module docstring).
    is_reached = F.col("parent_count") > max_docs

    deep_leaf = (
        (F.col("zoom") > z_base)
        & is_reached
        & ((F.col("doc_count") <= max_docs) | (F.col("zoom") == z_max))
    )
    base_leaf = (
        (F.col("zoom") == z_base)
        & (F.col("doc_count") <= max_docs)
        & (F.coalesce(F.col("parent_count"), F.lit(0.0)) >= merge_thresh)
    )
    shallow_leaf = (
        (F.col("zoom") < z_base)
        & (F.col("doc_count") < merge_thresh)
        & ((F.col("zoom") == 0) | (F.col("parent_count") >= merge_thresh))
    )
    is_leaf = deep_leaf | base_leaf | shallow_leaf

    is_split = (
        (F.col("zoom") >= z_base)
        & (F.col("zoom") < z_max)
        & (F.col("doc_count") > max_docs)
        & ((F.col("zoom") == z_base) | is_reached)
    )
    # merged: at/below z_base but above no-leaf — absorbed into a shallower
    # merged leaf (its own count < merge_thresh chain). A tile at z <= z_base
    # is merged iff some ancestor at z' < z is a leaf, equivalently its parent
    # count < merge_thresh (parent merged or is the merged leaf).
    is_merged = (
        (F.col("zoom") <= z_base)
        & (F.col("zoom") > 0)
        & ~is_leaf
        & ~is_split
        & (F.col("parent_count") < merge_thresh)
    )

    state = (
        F.when(is_leaf, F.lit("materialized"))
        .when(is_split, F.lit("split"))
        .when(is_merged, F.lit("merged"))
        .otherwise(F.lit("interior"))
    )

    # drop unreachable deep tiles (descendants of non-split tiles)
    keep = (F.col("zoom") <= z_base) | is_reached
    z_, x_, y_ = tiles.tile_unpack_exprs(F.col("tile_id"))
    out = (
        t.where(keep)
        .select(
            "tile_id",
            F.col("zoom"),
            x_.alias("x"),
            y_.alias("y"),
            F.col("parent_id"),
            F.col("doc_count"),
            state.alias("state"),
        )
    )
    # no unpersist: `out` is lazy and still reads the checkpointed blocks;
    # they are freed with the RDD when `out` (and its plans) are GC'd.
    # Long-lived-service caveat (ADVICE r6): each call parks O(tiles)
    # checkpoint blocks in the block manager until the driver GCs the
    # returned plan — callers that loop build_tile_tree in one session
    # should drop references to the previous result (or materialize it
    # and let the plan go) rather than accumulating live DataFrames.
    return out


def assign_docs_to_leaves(
    doc_points: DataFrame,
    tree: DataFrame,
    z_max: int = Z_MAX,
) -> DataFrame:
    """Attach each doc's final (leaf) tile: compute the doc's tile at z_max,
    explode its ancestor chain, equi-join against the leaf set — each doc
    matches exactly one leaf. One equi-join; the leaf table broadcasts when
    small, shuffles cleanly otherwise."""
    leaves = tree.where(F.col("state") == "materialized").select(
        F.col("tile_id").alias("leaf_tile_id")
    )
    docs = (
        doc_points.where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .withColumn("_deep", tiles.tile_id_expr(F.col("lon"), F.col("lat"), z_max))
        .withColumn(
            "leaf_tile_id",
            F.explode(tiles.tile_ancestors_literal_expr(F.col("_deep"), z_max)),
        )
        .drop("_deep")
    )
    return docs.join(leaves, "leaf_tile_id", "inner")


def canonical_tree_rows(tree: DataFrame) -> list[dict]:
    """Canonical serialization for goldens (FIXTURES.md §4): sorted by
    tile_id, ints as decimal strings."""
    rows = tree.orderBy("tile_id").collect()
    return [
        {
            "tile_id": str(r["tile_id"]),
            "zoom": str(r["zoom"]),
            "x": str(r["x"]),
            "y": str(r["y"]),
            "parent_id": "" if r["parent_id"] is None else str(r["parent_id"]),
            "doc_count": str(r["doc_count"]),
            "state": r["state"],
        }
        for r in rows
    ]
