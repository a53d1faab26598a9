"""Spatial hash join: (polygon cover cells) × (document cells), broadcast or
partitioned, with explicit hot-cell salting and exact PIP refinement
(north_star: "broadcast-or-partitioned spatial hash join (polygon cells x
document cells) with explicit salting for hot tiles").

Pipeline (SURVEY.md §3.2 entry point 2):
  zones  --applyInPandas--> zone_cells(zone_id, cell, is_boundary)   [op 16]
  docs   --ancestor explode [z_min..z_join]--> doc_cells(url, cell)  [ops 1-4]
  equi-join on cell (broadcast if zone side small, else shuffle+salt) [op 18]
  boundary candidates --grouped numpy ray-cast--> exact PIP verdict   [op 17]
  interior candidates accepted directly (covering guarantees containment)

Determinism: cover cells are disjoint per zone (quadtree descent emits a tile
XOR its descendants), so a doc matches a zone through exactly one cell — no
dedupe step, no nondeterministic row multiplicity.

Scale notes:
- zone_cells is O(perimeter) per zone (geom.np_polygon_cover), so even
  continental polygons stay broadcast-able; the broadcast/shuffle decision is
  made explicitly from a measured count, not left to the planner's estimate.
- The shuffle path salts hot cells k ways: zone side replicates its hot-cell
  rows k× (explode), doc side computes salt = pmod(xxhash64(url), k); join on
  (cell, salt). Hot cells come from a pre-pass count — at 10^12 docs that
  pre-pass is one partial-agg shuffle of (cell, count) pairs.
- PIP refinement groups boundary candidates by (zone_id, salt16) so one giant
  zone cannot serialize into a single Python worker; the polygon vertex
  arrays ride a SparkContext broadcast, not the shuffled rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiledspark import tiles
from tiledspark.geom import np_polygon_cover, point_in_polygon_expr

DEFAULT_Z_JOIN = 12
DEFAULT_Z_MIN = 6


def _ring_to_np(ring) -> np.ndarray:
    """Normalize to the CLOSED form (first == last) the geometry kernels
    assume. synth zones store closed rings; caller-supplied literal rings are
    often open — an open ring silently dropped its closing edge from the
    cover's edge set (round-4 fix, found by the spatial_join_zones oracle)."""
    arr = np.array([[p["lat"], p["lon"]] for p in ring], dtype=np.float64)
    if len(arr) and (arr[0] != arr[-1]).any():
        arr = np.vstack([arr, arr[:1]])
    return arr


def _holes_list(holes) -> list:
    # Arrow hands list<list<struct>> to pandas as a numpy array — no truthiness
    if holes is None:
        return []
    return [h for h in holes]


def build_zone_cells(
    zones: DataFrame, z_join: int = DEFAULT_Z_JOIN, z_min: int = DEFAULT_Z_MIN
) -> DataFrame:
    """zones(zone_id, name, ring, holes) -> zone_cells(zone_id, cell,
    is_boundary). Grouped-map UDF: one numpy quadtree cover per polygon."""

    def per_zone(pdf: pd.DataFrame):
        out = []
        for _, row in pdf.iterrows():
            ring = _ring_to_np(row["ring"])
            holes = [_ring_to_np(h) for h in _holes_list(row["holes"])]
            cells_arr, boundary = np_polygon_cover(ring, holes, z_join, z_min)
            out.append(
                pd.DataFrame(
                    {
                        "zone_id": row["zone_id"],
                        "cell": cells_arr,
                        "is_boundary": boundary,
                    }
                )
            )
        return pd.concat(out) if out else pd.DataFrame(
            {"zone_id": pd.Series(dtype="int64"), "cell": pd.Series(dtype="int64"),
             "is_boundary": pd.Series(dtype="bool")}
        )

    return zones.groupBy("zone_id").applyInPandas(
        per_zone, schema="zone_id long, cell long, is_boundary boolean"
    )


def doc_cells_for_join(
    docs: DataFrame, z_join: int = DEFAULT_Z_JOIN, z_min: int = DEFAULT_Z_MIN
) -> DataFrame:
    """docs(lat, lon, ...) -> one row per ancestor zoom in [z_min, z_join]
    (cover cells are mixed-zoom, so the doc side must offer every zoom)."""
    deep = tiles.tile_id_expr(F.col("lon"), F.col("lat"), z_join)
    anc = tiles.tile_ancestors_literal_expr(deep, z_join, z_min)
    return docs.where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    ).withColumn("cell", F.explode(anc))


def spatial_join(
    spark: SparkSession,
    docs: DataFrame,
    zones: DataFrame,
    z_join: int = DEFAULT_Z_JOIN,
    z_min: int = DEFAULT_Z_MIN,
    doc_key: str = "url",
    broadcast_zone_cells_max: int = 2_000_000,
    hot_cell_threshold: int = 100_000,
    salt_k: int = 16,
) -> DataFrame:
    """-> (zone_id, <doc_key>, lat, lon, tile_id) — one row per (zone, doc)
    containment pair; tile_id is the doc's base-zoom assignment.

    PIP refinement (round 7): a native Column crossing-number filter over a
    zone_id equi-join (see the inline comment at the refine stage) —
    replaced the gated pandas/cogroup paths of rounds 1-6; no Python, no
    driver geometry round-trip at any zone count, one fewer count job."""
    zc = build_zone_cells(zones, z_join, z_min).cache()
    n_zone_cells = zc.count()  # measured, drives the explicit plan choice
    dc = doc_cells_for_join(docs, z_join, z_min).select(
        doc_key, "lat", "lon", "cell"
    )

    if n_zone_cells <= broadcast_zone_cells_max:
        cand = dc.join(F.broadcast(zc), "cell")
    else:
        # hot-cell pre-pass on the doc side (partial-agg shuffle of counts)
        hot = (
            dc.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > hot_cell_threshold)
            .select("cell")
            .withColumn("_hot", F.lit(True))
        )
        dc_s = dc.join(F.broadcast(hot), "cell", "left").withColumn(
            "salt",
            F.when(
                F.col("_hot").isNotNull(), F.pmod(F.xxhash64(doc_key), F.lit(salt_k))
            ).otherwise(F.lit(0)),
        ).drop("_hot")
        # zone side replicates hot-cell rows k× (explode of a salt list; a
        # bare explode inside when() is illegal, so build the list first)
        zc_s = zc.join(F.broadcast(hot), "cell", "left").withColumn(
            "_salts",
            F.when(
                F.col("_hot").isNotNull(), F.sequence(F.lit(0), F.lit(salt_k - 1))
            ).otherwise(F.array(F.lit(0))),
        ).withColumn("salt", F.explode("_salts")).drop("_salts", "_hot")
        cand = dc_s.join(zc_s, ["cell", "salt"]).drop("salt")

    # narrow: the join key and salt already did their job
    cand = cand.select(doc_key, "lat", "lon", "zone_id", "is_boundary")

    # SINGLE-PASS refine (round 9, guide §2.4): rounds 6-8 eagerly
    # localCheckpoint'ed the candidate set and branched it into an
    # interior/boundary union — a full O(candidates) materialization (write
    # + read) plus one extra job barrier, needed only because TWO branches
    # read the frame. Joining the zone geometry onto ALL candidates and
    # filtering `interior OR pip` references the candidate lineage exactly
    # once, so the checkpoint (and its barrier) is gone: one doc-scale pass,
    # explode → cell join → geometry join → filter. The PIP crossing-number
    # test (geom.point_in_polygon_expr — bit-identical arithmetic to the
    # numpy kernel; the byte-for-byte golden and the oracled row pin the
    # equivalence) sits behind a short-circuiting OR, so interior rows never
    # evaluate it. AQE broadcasts a small zone-geometry side on its own; at
    # an arbitrarily large zone count the same plan degrades to a plain
    # shuffle equi-join with zero driver geometry materialization.
    zgeo = zones.select("zone_id", "ring", "holes")
    out = (
        cand.join(zgeo, "zone_id")
        .where(
            (~F.col("is_boundary"))
            | point_in_polygon_expr(
                F.col("lat"), F.col("lon"), F.col("ring"), F.col("holes")
            )
        )
        .withColumn(
            "tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE)
        )
    )
    # no unpersist: the zone-cell cache is read by the caller's action (the
    # single pass above). Its entry stays registered until something
    # unpersists it; GC of the returned plan does not free it. A later call
    # on an identical zones plan reuses the entry, so a loop leaks one
    # persisted RDD per distinct zones input.
    return out.select("zone_id", doc_key, "lat", "lon", "tile_id")
