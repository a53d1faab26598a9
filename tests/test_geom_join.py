"""PIP truth table, polygon cover invariants, spatial join vs brute-force
oracle, and broadcast-path == salted-shuffle-path equivalence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiledspark import tiles
from tiledspark.extract import dedupe_latest_by_url, extract_coords
from tiledspark.geom import np_points_in_polygon, np_polygon_cover
from tiledspark.join import build_zone_cells, spatial_join

SQUARE = np.array([[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0], [0.0, 0.0]])
HOLE = np.array([[4.0, 4.0], [4.0, 6.0], [6.0, 6.0], [6.0, 4.0], [4.0, 4.0]])

PIP_TRUTH = [
    # lat, lon, inside (SPEC-PINNED: boundary counts as inside, incl hole edge)
    (5.0, 2.0, True),    # plain interior
    (5.0, 5.0, False),   # inside the hole
    (4.0, 5.0, True),    # on hole edge → inside
    (0.0, 0.0, True),    # on outer vertex
    (0.0, 5.0, True),    # on outer edge
    (10.0, 10.0, True),  # on outer corner
    (-1.0, 5.0, False),  # outside below
    (5.0, 11.0, False),  # outside right
    (11.0, 11.0, False), # outside corner
    (9.999999, 9.999999, True),
]


def test_pip_truth_table():
    lat = np.array([c[0] for c in PIP_TRUTH])
    lon = np.array([c[1] for c in PIP_TRUTH])
    exp = np.array([c[2] for c in PIP_TRUTH])
    got = np_points_in_polygon(lat, lon, SQUARE, [HOLE])
    assert np.array_equal(got, exp), list(zip(PIP_TRUTH, got))


def test_pip_matches_random_winding_reference():
    """Property: crossing-number == matplotlib-free winding check on a convex
    polygon where containment is trivially computable."""
    tri = np.array([[0.0, 0.0], [0.0, 10.0], [10.0, 0.0], [0.0, 0.0]])
    rng = np.random.default_rng(11)
    lat = rng.uniform(-2, 12, 4000)
    lon = rng.uniform(-2, 12, 4000)
    got = np_points_in_polygon(lat, lon, tri)
    # exact half-plane containment for the right triangle (interior pts only;
    # skip points within eps of the hypotenuse/edges to dodge edge-rule diffs)
    exp = (lat >= 0) & (lon >= 0) & (lat + lon <= 10)
    eps = 1e-9
    off_edge = (np.abs(lat) > eps) & (np.abs(lon) > eps) & (np.abs(lat + lon - 10) > eps)
    assert np.array_equal(got[off_edge], exp[off_edge])


def test_polygon_cover_invariants():
    cells_arr, boundary = np_polygon_cover(SQUARE, [HOLE], z_join=10, z_min=4)
    assert len(cells_arr) > 0 and boundary.any() and (~boundary).any()
    z, x, y = tiles.np_tile_unpack(cells_arr)
    assert (z[boundary] == 10).all()  # boundary cells always at z_join
    assert ((z >= 4) & (z <= 10)).all()
    # disjointness: no cover cell is an ancestor of another
    cellset = set(cells_arr.tolist())
    for c in cells_arr:
        cz = int(c) >> 58
        cur = np.int64(c)
        for _ in range(cz - 4):
            cur = np.int64(tiles.np_tile_parent(cur))
            assert int(cur) not in cellset, "cover emitted a tile AND its ancestor"
    # random interior points: their ancestor chain hits exactly one cover cell
    rng = np.random.default_rng(12)
    lat = rng.uniform(0.2, 9.8, 500)
    lon = rng.uniform(0.2, 9.8, 500)
    inside = np_points_in_polygon(lat, lon, SQUARE, [HOLE])
    deep = tiles.np_tile_id(lon, lat, 10)
    for k in range(len(lat)):
        chain = {int(deep[k])}
        cur = deep[k]
        for _ in range(6):
            cur = np.int64(tiles.np_tile_parent(cur))
            chain.add(int(cur))
        hits = [c for c in chain if c in cellset]
        if inside[k]:
            assert len(hits) == 1, f"point {k}: {len(hits)} cover hits"


@pytest.fixture(scope="module")
def joined_inputs(spark, pages_path, zones_path):
    pages = spark.read.parquet(pages_path)
    docs = (
        dedupe_latest_by_url(extract_coords(pages))
        .where(F.col("lat").isNotNull())
        .select("url", "lat", "lon")
        .cache()
    )
    zones = spark.read.parquet(zones_path).cache()
    return docs, zones


def _brute_force_pairs(docs_pdf, zones_rows):
    exp = set()
    lat = docs_pdf["lat"].to_numpy()
    lon = docs_pdf["lon"].to_numpy()
    urls = docs_pdf["url"].to_numpy()
    for zr in zones_rows:
        ring = np.array([[p["lat"], p["lon"]] for p in zr["ring"]])
        holes = [np.array([[p["lat"], p["lon"]] for p in h]) for h in (zr["holes"] or [])]
        ok = np_points_in_polygon(lat, lon, ring, holes)
        for u in urls[ok]:
            exp.add((zr["zone_id"], u))
    return exp


def test_spatial_join_matches_bruteforce(spark, joined_inputs):
    docs, zones = joined_inputs
    got = {
        (r["zone_id"], r["url"])
        for r in spatial_join(spark, docs, zones).collect()
    }
    exp = _brute_force_pairs(docs.toPandas(), zones.collect())
    missing = exp - got
    extra = got - exp
    assert not missing and not extra, (
        f"missing={list(missing)[:5]} extra={list(extra)[:5]} "
        f"(|exp|={len(exp)} |got|={len(got)})"
    )


def test_salted_shuffle_path_equals_broadcast_path(spark, joined_inputs):
    docs, zones = joined_inputs
    a = spatial_join(spark, docs, zones)
    b = spatial_join(
        spark, docs, zones,
        broadcast_zone_cells_max=0,  # force partitioned path
        hot_cell_threshold=5,        # force salting on real cells
        salt_k=4,
    )
    ka = {(r["zone_id"], r["url"]) for r in a.collect()}
    kb = {(r["zone_id"], r["url"]) for r in b.collect()}
    assert ka == kb


def test_zone_cells_boundary_flags(spark, zones_path):
    zones = spark.read.parquet(zones_path)
    zc = build_zone_cells(zones, z_join=10, z_min=5)
    agg = zc.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_boundary").cast("int")).alias("n_boundary"),
    )
    rows = agg.collect()
    assert len(rows) == zones.count()
    for r in rows:
        assert r["n"] > 0 and r["n_boundary"] > 0  # every polygon has a boundary


def test_join_output_golden_byte_for_byte(spark, joined_inputs, pages_path):
    """FIXTURES.md §4 join_sf0.001.sha256: canonical CSV of
    (zone_id, url, tile_id, sha256(text)) sorted by (zone_id, url) — the
    BASELINE byte-for-byte join-reproducibility gate, incl. the per-url
    text invariant."""
    import hashlib
    import os

    docs, zones = joined_inputs
    pages = spark.read.parquet(pages_path)
    from tiledspark.extract import dedupe_latest_by_url

    texts = dedupe_latest_by_url(pages).select(
        "url", F.sha2(F.col("text").cast("binary"), 256).alias("text_sha")
    )
    out = (
        spatial_join(spark, docs, zones)
        .join(texts, "url")
        .select("zone_id", "url", "tile_id", "text_sha")
        .orderBy("zone_id", "url")
        .collect()
    )
    lines = ["zone_id,url,tile_id,text_sha"] + [
        f"{r['zone_id']},{r['url']},{r['tile_id']},{r['text_sha']}" for r in out
    ]
    digest = hashlib.sha256(("\n".join(lines) + "\n").encode()).hexdigest()
    path = os.path.join(os.path.dirname(__file__), "golden", "join_sf0.001.sha256")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(f"{digest}  rows={len(out)}\n")
        raise AssertionError(f"golden frozen at {path} — rerun to verify")
    with open(path) as f:
        frozen = f.read().split()[0]
    assert digest == frozen, f"join output diverged from golden ({len(out)} rows)"


def test_oracle_points_clear_of_polygon_edges():
    """ADVICE r3 (edge-coincidence invariant, noted in queries_spatial): the
    DuckDB spatial oracles re-derive crossing PARITY only, while the Spark
    kernel is boundary-inclusive within |cross| <= 1e-12. The two agree iff
    no oracle-corpus point lies within that tolerance of any ring edge. This
    pins the invariant against the ACTUAL sf0.01-derived point cloud and all
    four literal rings — any future vertex or generator change that parks a
    point on an edge fails here, not nondeterministically at the driver."""
    import duckdb

    from tiledspark.queries_spatial import (
        _NORTH_RING, _PIP_HOLE, _PIP_RING, _SW_RING,
    )

    pts = duckdb.sql(
        "SELECT (ABS(c_acctbal) % 140.0) - 70.0 AS lat,"
        " ((c_custkey % 3400) * 0.1) - 170.0 AS lon"
        " FROM read_parquet('/root/testdata/sf0.01/customer.parquet')"
    ).df()
    py, px = pts["lat"].to_numpy(np.float64), pts["lon"].to_numpy(np.float64)
    min_d = np.inf
    for ring in (_PIP_RING, _PIP_HOLE, _SW_RING, _NORTH_RING):
        closed = list(ring) + [ring[0]]
        for (y1, x1), (y2, x2) in zip(closed[:-1], closed[1:]):
            # same cross-product form the kernel's on_line test uses, but
            # restricted to points inside the edge bbox (the `within` gate)
            d = np.abs((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1))
            within = (
                (px >= min(x1, x2) - 1e-12) & (px <= max(x1, x2) + 1e-12)
                & (py >= min(y1, y2) - 1e-12) & (py <= max(y1, y2) + 1e-12)
            )
            if within.any():
                min_d = min(min_d, float(d[within].min()))
    assert min_d > 1e-9, f"a corpus point sits {min_d} from a ring edge"


def test_spatial_join_single_pass_plan(spark, joined_inputs):
    """Round-9 structural guard (replaces the round-6 checkpoint guard): the
    refine stage is a single pass — the candidate lineage (doc-side ancestor
    explode + cell join) appears EXACTLY ONCE in the plan, with no
    interior/boundary Union re-expanding it and no candidate checkpoint
    materialization. The doc-side explode is the only Generate node on the
    broadcast path, and the interior-or-PIP filter rides the same plan."""
    docs, zones = joined_inputs
    out = spatial_join(spark, docs, zones)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan[:800]
    assert plan.count("Generate explode") == 1, plan[:800]
