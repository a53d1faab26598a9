"""Tile tree: partition invariants, split/merge rule, determinism, golden
(SURVEY.md §5.2/§5.3; the BASELINE 'golden tile-tree match rate 100%' gate)."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiledspark import tiles
from tiledspark.extract import dedupe_latest_by_url, extract_coords
from tiledspark.tree import assign_docs_to_leaves, build_tile_tree, canonical_tree_rows

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def _doc_points(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    return dedupe_latest_by_url(extract_coords(pages))


def test_tree_invariants_small_max(spark, pages_path):
    """max_docs=64 at sf0.001 forces real splits AND merges."""
    docs = _doc_points(spark, pages_path).cache()
    n_docs = docs.where(F.col("lat").isNotNull()).count()
    tree = build_tile_tree(docs, max_docs=64, z_base=8, z_max=11).cache()

    rows = tree.collect()
    by_state = {}
    for r in rows:
        by_state.setdefault(r["state"], []).append(r)
    assert "materialized" in by_state and "split" in by_state, (
        "expected both leaves and splits at max_docs=64"
    )
    # split tiles exceed the threshold; materialized leaves respect it (except z_max)
    for r in by_state.get("split", []):
        assert r["doc_count"] > 64 and 8 <= r["zoom"] < 11
    for r in by_state["materialized"]:
        assert r["doc_count"] <= 64 or r["zoom"] == 11
    # leaves partition the docs: counts sum to total
    leaf_sum = sum(r["doc_count"] for r in by_state["materialized"])
    assert leaf_sum == n_docs, f"leaf counts {leaf_sum} != docs {n_docs}"
    # every doc lands in exactly one leaf
    assigned = assign_docs_to_leaves(docs, tree, z_max=11)
    assert assigned.count() == n_docs
    assert assigned.select("url").distinct().count() == docs.select("url").where(
        F.col("lat").isNotNull()
    ).distinct().count()
    # root sanity: zoom 0 row holds every doc
    root = [r for r in rows if r["zoom"] == 0]
    assert len(root) == 1 and root[0]["doc_count"] == n_docs
    docs.unpersist()
    tree.unpersist()


def test_tree_deterministic_across_parallelism(spark, pages_path):
    docs = _doc_points(spark, pages_path)
    t1 = canonical_tree_rows(build_tile_tree(docs.repartition(16), max_docs=64, z_base=8, z_max=11))
    t2 = canonical_tree_rows(build_tile_tree(docs.repartition(2), max_docs=64, z_base=8, z_max=11))
    assert t1 == t2


def test_tree_golden_sf0001(spark, pages_path):
    """Frozen golden tree at default SPEC params (FIXTURES.md §4)."""
    docs = _doc_points(spark, pages_path)
    tree = build_tile_tree(docs)  # Z_BASE=14, Z_MAX=18, max_docs=4096
    rows = canonical_tree_rows(tree)
    payload = json.dumps(rows, sort_keys=True, separators=(",", ":"))
    digest = hashlib.sha256(payload.encode()).hexdigest()
    path = os.path.join(GOLDEN_DIR, "tile_tree_sf0.001.json")
    if not os.path.exists(path):  # first generation — freeze it
        os.makedirs(GOLDEN_DIR, exist_ok=True)
        with open(path, "w") as f:
            json.dump({"sha256": digest, "n_rows": len(rows), "rows": rows}, f, indent=1)
        raise AssertionError(f"golden frozen at {path} — rerun to verify")
    with open(path) as f:
        golden = json.load(f)
    assert digest == golden["sha256"], (
        f"tile tree diverged from golden ({len(rows)} rows vs {golden['n_rows']})"
    )


def test_tree_count_table_lineage_cut(spark, pages_path):
    """Round-6 regression guard for the unpersist-before-evaluation fix: the
    returned tree plan must branch from the MATERIALIZED count table
    (checkpoint scan), never re-derive the doc-scale count DAG per
    reference. Before the fix the cache was unpersisted pre-action, so every
    downstream reference (then four; now the two sides of the parent
    self-join) recomputed from the docs scan (1.46x)."""
    docs = _doc_points(spark, pages_path)
    tree = build_tile_tree(docs, max_docs=64)
    plan = tree._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan[:800]
    # no reference may reach back past the checkpoint to the pages source
    assert "parquet" not in plan.lower(), plan[:800]
    # the discriminating assertion: pre-fix, every downstream reference
    # re-expanded the count DAG (measured 6 Aggregate nodes, 4.5x plan
    # size); post-fix the count table is one materialized relation and only
    # the final rollup aggregates remain
    assert plan.count("Aggregate") <= 2, (
        f"{plan.count('Aggregate')} Aggregate nodes — count DAG re-derived "
        f"per reference (lineage cut lost?)\n{plan[:800]}"
    )
    # one-join design: reach is read off the parent count, so the parent
    # self-join is the tree's only join (no ancestor explode, no reach join)
    assert plan.count("Join") == 1, plan


def _model_tree(lon, lat, max_docs, z_base, z_max):
    """The tree the tree.py docstring specifies, in plain Python: counts at
    every zoom straight from np_tile_id, reach by the explicit ancestor
    chain (every ancestor in [z_base, z) has count > max_docs), 'merged' as
    "a proper ancestor is a leaf" -> (canonical rows, number of dropped deep
    tiles whose parent is itself deep and not split)."""
    ids, counts = {}, {}
    for z in range(z_max + 1):
        tid, n = np.unique(tiles.np_tile_id(lon, lat, z), return_counts=True)
        zs, xs, ys = tiles.np_tile_unpack(tid)
        for t, zz, x, y, c in zip(tid.tolist(), zs.tolist(), xs.tolist(), ys.tolist(), n.tolist()):
            ids[(zz, x, y)], counts[(zz, x, y)] = t, c
    mt = max_docs / 4.0

    def anc(k, a):
        z, x, y = k
        return (a, x >> (z - a), y >> (z - a))

    def reached(k):
        return all(counts[anc(k, a)] > max_docs for a in range(z_base, k[0]))

    def is_leaf(k):
        z, c = k[0], counts[k]
        pc = counts[anc(k, z - 1)] if z else None
        if z > z_base:
            return reached(k) and (c <= max_docs or z == z_max)
        if z == z_base:
            return c <= max_docs and (pc or 0) >= mt
        return c < mt and (z == 0 or pc >= mt)

    rows, dropped_under_leaf = [], 0
    for k in sorted(counts, key=ids.get):
        z, x, y = k
        if z > z_base and not reached(k):
            dropped_under_leaf += z - 1 > z_base and reached(anc(k, z - 1))
            continue
        if is_leaf(k):
            state = "materialized"
        elif z_base <= z < z_max and counts[k] > max_docs:
            state = "split"
        elif 0 < z <= z_base and any(is_leaf(anc(k, a)) for a in range(z)):
            state = "merged"
        else:
            state = "interior"
        rows.append({
            "tile_id": str(ids[k]), "zoom": str(z), "x": str(x), "y": str(y),
            "parent_id": str(ids[anc(k, z - 1)]) if z else "",
            "doc_count": str(counts[k]), "state": state,
        })
    return rows, dropped_under_leaf


@pytest.mark.parametrize(
    "max_docs,z_base,z_max", [(64, 8, 11), (16, 8, 14), (2, 4, 9), (32, 0, 5)]
)
def test_tree_matches_python_model(spark, pages_path, max_docs, z_base, z_max):
    """build_tile_tree against the docstring rule evaluated tile by tile,
    at settings that split below z_base (the default-parameter golden has
    no split tile and so never tests reach)."""
    docs = _doc_points(spark, pages_path).where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )
    pdf = docs.select("lon", "lat").toPandas()
    want, dropped = _model_tree(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), max_docs, z_base, z_max
    )
    got = canonical_tree_rows(build_tile_tree(docs, max_docs, z_base, z_max))
    assert any(r["state"] == "split" and int(r["zoom"]) > z_base for r in want)
    if (max_docs, z_base, z_max) == (64, 8, 11):
        # deep tiles under a split base whose own deep parent is a leaf:
        # counted below z_base, dropped as unreached
        assert dropped > 0
    assert got == want
