#!/usr/bin/env python
"""Dump .explain('formatted') for every timed bench query (round-9
deliverable: plans/r09/<query>_{before,after}.txt). Usage:
    python bench/dump_plans.py before|after [query ...]
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from tiledspark import synth, tiles  # noqa: E402
from tiledspark.extract import dedupe_latest_by_url, extract_coords  # noqa: E402
from tiledspark.session import get_spark  # noqa: E402

BENCH_CACHE = os.path.join(_REPO, ".bench_cache")


def main() -> None:
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    out_dir = os.path.join(_REPO, "plans", "r09")
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="tiledspark-plans")
    n_pages = int(synth.pages_rows_for_sf_dir(sf_dir))
    pages = spark.read.parquet(synth.ensure_pages(BENCH_CACHE, n_pages))
    zones_path = synth.ensure_zones(BENCH_CACHE)

    docs = (
        dedupe_latest_by_url(extract_coords(pages))
        .where(F.col("lat").isNotNull())
        .withColumn(
            "tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE)
        )
        .select("url", "lat", "lon", "tile_id")
    )
    from tiledspark.cells import with_cell_indexes

    docs = with_cell_indexes(docs, s2_level=13, h3_res=7)

    frames = {}
    frames["tile_build"] = docs

    from tiledspark.tree import build_tile_tree

    if not only or "tile_tree" in only:
        frames["tile_tree"] = build_tile_tree(docs.select("url", "lat", "lon"))

    from tiledspark.join import spatial_join

    if not only or "spatial_join" in only:
        frames["spatial_join"] = spatial_join(
            spark, docs.select("url", "lat", "lon"),
            spark.read.parquet(zones_path),
        )

    # knn: the output plan only (round plans are runtime state; it passes
    # no _round_plans). At the default sf0.1 (600k pages, 180k geocoded
    # docs) the 20 queries make 3.6M pairs, above
    # knn.EXACT_MAX_PAIRS, so the call runs ring rounds; at sf0.01 and
    # below it takes the exact scan
    if not only or "knn_cell_ring" in only:
        import numpy as np
        import pandas as pd

        from tiledspark.knn import knn_cell_ring

        rng = np.random.default_rng(99)
        q = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": np.arange(20),
                    "lat": rng.uniform(-55, 65, 20),
                    "lon": rng.uniform(-170, 170, 20),
                }
            )
        )
        frames["knn_cell_ring"] = knn_cell_ring(
            spark, docs.select("url", "lat", "lon"), q, k=5, zoom=8
        )

    from tiledspark.registry import build_queries

    queries = build_queries()
    for name in (
        "agg_hash_basic",
        "join_inner_hash",
        "window_frame_agg",
        "join_range",
        "dedup_exact",
        "dedup_minhash_lsh",
        "vector_topk_bruteforce",
        "ann_lsh_topk",
    ):
        if not only or name in only:
            frames[name] = queries[name](spark, sf_dir)

    for name, df in frames.items():
        if only and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
