"""Grid-partitioned kNN via cell-ring expansion (SURVEY.md op 19; north_star:
"grid-partitioned kNN via cell-ring expansion").

Strategy: geometrically growing block radii (×`growth` per round, default
r = 1, 8, 64, ...). Round t explores the (2r+1)x(2r+1) tile block
around each unresolved query: explode the block cells on
the (small) query side, equi-join against the doc cell index, take each
query's k nearest by haversine. A query RESOLVES when its kth distance is <=
the exact geographic distance from the query point to the block's edge — any
unseen doc lies beyond that edge, so the top-k is provably final.
Stragglers in empty regions fall back to a broadcast brute-force pass.

Scale shape: the docs side is touched only through equi-joins on cell (hash
shuffle or broadcast of the exploded query cells — queries are the small
side). No cross join ever materializes at planet scale; per round the work is
|queries_unresolved| x block_cells join fan-in.

Distances: haversine in native Column math (op 20 — UDF-free, codegen'd).
Ties broken by doc key → fully deterministic output.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiledspark import tiles

EARTH_R = 6371008.8  # meters (IUGG mean)


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def haversine_m(lat1, lon1, lat2, lon2):
    """Great-circle distance in meters, pure Column math."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_R) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def _tile_lat_bounds(y, zoom):
    """Mercator tile north/south latitude bounds as Column exprs."""
    n = float(1 << zoom)
    def lat_of(yy):
        return F.degrees(F.atan(F.sinh(F.lit(math.pi) * (1 - 2 * yy / F.lit(n)))))
    return lat_of(y + F.lit(1.0)), lat_of(y.cast("double"))  # (south, north)


def knn_cell_ring(
    spark: SparkSession,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    zoom: int = 8,
    doc_key: str = "url",
    max_radius: int = 64,
    _round_plans: list | None = None,
    adaptive_start: bool = False,
    growth: int = 8,
) -> DataFrame:
    """docs(lat, lon, <doc_key>), queries(query_id, lat, lon) ->
    (query_id, rank, <doc_key>, dist_m). Deterministic.

    Each round's `unresolved` frontier and resolved output are
    localCheckpoint'ed (round-1 fix): without the cut, round t re-derives
    every prior round's left_anti joins, turning the loop quadratic — at 10^6
    queries that is the difference between linear and quadratic work. The
    checkpoint materializes only the (small) query frontier, never docs.
    _round_plans (test hook): appends each round's unresolved plan string.

    Round-3 (VERDICT r2 #8): with adaptive_start=True the block radius is
    PER QUERY, seeded by a density pre-pass (ring-0 3x3 doc counts -> the
    radius a uniform-density estimate needs for k docs, rounded up to a
    power of two). Sparse-region queries skip their guaranteed-empty early
    rounds instead of paying one Spark job per growth step; dense-region
    queries still start at r=1. The resolution rule (exact edge bound) is
    unchanged, so results are IDENTICAL — only the number of rounds a query
    participates in changes. Measured (bench/knn_adaptive_probe.py): 1.65x
    at 1k mixed-density queries on a sparse 50k-page corpus, ~1.0x on the
    dense 600k-page corpus. OFF by default because the pre-pass costs one
    doc-scale aggregate — pure overhead for few-query calls; turn it on for
    large sparse query batches.

    Round-4 (per-round cost): each round now runs the doc-side join EXACTLY
    once (topk is the round's single eager checkpoint; resolved rows and
    the done/survivor split derive from the materialized frame — the old
    shape materialized the resolved subset AND re-ran the whole join+window
    for the survivor stats, 2 doc-scale jobs per round). `growth` sets the
    radius multiplier between rounds (round 9 default 8 → radii 1, 8, 64,
    was 4 → 1, 4, 16, 64): the resolution rule is an exact per-round edge
    bound, so results are identical for ANY growth factor — a larger factor
    trades a few more candidate cells per round for proportionally fewer
    fixed-cost driver rounds, the dominant term now that each round is one
    Spark job (the r9 event-log audit measured knn wall dominated by
    inter-job driver gaps, not task time).
    """
    if growth < 2:
        raise ValueError(
            f"growth must be >= 2 (got {growth}): the radius must expand "
            "between rounds for the loop to terminate"
        )
    doc_cells = (
        docs.where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .select(
            F.col(doc_key).alias("_dk"),
            F.col("lat").alias("d_lat"),
            F.col("lon").alias("d_lon"),
            tiles.tile_id_expr(F.col("lon"), F.col("lat"), zoom).alias("cell"),
        )
        .cache()
    )
    # the cache lives for this call only, whether it returns or raises
    try:
        return _ring_search(
            doc_cells, queries, k, zoom, doc_key, max_radius, _round_plans,
            adaptive_start, growth,
        )
    finally:
        doc_cells.unpersist()


def _ring_search(
    doc_cells: DataFrame,
    queries: DataFrame,
    k: int,
    zoom: int,
    doc_key: str,
    max_radius: int,
    _round_plans: list | None,
    adaptive_start: bool,
    growth: int,
) -> DataFrame:
    """knn_cell_ring's round loop over the cached doc cells (_dk, d_lat,
    d_lon, cell). Every part of the returned frame is checkpointed before
    it returns, so the caller may drop the doc-cell cache right after."""
    n = 1 << zoom
    q0 = queries.select(
        "query_id",
        F.col("lat").alias("q_lat"),
        F.col("lon").alias("q_lon"),
        tiles.tile_x_expr(F.col("lon"), zoom).alias("qx"),
        tiles.tile_y_expr(F.col("lat"), zoom).alias("qy"),
    )
    if adaptive_start:
        # density pre-pass: docs in the query's 3x3 ring-0 block; one narrow
        # aggregate over doc_cells + one equi-join on the exploded block
        cell_counts = doc_cells.groupBy("cell").agg(F.count(F.lit(1)).alias("_cnt"))
        probe = q0.select(
            "query_id",
            F.explode(
                F.array(
                    *[
                        tiles.tile_pack_expr(
                            zoom,
                            F.pmod(F.col("qx") + F.lit(dx), F.lit(n)),
                            F.col("qy") + F.lit(dy),
                        )
                        for dx in (-1, 0, 1)
                        for dy in (-1, 0, 1)
                    ]
                )
            ).alias("cell"),
        )
        ring0 = (
            probe.join(cell_counts, "cell")
            .groupBy("query_id")
            .agg(F.sum("_cnt").alias("_cnt9"))
        )
        # uniform-density estimate: need block area ~ 9k/cnt9 cells ->
        # side ~ 3*sqrt(k/cnt9) -> r0 = ceil((side-1)/2), snapped up to a
        # power of two (alignment with later growth steps is cosmetic —
        # the resolution rule is exact at ANY radius); clamped to
        # [1, max_radius]. Queries with NO ring-0 docs get the estimate as
        # if cnt9 = 1 (sparse -> start wide).
        est_side = F.lit(3.0) * F.sqrt(F.lit(float(k)) / F.coalesce(F.col("_cnt9"), F.lit(1)).cast("double"))
        r0 = F.ceil((est_side - F.lit(1.0)) / F.lit(2.0)).cast("double")
        r0 = F.greatest(r0, F.lit(1.0))
        r0 = F.pow(F.lit(2.0), F.ceil(F.log2(r0)))  # snap up to power of two
        q0 = (
            q0.join(ring0, "query_id", "left")
            .withColumn(
                "r", F.least(r0, F.lit(float(max_radius))).cast("int")
            )
            .drop("_cnt9")
        )
    else:
        q0 = q0.withColumn("r", F.lit(1))

    resolved_parts: list[DataFrame] = []
    straggler_parts: list[DataFrame] = []
    # Round 9 (guide §2.6 / TIMELINE_r8's job-count term): the driver loop
    # now runs ONE Spark job per round instead of three. Lazy localCheckpoint
    # + a count/agg action materializes the checkpoint blocks inside the same
    # job that returns the driver its loop-control scalar (eager-materialize
    # + take(1) was two jobs), and the round's topk checkpoint is lazy too —
    # it materializes inside the survivors job, whose lineage passes through
    # it exactly once. Results are identical: only job boundaries moved.
    q0 = q0.localCheckpoint(eager=False)
    n_unresolved = q0.count()  # materializes q0's blocks in the same job
    unresolved = q0
    n_stragglers = 0
    # x wraps around the antimeridian: within one query's block the packed
    # cells are distinct unless the block width 2r+1 exceeds the ring size n
    # (r never exceeds max_radius), so the dedup exchange is only planned
    # when a wrap collision is possible at all (guide §2.4: remove shuffles
    # outright)
    need_wrap_dedup = (2 * max_radius + 1) > n
    max_rounds = max(1, math.ceil(math.log(max_radius, growth)) + 1)
    for _ in range(max_rounds):
        if not n_unresolved:
            break
        if _round_plans is not None:
            _round_plans.append(
                unresolved._jdf.queryExecution().executedPlan().toString()
            )
        r = F.col("r")
        # block cells: x wraps around the antimeridian, y clips at the poles
        dxy = F.sequence(-r, r)
        cand_cells = (
            unresolved.withColumn("dx", F.explode(dxy))
            .withColumn("dy", F.explode(dxy))
            .select(
                "query_id", "q_lat", "q_lon", "qx", "qy", "r",
                tiles.tile_pack_expr(
                    zoom,
                    F.pmod(F.col("qx") + F.col("dx"), F.lit(n)),
                    F.col("qy") + F.col("dy"),
                ).alias("cell"),
                F.col("dy"),
            )
            .where((F.col("qy") + F.col("dy") >= 0) & (F.col("qy") + F.col("dy") < n))
            .drop("dy")
        )
        if need_wrap_dedup:
            cand_cells = cand_cells.distinct()
        # the round's ONLY doc-scale pass; lazy checkpoint — materialized by
        # the survivors job below (single lineage reference), then re-read
        # from blocks by the resolved_parts union at the caller's action
        topk = (
            cand_cells.join(doc_cells, "cell")
            .withColumn(
                "dist_m",
                haversine_m(F.col("q_lat"), F.col("q_lon"), F.col("d_lat"), F.col("d_lon")),
            )
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.asc("dist_m"), F.asc("_dk"))
                ),
            )
            .where(F.col("rank") <= k)
            .localCheckpoint(eager=False)
        )
        stats = topk.groupBy("query_id", "q_lat", "q_lon", "qx", "qy", "r").agg(
            F.count(F.lit(1)).alias("n_found"), F.max("dist_m").alias("kth_dist")
        )
        # Exact lower bound on any UNSEEN doc = distance to the block edge.
        # Latitudinal: haversine straight north/south to the edge parallels.
        # Longitudinal: cross-track distance to the great circle through the
        # edge meridian, R*asin(|sin(dlon)|*cos(lat)) — the along-parallel
        # distance would OVERestimate and resolve queries too early.
        rr = F.col("r")
        s_edge, _ = _tile_lat_bounds(F.col("qy") + rr.cast("double"), zoom)
        _, n_edge = _tile_lat_bounds(F.col("qy") - rr.cast("double"), zoom)
        at_pole_n = (F.col("qy") - rr) <= 0
        at_pole_s = (F.col("qy") + rr) >= (n - 1)
        dlon_rad = F.radians(rr.cast("double") * F.lit(360.0 / n))
        wraps = (F.lit(2) * rr + F.lit(1)) >= F.lit(n)
        lon_bound = F.when(wraps, F.lit(float("inf"))).otherwise(
            F.lit(EARTH_R)
            * F.asin(F.abs(F.sin(dlon_rad)) * F.cos(F.radians(F.col("q_lat"))))
        )
        edge_bound = F.least(
            lon_bound,
            F.when(at_pole_s, F.lit(float("inf"))).otherwise(
                haversine_m(F.col("q_lat"), F.col("q_lon"), s_edge, F.col("q_lon"))
            ),
            F.when(at_pole_n, F.lit(float("inf"))).otherwise(
                haversine_m(F.col("q_lat"), F.col("q_lon"), n_edge, F.col("q_lon"))
            ),
        )
        stats = stats.withColumn("bound", edge_bound)
        done_ids = stats.where(
            (F.col("n_found") == k) & (F.col("kth_dist") <= F.col("bound"))
        ).select("query_id")
        resolved_parts.append(
            topk.join(done_ids, "query_id", "left_semi")
            .select("query_id", "rank", F.col("_dk").alias(doc_key), "dist_m")
        )
        # survivors that already explored max_radius exit to brute force;
        # the rest grow their radius and continue (checkpointed so the next
        # round's frontier plan stays a flat scan — test_knn asserts it).
        # ONE job: the agg materializes the survivors checkpoint (and the
        # topk checkpoint upstream of it) and hands the driver both loop
        # scalars — the continuing-frontier size and the straggler count.
        survivors = unresolved.join(done_ids, "query_id", "left_anti").localCheckpoint(
            eager=False
        )
        counts = survivors.agg(
            F.count(F.lit(1)).alias("n_all"),
            F.sum((F.col("r") < max_radius).cast("int")).alias("n_cont"),
        ).collect()[0]
        n_unresolved = int(counts["n_cont"] or 0)
        n_stragglers += int(counts["n_all"]) - n_unresolved
        straggler_parts.append(survivors.where(F.col("r") >= max_radius))
        unresolved = survivors.where(F.col("r") < max_radius).withColumn(
            "r", F.least(F.col("r") * growth, F.lit(max_radius)).cast("int")
        )
    # anything the loop never resolved: max-radius exits + loop-exhausted
    n_stragglers += n_unresolved
    straggler_parts.append(unresolved)
    unresolved = _union_all(straggler_parts)

    # stragglers: brute force (queries side is tiny by now; the gate is a
    # driver-tracked scalar — no take(1) job)
    if n_stragglers:
        brute = (
            unresolved.crossJoin(doc_cells.drop("cell"))
            .withColumn(
                "dist_m",
                haversine_m(F.col("q_lat"), F.col("q_lon"), F.col("d_lat"), F.col("d_lon")),
            )
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.asc("dist_m"), F.asc("_dk"))
                ),
            )
            .where(F.col("rank") <= k)
            .select("query_id", "rank", F.col("_dk").alias(doc_key), "dist_m")
            # eager, like every round's topk: the straggler scan must run
            # WHILE the doc_cells cache is warm — lazily it would evaluate
            # at the caller's action, after the unpersist below, recomputing
            # the doc-scale projection uncached (round-6 audit)
            .localCheckpoint(eager=True)
        )
        resolved_parts.append(brute)

    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    return out


def knn_self_join(
    spark: SparkSession,
    docs: DataFrame,
    k: int = 5,
    zoom: int = 8,
    doc_key: str = "url",
    max_radius: int = 64,
    growth: int = 8,
    adaptive_start: bool = True,
) -> DataFrame:
    """k nearest OTHER docs for EVERY doc (the all-pairs spatial workload:
    nearest-neighbor statistics, density features, duplicate-location
    detection) -> (query_key, rank, <doc_key>, dist_m).

    Pure composition: every doc becomes a query into the same cell-ring
    engine (the query side is a DataFrame, so corpus-as-queries needs no
    new machinery — the driver loop is per-ROUND, not per-query). Self
    matches are excluded AFTER resolution by asking for k+1 and re-ranking:
    a doc's own row is dist 0 but co-located distinct docs also score 0, so
    filtering by key (not by rank-1) keeps exactly the true k others.
    adaptive_start defaults ON here — corpus-as-queries is precisely the
    large mixed-density batch the per-query start radius was measured 1.65x
    on (see knn_cell_ring's docstring)."""
    queries = docs.where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    ).select(F.col(doc_key).alias("query_id"), "lat", "lon")
    got = knn_cell_ring(
        spark, docs, queries, k=k + 1, zoom=zoom, doc_key=doc_key,
        max_radius=max_radius, growth=growth, adaptive_start=adaptive_start,
    )
    out = got.where(F.col("query_id") != F.col(doc_key))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist_m"), F.asc(doc_key))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("query_id").alias("query_key"), "rank", doc_key, "dist_m")
    )
