"""Grid-partitioned kNN via cell-ring expansion (SURVEY.md op 19; north_star:
"grid-partitioned kNN via cell-ring expansion").

Two exact paths, chosen per call from |queries| x |docs|. Both counts are
known before any search: |queries| from the job that checkpoints the
queries, |docs| from the job that fills the doc-cell cache.

- Exact scan, when |queries| x |docs| <= EXACT_MAX_PAIRS: the docs cross
  join the queries (the side with fewer rows is broadcast), and each query
  keeps its k nearest by haversine. One pass and no rounds: a call on a
  small batch runs 6 jobs, against 30 for the rounds on serve_mixed's.
- Ring rounds, above the budget: geometrically growing block radii
  (×GROWTH per round: r = 1, 8, 64, ...). Round t explores the
  (2r+1)x(2r+1) tile block around each unresolved query: explode the block
  cells on the (small) query side, equi-join against the doc cell index,
  take each query's k nearest by haversine. A query RESOLVES when its kth
  distance is <= the exact geographic distance from the query point to the
  block's edge — any unseen doc lies beyond that edge, so the top-k is
  provably final. Stragglers in empty regions take the exact scan.

Both paths return the same rows (tests/test_knn.py pins them equal). The
budget sits below the measured crossover: 20 queries (half near docs, half
uniform), k=5, zoom 8, local[4] on 4 cores, median of 3 calls, process-tree
CPU; rows identical on both paths at every size. The first docs set is
20k synthetic pages' geocoded docs (clustered), the rest are uniform.

  | docs  | pairs | ring wall / cpu | exact wall / cpu |
  | ----- | ----- | --------------- | ---------------- |
  | 6.7k  | 133k  | 3.2 s / 10.3 s  | 0.8 s / 2.4 s    |
  | 50k   | 1M    | 1.8 s / 3.8 s   | 1.1 s / 3.7 s    |
  | 100k  | 2M    | 2.9 s / 8.8 s   | 1.7 s / 5.3 s    |
  | 200k  | 4M    | 2.5 s / 5.8 s   | 2.9 s / 9.8 s    |
  | 1M    | 20M   | 3.6 s / 9.7 s   | 12.0 s / 44.7 s  |

The ring's cost is a fixed number of rounds of small jobs; the scan's
grows with the pairs.

Scale shape: above the budget the docs side is touched only through
equi-joins on cell (hash shuffle or broadcast of the exploded query cells —
queries are the small side). No cross join over more than EXACT_MAX_PAIRS
pairs ever runs except for stragglers; per round the work is
|queries_unresolved| x block_cells join fan-in.

Distances: haversine in native Column math (op 20 — UDF-free, codegen'd).
Ties broken by doc key → fully deterministic output.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiledspark import tiles
from tiledspark.lineage import checkpoint, materialize
from tiledspark.topk import check_k, top_k

EARTH_R = 6371008.8  # meters (IUGG mean)
# block-radius multiplier between ring rounds (radii 1, 8, 64). The
# resolution rule is an exact per-round edge bound, so results are identical
# for any factor >= 2; a larger one trades a few more candidate cells per
# round for fewer rounds, and knn wall is dominated by the driver gaps
# between rounds' jobs, not by task time.
GROWTH = 8
# |queries| x |docs| at or below which every query takes the one exact
# scan instead of ring rounds: just under the measured crossover (module
# docstring), between 2M pairs, where the scan still used less cpu, and 4M
EXACT_MAX_PAIRS = 1 << 21


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


def _nearest(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, q_lat, q_lon, _dk, d_lat, d_lon, ...) pairs -> each
    query's k nearest by haversine, with dist_m and rank 1..k; ties by
    doc key."""
    scored = pairs.withColumn(
        "dist_m",
        haversine_m(F.col("q_lat"), F.col("q_lon"), F.col("d_lat"), F.col("d_lon")),
    )
    return top_k(scored, k, "query_id", [F.asc("dist_m"), F.asc("_dk")], rank="rank")


def knn_cell_ring(
    spark: SparkSession,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    zoom: int = 8,
    doc_key: str = "url",
    max_radius: int = 64,
    _round_plans: list | None = None,
) -> DataFrame:
    """docs(lat, lon, <doc_key>), queries(query_id, lat, lon) ->
    (query_id, rank, <doc_key>, dist_m). Deterministic. A batch with
    |queries| x |docs| <= EXACT_MAX_PAIRS takes one exact scan; the rest of
    this docstring is about the ring rounds that larger batches run.

    Each round's `unresolved` frontier and resolved output are
    checkpointed (round-1 fix): without the cut, round t re-derives every
    prior round's left_anti joins, turning the loop quadratic — at 10^6
    queries that is the difference between linear and quadratic work. The
    checkpoint materializes only the (small) query frontier, never docs.
    _round_plans (test hook): appends each round's unresolved plan string.

    Round-4 (per-round cost): each round runs the doc-side join EXACTLY
    once (topk is checkpointed; resolved rows and the done/survivor split
    derive from the materialized frame — the old shape
    materialized the resolved subset AND re-ran the whole join+window for
    the survivor stats, 2 doc-scale jobs per round).
    """
    check_k("knn_cell_ring", k)
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
        unresolved, c = checkpoint(
            queries.select(
                "query_id",
                F.col("lat").alias("q_lat"),
                F.col("lon").alias("q_lon"),
                tiles.tile_x_expr(F.col("lon"), zoom).alias("qx"),
                tiles.tile_y_expr(F.col("lat"), zoom).alias("qy"),
                F.lit(1).alias("r"),
            ),
            n=F.count(F.lit(1)),
        )
        n_queries = c["n"]
        n_docs = materialize(doc_cells, n=F.count(F.lit(1)))["n"]
        if n_queries * n_docs <= EXACT_MAX_PAIRS:
            return _exact_topk(unresolved, n_queries, doc_cells, n_docs, k, doc_key)
        return _ring_search(
            doc_cells, n_docs, unresolved, n_queries, k, zoom, doc_key,
            max_radius, _round_plans,
        )
    finally:
        doc_cells.unpersist()


def _exact_topk(
    queries: DataFrame, n_queries: int, doc_cells: DataFrame, n_docs: int,
    k: int, doc_key: str,
) -> DataFrame:
    """Every query's exact top-k over all doc cells. Within
    EXACT_MAX_PAIRS the cross join broadcasts whichever side has fewer
    rows, at most sqrt(EXACT_MAX_PAIRS) ~ 1.4k: both counts are known,
    while the planner's size estimate for queries built from a Python list
    is unbounded, so by its own choice it broadcasts the docs. Above the
    budget (ring stragglers) neither side is bounded, and the planner
    chooses. The ranking is topk.top_k, which plans a partial
    WindowGroupLimit before the exchange, so at most partitions x
    |queries| x k rows are shuffled.
    Checkpointed eagerly, so it runs while the doc-cell cache is warm —
    lazily it would evaluate at the caller's action, after the unpersist,
    and recompute the docs uncached."""
    queries = queries.select("query_id", "q_lat", "q_lon")
    docs = doc_cells.drop("cell")
    if n_queries * n_docs <= EXACT_MAX_PAIRS:
        if n_queries <= n_docs:
            queries = F.broadcast(queries)
        else:
            docs = F.broadcast(docs)
    return (
        _nearest(docs.crossJoin(queries), k)
        .select("query_id", "rank", F.col("_dk").alias(doc_key), "dist_m")
        .localCheckpoint(eager=True)
    )


def _ring_search(
    doc_cells: DataFrame,
    n_docs: int,
    unresolved: DataFrame,
    n_unresolved: int,
    k: int,
    zoom: int,
    doc_key: str,
    max_radius: int,
    _round_plans: list | None,
) -> DataFrame:
    """knn_cell_ring's round loop over the n_docs cached doc cells (_dk,
    d_lat, d_lon, cell), from the n_unresolved >= 1 checkpointed queries
    (query_id, q_lat, q_lon, qx, qy, r). Every part of the returned frame
    is checkpointed before it returns, so the caller may drop the doc-cell
    cache right after."""
    n = 1 << zoom
    resolved_parts: list[DataFrame] = []
    straggler_parts: list[DataFrame] = []
    n_stragglers = 0
    # x wraps around the antimeridian: within one query's block the packed
    # cells are distinct unless the block width 2r+1 exceeds the ring size n
    # (r never exceeds max_radius), so the dedup exchange is only planned
    # when a wrap collision is possible at all (guide §2.4: remove shuffles
    # outright)
    need_wrap_dedup = (2 * max_radius + 1) > n
    max_rounds = max(1, math.ceil(math.log(max_radius, GROWTH)) + 1)
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
        # the survivors checkpoint below, then re-read from blocks by the
        # resolved_parts union at the caller's action
        topk = _nearest(cand_cells.join(doc_cells, "cell"), k).localCheckpoint(
            eager=False
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
        # The checkpoint job also materializes the topk checkpoint upstream.
        survivors, c = checkpoint(
            unresolved.join(done_ids, "query_id", "left_anti"),
            n_all=F.count(F.lit(1)),
            n_cont=F.sum((F.col("r") < max_radius).cast("int")),
        )
        n_unresolved = c["n_cont"]
        n_stragglers += c["n_all"] - n_unresolved
        straggler_parts.append(survivors.where(F.col("r") >= max_radius))
        unresolved = survivors.where(F.col("r") < max_radius).withColumn(
            "r", F.least(F.col("r") * GROWTH, F.lit(max_radius)).cast("int")
        )
    # anything the loop never resolved: max-radius exits + loop-exhausted
    n_stragglers += n_unresolved
    straggler_parts.append(unresolved)
    unresolved = _union_all(straggler_parts)

    # stragglers: brute force (queries side is tiny by now; the gate is a
    # driver-tracked scalar — no take(1) job)
    if n_stragglers:
        resolved_parts.append(
            _exact_topk(unresolved, n_stragglers, doc_cells, n_docs, k, doc_key)
        )
    return _union_all(resolved_parts)


def knn_self_join(
    spark: SparkSession,
    docs: DataFrame,
    k: int = 5,
    zoom: int = 8,
    doc_key: str = "url",
    max_radius: int = 64,
) -> DataFrame:
    """k nearest OTHER docs for EVERY doc (the all-pairs spatial workload:
    nearest-neighbor statistics, density features, duplicate-location
    detection) -> (query_key, rank, <doc_key>, dist_m).

    Pure composition: every doc becomes a query into the same cell-ring
    engine (the query side is a DataFrame, so corpus-as-queries needs no
    new machinery — the driver loop is per-ROUND, not per-query). Self
    matches are excluded AFTER resolution by asking for k+1 and re-ranking:
    a doc's own row is dist 0 but co-located distinct docs also score 0, so
    filtering by key (not by rank-1) keeps exactly the true k others."""
    check_k("knn_self_join", k)
    queries = docs.where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    ).select(F.col(doc_key).alias("query_id"), "lat", "lon")
    got = knn_cell_ring(
        spark, docs, queries, k=k + 1, zoom=zoom, doc_key=doc_key,
        max_radius=max_radius,
    )
    others = got.where(F.col("query_id") != F.col(doc_key))
    return top_k(
        others, k, "query_id", [F.asc("dist_m"), F.asc(doc_key)], rank="rank"
    ).select(F.col("query_id").alias("query_key"), "rank", doc_key, "dist_m")
