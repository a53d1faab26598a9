"""kNN cell-ring expansion vs brute-force oracle (SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tiledspark.extract import dedupe_latest_by_url, extract_coords
from tiledspark.knn import knn_cell_ring, haversine_m


def _np_haversine(qlat, qlon, lat, lon):
    R = 6371008.8
    dlat = np.radians(lat - qlat)
    dlon = np.radians(lon - qlon)
    a = (
        np.sin(dlat / 2) ** 2
        + np.cos(np.radians(qlat)) * np.cos(np.radians(lat)) * np.sin(dlon / 2) ** 2
    )
    return 2 * R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def test_knn_matches_bruteforce(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    docs = (
        dedupe_latest_by_url(extract_coords(pages))
        .where(F.col("lat").isNotNull())
        .select("url", "lat", "lon")
        .cache()
    )
    docs_pdf = docs.toPandas()

    rng = np.random.default_rng(99)
    # half near the data clusters, half in sparse regions (forces both the
    # ring-resolution path and the brute-force straggler path)
    idx = rng.choice(len(docs_pdf), 10, replace=False)
    q_lat = np.concatenate([docs_pdf["lat"].to_numpy()[idx] + 0.01, rng.uniform(-55, 65, 10)])
    q_lon = np.concatenate([docs_pdf["lon"].to_numpy()[idx] + 0.01, rng.uniform(-170, 170, 10)])
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(20), "lat": q_lat, "lon": q_lon})
    )

    got = knn_cell_ring(spark, docs, queries, k=5, zoom=8, max_radius=8).toPandas()

    lat = docs_pdf["lat"].to_numpy()
    lon = docs_pdf["lon"].to_numpy()
    urls = docs_pdf["url"].to_numpy()
    for qid in range(20):
        d = _np_haversine(q_lat[qid], q_lon[qid], lat, lon)
        order = np.lexsort((urls, d))[:5]
        exp_urls = list(urls[order])
        sub = got[got["query_id"] == qid].sort_values("rank")
        assert list(sub["url"]) == exp_urls, f"query {qid}: {list(sub['url'])} != {exp_urls}"
        # distances agree with the oracle to float tolerance
        np.testing.assert_allclose(sub["dist_m"].to_numpy(), d[order], rtol=1e-9)
    docs.unpersist()


def test_haversine_known_distance(spark):
    # London -> Paris ≈ 343.5 km
    df = spark.createDataFrame(
        pd.DataFrame({"a": [51.5074], "b": [-0.1278], "c": [48.8566], "d": [2.3522]})
    )
    m = df.select(
        haversine_m(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("m")
    ).collect()[0]["m"]
    assert abs(m - 343_500) < 2_000


def test_knn_rounds_do_not_accumulate_lineage(spark):
    """Round-1 fix: every round's frontier is a materialized localCheckpoint,
    so round t's plan is a flat scan — it must NOT contain the prior rounds'
    left_anti joins (quadratic-lineage guard)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tiledspark.knn import knn_cell_ring

    rng = np.random.default_rng(7)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"u{i}" for i in range(300)],
                "lat": rng.uniform(-60, 60, 300),
                "lon": rng.uniform(-170, 170, 300),
            }
        )
    )
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": range(10), "lat": rng.uniform(-60, 60, 10), "lon": rng.uniform(-170, 170, 10)}
        )
    )
    plans: list[str] = []
    out = knn_cell_ring(spark, docs, queries, k=3, zoom=6, _round_plans=plans)
    assert out.count() > 0
    assert len(plans) >= 2, "expected multiple expansion rounds"
    for p in plans:
        assert "Join" not in p, f"frontier plan still contains joins:\n{p[:800]}"
        assert "Scan ExistingRDD" in p or "LogicalRDD" in p or "Checkpoint" in p


def test_knn_self_join_matches_bruteforce(spark):
    """Corpus-as-queries: every doc's k nearest OTHERS equal the numpy
    all-pairs oracle, including co-located distinct docs (self excluded by
    key, never by rank)."""
    from tiledspark.knn import knn_self_join

    rng = np.random.default_rng(7)
    n = 120
    lat = rng.uniform(-50, 60, n)
    lon = rng.uniform(-160, 160, n)
    # two co-located pairs: dist-0 neighbors must survive self-exclusion
    lat[10], lon[10] = lat[11], lon[11]
    lat[20], lon[20] = lat[21], lon[21]
    pdf = pd.DataFrame({"url": [f"u{i:03d}" for i in range(n)], "lat": lat, "lon": lon})
    docs = spark.createDataFrame(pdf)

    got = knn_self_join(spark, docs, k=3, zoom=6, max_radius=32).toPandas()
    urls = pdf["url"].to_numpy()
    for i in range(n):
        d = _np_haversine(lat[i], lon[i], lat, lon)
        d[i] = np.inf  # exclude self by identity, like the operator
        order = np.lexsort((urls, d))[:3]
        sub = got[got["query_key"] == urls[i]].sort_values("rank")
        assert list(sub["url"]) == list(urls[order]), urls[i]
    # the co-located partner is each pair's rank-1 neighbor at dist 0
    for a, b in ((10, 11), (20, 21)):
        row = got[(got["query_key"] == urls[a]) & (got["rank"] == 1)].iloc[0]
        assert row["url"] == urls[b] and row["dist_m"] == 0.0


def _settled_persistent_rdds(spark, floor=None, timeout_s=30.0):
    """Persistent-RDD count once unreachable local checkpoints are cleaned.

    Checkpoint blocks stay registered until the JVM ContextCleaner drops
    them after GC, so the raw count drifts with GC timing. Poll with forced
    GCs until the count stops changing (or reaches `floor`)."""
    import gc
    import time

    sc = spark.sparkContext
    deadline = time.monotonic() + timeout_s
    seen: list[int] = []
    while True:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.5)
        seen.append(sc._jsc.getPersistentRDDs().size())
        if floor is not None and seen[-1] <= floor:
            return seen[-1]
        if floor is None and len(seen) >= 3 and len(set(seen[-3:])) == 1:
            return seen[-1]
        if time.monotonic() > deadline:
            return seen[-1]


def _knn_cache_inputs(spark):
    # docs clustered in one 1x1 degree box; query 1 sits far outside it, so
    # it needs more than one round and ends in the brute-force path
    docs = spark.range(400).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.lit(10.0) + (F.col("id") % 20) * 0.05).alias("lat"),
        (F.lit(10.0) + (F.col("id") / 20).cast("int") * 0.05).alias("lon"),
    )
    queries = spark.createDataFrame(
        [(0, 10.5, 10.5), (1, -40.0, -120.0)], "query_id long, lat double, lon double"
    )
    return docs, queries


def test_knn_doc_cache_freed_after_looped_calls(spark):
    """knn_cell_ring caches the doc cells per call; ten calls in one session
    leave no persisted RDD behind."""
    docs, queries = _knn_cache_inputs(spark)
    before = _settled_persistent_rdds(spark)
    for _ in range(10):
        rows = knn_cell_ring(spark, docs, queries, k=3, max_radius=8).collect()
        assert len(rows) == 6
    del rows
    assert _settled_persistent_rdds(spark, floor=before) <= before


def test_knn_doc_cache_freed_when_call_fails(spark):
    """The doc-cell cache is dropped on the failure path too: a call that
    fails in its first action, and one that fails after a round has
    materialized the cache."""
    import pytest

    docs, queries = _knn_cache_inputs(spark)
    bad_queries = queries.withColumn(
        "lat", F.raise_error(F.lit("bad query")).cast("double")
    )

    class _FailOnSecondRound(list):
        def append(self, plan):
            if self:
                raise RuntimeError("injected failure in round 2")
            super().append(plan)

    before = _settled_persistent_rdds(spark)
    with pytest.raises(Exception, match="bad query"):
        knn_cell_ring(spark, docs, bad_queries, k=3)
    with pytest.raises(RuntimeError, match="round 2"):
        knn_cell_ring(
            spark, docs, queries, k=3, max_radius=8,
            _round_plans=_FailOnSecondRound(),
        )
    assert _settled_persistent_rdds(spark, floor=before) <= before
