"""topk.top_k, the one top-k-per-group window, and the guaranteed-k APIs
that rank with it rejecting k < 1 before any Spark job."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from conftest import jobs_in_group
from tiledspark import knn, vector
from tiledspark.topk import top_k

PKG = os.path.join(os.path.dirname(__file__), "..", "tiledspark")
# the registry queries mirror their DuckDB oracle SQL window for window
ORACLE_MIRRORS = {"queries_extra.py", "queries_relational.py", "queries_window.py"}

# (group, score, key): group "a" ties on score 2.0 across keys 3, 1 and 2
ROWS = [
    ("a", 2.0, 3), ("a", 2.0, 1), ("a", 5.0, 9), ("a", 2.0, 2), ("a", 1.0, 4),
    ("b", 7.0, 8), ("b", 7.0, 6),
    ("c", 3.0, 5),
]
SCHEMA = "g string, score double, key long"


def _order():
    return [F.desc("score"), F.asc("key")]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_top_k_ties_broken_by_last_key_on_any_partitioning(spark):
    want = [
        ("a", 2.0, 1, 2), ("a", 2.0, 2, 3), ("a", 5.0, 9, 1),
        ("b", 7.0, 6, 1), ("b", 7.0, 8, 2),
        ("c", 3.0, 5, 1),
    ]
    for n_parts in (1, 7):
        df = spark.createDataFrame(ROWS, SCHEMA).repartition(n_parts)
        got = top_k(df, 3, "g", _order(), rank="rank")
        assert got.columns == ["g", "score", "key", "rank"]
        assert _rows(got) == want


def test_top_k_k_at_least_group_size_keeps_whole_group(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = top_k(df, 5, "g", _order())
    assert got.columns == df.columns
    assert _rows(got) == sorted(ROWS)


def test_top_k_empty_input_keeps_schema(spark):
    df = spark.createDataFrame([], SCHEMA)
    assert top_k(df, 2, "g", _order()).schema == df.schema
    ranked = top_k(df, 2, ["g", "score"], [F.asc("key")], rank="r")
    assert ranked.columns == ["g", "score", "key", "r"]
    assert ranked.collect() == []


def test_top_k_plans_window_group_limit(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    for k in (1, 3):
        plan = top_k(df, k, "g", _order())._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan


def test_row_number_only_in_top_k_and_oracle_mirrors():
    offenders = [
        os.path.basename(p)
        for p in glob.glob(os.path.join(PKG, "*.py"))
        if os.path.basename(p) not in ORACLE_MIRRORS | {"topk.py"}
        and "F.row_number()" in open(p).read()
    ]
    assert offenders == [], f"rank with topk.top_k instead: {offenders}"


def _knn_args(spark):
    docs = spark.createDataFrame([("d", 1.0, 2.0)], "url string, lat double, lon double")
    queries = spark.createDataFrame([(1, 1.0, 2.0)], "query_id long, lat double, lon double")
    return docs, queries


def _emb(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )


QUERIES = [(7, [1.0, 0.5])]
K_APIS = {
    "ann_topk_lsh": lambda s, k: vector.ann_topk_lsh(s, _emb(s), QUERIES[0][1], k=k),
    "ann_topk_ivf": lambda s, k: vector.ann_topk_ivf(s, _emb(s), QUERIES[0][1], k=k),
    "ann_topk_sq8": lambda s, k: vector.ann_topk_sq8(s, _emb(s), QUERIES[0][1], k=k),
    "knn_cell_ring": lambda s, k: knn.knn_cell_ring(s, *_knn_args(s), k=k),
    "knn_self_join": lambda s, k: knn.knn_self_join(s, _knn_args(s)[0], k=k),
    "ann_topk_lsh_batch": lambda s, k: vector.ann_topk_lsh_batch(s, _emb(s), QUERIES, k=k),
    "ann_topk_ivf_batch": lambda s, k: vector.ann_topk_ivf_batch(s, _emb(s), QUERIES, k=k),
    "ann_topk_sq8_batch": lambda s, k: vector.ann_topk_sq8_batch(s, _emb(s), QUERIES, k=k),
    "knn_embedding_self_join": lambda s, k: vector.knn_embedding_self_join(s, _emb(s), k=k),
}


@pytest.mark.parametrize("k", [0, -1])
@pytest.mark.parametrize("api", sorted(K_APIS))
def test_k_below_one_fails_before_any_job(spark, api, k):
    def call():
        with pytest.raises(ValueError, match="k must be >= 1"):
            K_APIS[api](spark, k)

    _, n_jobs = jobs_in_group(spark.sparkContext, f"k-below-one-{api}-{k}", call)
    assert n_jobs == 0
