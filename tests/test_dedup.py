"""The shared near-dup dedup core, called directly: the exact-Jaccard pair
gate and the history-anchored keeper rule used by jobs/append_corpus.py
and streaming.stream_near_dedupe."""

from __future__ import annotations

from tiledspark.dedup import anchored_keepers, jaccard_gate


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"text {i}") for i in ids], "doc_id long, text string"
    )


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def _ids(df):
    return {r["doc_id"] for r in df.collect()}


def test_jaccard_gate_keeps_pairs_at_or_above_threshold(spark):
    cand = spark.createDataFrame(
        [(1, 2, 5, 10), (1, 3, 4, 10), (2, 3, 10, 10)],
        "id_a long, id_b long, n_inter int, n_union int",
    )
    pairs, n_pairs = jaccard_gate(cand, 0.5)
    assert pairs.columns == ["id_a", "id_b"]
    assert n_pairs == 2
    assert {tuple(r) for r in pairs.collect()} == {(1, 2), (2, 3)}


def test_anchored_keepers_base_anchored_chain_drops_every_new_member(spark):
    """History doc 50 anchors the chain 10 ~ 11 ~ 50: both new members go,
    even though the component's min id (10) is a new doc."""
    new = _docs(spark, [10, 11, 12])
    pairs = _pairs(spark, [(10, 11), (11, 50)])
    kept, labels, n_vs_base, n_within = anchored_keepers(new, pairs, 2, "doc_id")
    assert _ids(kept) == {12}
    assert (n_vs_base, n_within) == (2, 0)
    assert {r["id"]: r["comp"] for r in labels.collect()} == {10: 10, 11: 10, 50: 10}


def test_anchored_keepers_floating_component_keeps_min_new_id(spark):
    """A component of new docs only keeps its min id; an anchored one next
    to it still drops all its new members."""
    new = _docs(spark, [20, 21, 22, 30, 40])
    pairs = _pairs(spark, [(21, 20), (22, 21), (30, 7)])
    kept, _, n_vs_base, n_within = anchored_keepers(new, pairs, 3, "doc_id")
    assert _ids(kept) == {20, 40}
    assert (n_vs_base, n_within) == (1, 2)


def test_anchored_keepers_zero_pairs_runs_no_job(spark):
    sc = spark.sparkContext
    new = _docs(spark, [1, 2, 3])
    pairs = _pairs(spark, [])
    group = "anchored-keepers-zero-pairs"
    sc.setJobGroup(group, "keeper rule on a batch without pairs")
    try:
        kept, labels, n_vs_base, n_within = anchored_keepers(new, pairs, 0, "doc_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert kept is new and labels is None
    assert (n_vs_base, n_within) == (0, 0)
