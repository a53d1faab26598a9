from __future__ import annotations

from conftest import jobs_in_group
from pyspark.sql import functions as F

from tiledspark.lineage import (
    checkpoint,
    observed,
    partition_lineage,
    with_partition_stamp,
)


def test_observed_counts(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out, obs = observed(df.where(F.col("o_totalprice") > 0))
    n = out.count()
    assert obs.get["rows"] == n > 0


def test_checkpoint_scalars_equal_count_and_agg(spark):
    df = spark.range(200).where(F.col("id") % 3 != 0).repartition(4)
    out, c = checkpoint(
        df,
        n=F.count(F.lit(1)),
        total=F.sum("id"),
        big=F.sum((F.col("id") > 100).cast("int")),
    )
    want = df.agg(
        F.sum("id").alias("total"), F.sum((F.col("id") > 100).cast("int")).alias("big")
    ).collect()[0]
    assert c == {"n": df.count(), "total": want["total"], "big": want["big"]}
    assert out.count() == c["n"]
    assert sorted(r["id"] for r in out.collect()) == sorted(r["id"] for r in df.collect())


def test_checkpoint_empty_input_reads_zero(spark):
    df = spark.range(50).where(F.col("id") < 0)
    out, c = checkpoint(df, n=F.count(F.lit(1)), total=F.sum("id"))
    assert c == {"n": 0, "total": 0}
    assert out.collect() == []


def test_checkpoint_scalars_add_no_job(spark):
    """Reading the scalars costs no job beyond the checkpoint itself: the
    same job count as a bare eager localCheckpoint of the same frame."""
    sc = spark.sparkContext
    df = spark.range(1000).repartition(4).where(F.col("id") % 7 == 0)
    _, bare = jobs_in_group(sc, "bare-local-checkpoint", lambda: df.localCheckpoint())
    (_, c), gated = jobs_in_group(
        sc, "checkpoint-helper", lambda: checkpoint(df, n=F.count(F.lit(1)))
    )
    assert c["n"] == 143
    assert bare >= 1 and gated == bare


def test_partition_stamp_and_lineage(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(5)
    stamped = with_partition_stamp(df)
    assert stamped.columns[-2:] == ["_partition_id", "_pos"]
    lin = partition_lineage(df).collect()
    assert len(lin) == 5
    assert sum(r["rows"] for r in lin) == df.count()


def test_asof_join_preserves_null_right_fields(spark):
    """Round-1 fix: a matched right row's legitimately-NULL field must stay
    NULL (not be backfilled from an older right row), and all carried fields
    must come from the SAME right row."""
    import pandas as pd
    from tiledspark.asof import asof_join

    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1],
                "rts": [10, 20],
                "a": [100.0, None],   # newer row has NULL a
                "b": [7.0, 8.0],
            }
        )
    )
    left = spark.createDataFrame(pd.DataFrame({"k": [1, 1], "lts": [15, 25]}))
    out = (
        asof_join(left, right, on="k", left_ts="lts", right_ts="rts", right_vals=["a", "b"])
        .orderBy("lts")
        .collect()
    )
    # lts=15 matches rts=10 -> a=100, b=7
    assert out[0]["asof_a"] == 100.0 and out[0]["asof_b"] == 7.0
    # lts=25 matches rts=20 -> a must be NULL (not 100 from the older row), b=8
    assert out[1]["asof_a"] is None, f"null right field was backfilled: {out[1]}"
    assert out[1]["asof_b"] == 8.0
