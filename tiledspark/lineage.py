"""Runtime lineage & row-count metrics (SURVEY.md op 24).

Three mechanisms:
- `observed(df, name)`: zero-cost row/byte counters via df.observe — the
  numbers ride the existing job (no extra action) and are collected from the
  Observation after the consuming action finishes.
- `checkpoint(df, **metrics)`: the engine's one "checkpoint, then read a
  scalar off it" gate — the scalars ride the job that materializes the
  checkpoint. `materialize(df, **metrics)` is the same gate for a frame
  that is cached instead (the scalars ride the job that fills the cache).
- `with_partition_stamp(df)`: mapInArrow pass stamping each row with its
  physical partition id + per-partition row position, for per-partition
  lineage rows (written alongside snapshot manifests by SnapshotStore).

At 100 TB these are the only affordable kinds of telemetry: both are
piggybacked on data already flowing; neither adds a shuffle or an action.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(df: DataFrame, name: str = "lineage") -> tuple[DataFrame, Observation]:
    """Attach row-count/metric observation; read obs.get after an action."""
    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.length(F.col(df.columns[0]).cast("string"))).alias("first_col_chars"),
    )
    return out, obs


def checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict[str, int]]:
    """Eager localCheckpoint of df -> (checkpointed frame, {name: scalar}),
    each named aggregate Column evaluated over df's rows, null read as 0.

    The scalars are observe() metrics of the one job that materializes the
    checkpoint. A count() or agg() over a lazy checkpoint would run its
    aggregate exchange as a second job (one more map stage under AQE)."""
    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()]).localCheckpoint()
    return out, _scalars(obs, metrics)


def materialize(df: DataFrame, **metrics: Column) -> dict[str, int]:
    """Run df once and drop its rows -> {name: scalar}, as checkpoint reads
    them. One job (a noop write), which for a cached df is the job that
    fills the cache; a count() under AQE would run two."""
    obs = Observation()
    df.observe(obs, *[c.alias(k) for k, c in metrics.items()]).write.format(
        "noop"
    ).mode("overwrite").save()
    return _scalars(obs, metrics)


def _scalars(obs: Observation, metrics: dict[str, Column]) -> dict[str, int]:
    got = obs.get
    return {k: int(got[k] or 0) for k in metrics}


def with_partition_stamp(df: DataFrame) -> DataFrame:
    """Adds _partition_id / _pos columns via one Arrow pass (no Python rows)."""
    from pyspark import TaskContext

    fields = df.schema.fields

    def stamp(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        pos = 0
        for b in batches:
            n = b.num_rows
            arrays = list(b.columns) + [
                pa.array([pid] * n, pa.int32()),
                pa.array(range(pos, pos + n), pa.int64()),
            ]
            names = [f.name for f in fields] + ["_partition_id", "_pos"]
            pos += n
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = df.schema.simpleString()[7:-1]  # struct<...> -> ...
    return df.mapInArrow(stamp, schema=f"{schema}, _partition_id int, _pos long")


def partition_lineage(df: DataFrame) -> DataFrame:
    """-> (_partition_id, rows) per physical partition (one narrow pass +
    tiny agg) — the lineage rows the manifest records."""
    return (
        with_partition_stamp(df)
        .groupBy("_partition_id")
        .agg(F.count(F.lit(1)).alias("rows"))
    )
