"""Structured Streaming surface (SURVEY.md §2D) — the tiled-db minutely-diff
ingest loop re-expressed as readStream → transform → foreachBatch commit.

Operators:
- stream_events / stream_diffs: file-arrival sources (maxFilesPerTrigger=1 →
  one micro-batch per diff batch, the OsmChange cadence)
- tumbling/sliding/session windowed aggregations with watermarks (ops 63-66)
- stream_dedupe: dropDuplicatesWithinWatermark (op 67)
- stateful_tile_counts: per-tile running counters via applyInPandasWithState
  (GroupState carried across micro-batches, op 68). Spark 4's
  transformWithStateInPandas is env-blocked here — its Python worker needs
  google.protobuf, absent in this container (measured crash; see the
  function docstring) — applyInPandasWithState exercises the same
  cross-batch-state semantics. snapshot_running_counters remains as the
  simpler foreachBatch variant
- stream_commit_diffs: every micro-batch applies a copy-on-write diff to a
  SnapshotStore inside foreachBatch — exactly-once layering because each
  commit is tagged with its batch id and apply_diff skips an already-applied
  tag on replay (op 69 / op 8 incrementally)

Batch-mode equivalents of the window aggregations live in queries_window.py
and are DuckDB-oracled; the streaming tests assert streaming == batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiledspark import tiles
from tiledspark.snapshot import SnapshotStore

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

PAGES_DIFF_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampNTZType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("op", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, path: str, files_per_trigger: int = 1) -> DataFrame:
    # watermarks require TIMESTAMP (not NTZ); session tz is pinned UTC so the
    # cast is value-preserving
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def stream_diffs(spark: SparkSession, path: str, files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_DIFF_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    )


def tumbling_counts(events: DataFrame, width: str = "6 hours", watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )


def sliding_counts(
    events: DataFrame, width: str = "12 hours", slide: str = "6 hours", watermark: str = "1 hour"
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "n", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select("user_id", "session_start", "n_events", "session_value")
    )


def stream_dedupe(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Op 67: exactly-once-ish event dedup inside the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a bounded file stream to completion synchronously; results land
    in the in-memory table `name` (test/smoke harness)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_commit_diffs(
    spark: SparkSession,
    diffs_dir: str,
    store: SnapshotStore,
    checkpoint_dir: str,
) -> list[int]:
    """Op 69: each micro-batch of page diffs becomes one copy-on-write
    snapshot layer. The commit carries tag=f"diff_batch={batch_id}" and
    apply_diff returns the existing layer when the tag already exists, so a
    foreachBatch replay after a crash between commit and checkpoint write is
    a no-op — genuinely exactly-once layering (round-1 fix: the old code
    ignored batch_id and would have layered a duplicate commit)."""
    committed: list[int] = []

    def _commit(batch_df: DataFrame, batch_id: int):
        from tiledspark.extract import extract_coords

        delta = extract_coords(batch_df)
        delta = delta.withColumn(
            "tile_id",
            F.when(
                F.col("lat").isNotNull(),
                tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE),
            ).otherwise(F.lit(0)),
        ).select("url", "warc_ts", "text", "lang", "lat", "lon", "tile_id", "op")
        sid = store.apply_diff(
            spark, delta, row_key="url", key_col="tile_id",
            tag=f"diff_batch={batch_id}",
        )
        committed.append(sid)

    q = (
        stream_diffs(spark, diffs_dir)
        .writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return committed


# --- op 68: true stateful processing (applyInPandasWithState) -------------------

def stateful_tile_counts(spark: SparkSession, diffs_dir: str, checkpoint_dir: str):
    """Op 68: readStream(diffs) -> tile_id -> per-tile RUNNING doc counters
    with real cross-batch streaming state (GroupState via
    applyInPandasWithState). State (n_docs, n_batches) lives in the state
    store and carries across micro-batches; each batch emits the updated
    totals per touched tile (outputMode Update).

    Why not transformWithStateInPandas: Spark 4's TWS Python driver worker
    imports google.protobuf, which is not installed in this container
    (verified: ModuleNotFoundError crashes the StreamingPythonRunner).
    applyInPandasWithState is the same stateful-operator contract (per-key
    state object, update semantics, state store persistence) minus the
    protobuf transport, so op 68's semantics are fully exercised; swap to
    TWS on a cluster with protobuf available.

    Returns the list of (tile_id, n_docs, n_batches) rows after the bounded
    stream drains (test/smoke harness; on a cluster this runs unbounded).
    """
    import pandas as pd

    def update_counts(key, pdf_iter, state):
        n_docs, n_batches = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            # upserts add, deletes subtract — the diff-stream semantics
            n_docs += int((pdf["op"] == "upsert").sum())
            n_docs -= int((pdf["op"] == "delete").sum())
        n_batches += 1
        state.update((n_docs, n_batches))
        yield pd.DataFrame(
            {"tile_id": [key[0]], "n_docs": [n_docs], "n_batches": [n_batches]}
        )

    # tile assignment: extract coords JVM-side (same exprs as the batch path)
    from tiledspark.extract import extract_coords

    tiled = extract_coords(stream_diffs(spark, diffs_dir)).withColumn(
        "tile_id",
        F.when(
            F.col("lat").isNotNull(),
            tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE),
        ).otherwise(F.lit(0)),
    ).select("tile_id", "op")

    out = tiled.groupBy("tile_id").applyInPandasWithState(
        update_counts,
        outputStructType="tile_id long, n_docs long, n_batches long",
        stateStructType="n_docs long, n_batches long",
        outputMode="Update",
        timeoutConf="NoTimeout",
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_tile_counts")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM stateful_tile_counts").collect()


# --- streaming near-dup dedup (round 7): dedupe a stream against its history ----

def stream_near_dedupe(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    sig_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    schema: str = "doc_id long, text string",
    min_jaccard: float = 0.5,
    files_per_trigger: int = 1,
) -> list[dict]:
    """MinHash near-dup dedup ACROSS the whole stream history: each
    micro-batch is deduped against every doc kept so far (plus within
    itself), survivors append to out_dir and their band signatures to
    sig_dir — so the history is never re-signed (the incremental-append
    scale shape, textops.lsh_candidate_pairs_incremental, inside
    foreachBatch). Pairs are gated and keepers chosen by the shared dedup
    core (dedup.jaccard_gate + dedup.anchored_keepers, the same calls
    jobs/append_corpus.py makes), with the stored history as the base.

    Replay/idempotence: ids already present in the signature store are
    dropped up front (exact id-replay guard), and a replayed batch's
    byte-identical survivors would in any case near-dup their own history
    copies at Jaccard 1.0 — a foreachBatch retry is self-healing, never a
    duplicate append. Returns per-batch stats dicts (test/smoke harness;
    on a cluster this runs unbounded)."""
    import os

    from tiledspark.dedup import anchored_keepers, jaccard_gate
    from tiledspark.lineage import checkpoint
    from tiledspark.textops import (
        band_signatures,
        lsh_candidate_pairs,
        lsh_candidate_pairs_incremental,
    )

    stats: list[dict] = []

    def _has_parquet(d: str) -> bool:
        return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))

    def _dedupe_batch(batch_df: DataFrame, batch_id: int):
        batch_df, c = checkpoint(batch_df, n=F.count(F.lit(1)))
        n_in = c["n"]
        n_replay = 0
        if _has_parquet(sig_dir):
            sigs = spark.read.parquet(sig_dir)
            seen_ids = sigs.select(id_col).dropDuplicates([id_col])
            fresh, c = checkpoint(
                batch_df.join(seen_ids, id_col, "left_anti"), n=F.count(F.lit(1))
            )
            n_replay = n_in - c["n"]
            cand = lsh_candidate_pairs_incremental(
                fresh, spark.read.parquet(out_dir), id_col, text_col=text_col,
                base_banded=sigs,
            )
        else:
            fresh = batch_df
            cand = lsh_candidate_pairs(fresh, id_col, text_col=text_col)
        pairs, n_pairs = jaccard_gate(cand, min_jaccard)
        kept, _, n_hist, n_within = anchored_keepers(fresh, pairs, n_pairs, id_col)
        n_kept = kept.count()
        kept.write.mode("append").parquet(out_dir)
        band_signatures(kept, id_col, text_col=text_col).write.mode("append").parquet(
            sig_dir
        )
        stats.append(
            {
                "batch_id": batch_id,
                "n_in": n_in,
                "n_dropped_replay": n_replay,
                "n_dropped_vs_history": n_hist,
                "n_dropped_within_batch": n_within,
                "n_kept": n_kept,
            }
        )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(docs_dir)
    )
    q = (
        src.writeStream.foreachBatch(_dedupe_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats
