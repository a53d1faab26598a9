#!/usr/bin/env python
"""Production streaming job (SURVEY.md §3.2 entry point — the reference's
minutely-diff loop) — submit with:

  spark-submit --py-files dist/tiledspark.zip jobs/stream_diffs.py \
      --diffs <diff-parquet-dir> --store <snapshot-store-root> \
      --checkpoint <checkpoint-dir>

Each micro-batch of OsmChange-style page diffs (pages schema + op column)
becomes ONE copy-on-write snapshot layer: only the tbucket/ibucket
partitions touched by the batch's keys are rewritten, everything else is
carried by reference, and the commit is idempotent per batch id
(tag=diff_batch=<id>), so a foreachBatch replay after a crash between
commit and checkpoint write layers nothing twice. The job is a bounded
drain (Trigger.AvailableNow — process everything present, then stop): the
cron-deployment shape of the reference's minutely loop; rerunning it picks
up new diff files from the same checkpoint. An unbounded variant is the
identical pipeline with a processingTime trigger.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--diffs", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--n-buckets", type=int, default=256)
    args = ap.parse_args()

    from tiledspark.snapshot import SnapshotStore
    from tiledspark.streaming import stream_commit_diffs

    spark = SparkSession.builder.appName("tiledspark-stream-diffs").getOrCreate()
    # diffs apply onto an EXISTING base: its manifest's bucket count is
    # authoritative (a CLI mismatch would corrupt bucket pruning — apply_diff
    # also hard-rejects it); --n-buckets only matters for error clarity when
    # the store is empty.
    probe = SnapshotStore(args.store, n_buckets=args.n_buckets)
    latest = probe.latest_id()
    n_buckets = probe.manifest()["n_buckets"] if latest is not None else args.n_buckets
    store = SnapshotStore(args.store, n_buckets=n_buckets)
    committed = stream_commit_diffs(spark, args.diffs, store, args.checkpoint)
    print(
        json.dumps(
            {
                "committed_snapshots": committed,
                "latest": store.latest_id(),
                "n_snapshots": len(store.snapshots()),
            }
        )
    )


if __name__ == "__main__":
    main()
