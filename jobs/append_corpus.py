#!/usr/bin/env python
"""Incremental corpus append job — dedupe a new crawl batch against an
EXISTING deduped corpus without re-scanning it. Submit:

  spark-submit --py-files dist/tiledspark.zip jobs/append_corpus.py \
      --new-docs <batch-parquet> --base-docs <corpus-parquet> \
      --out <kept-new-parquet> [--base-signatures <stored-bands-parquet>] \
      [--signatures-out <kept-new-bands-parquet>] [--min-jaccard 0.5]

The production append shape (SURVEY §2E op 84): the base corpus persists
its band signatures ONCE (textops.band_signatures); each batch append pays
O(batch) signing + a band-key equi-join where the tiny new side broadcasts
— the base text is touched only for exact-verify candidates, column-pruned.
Byte-identical duplicates need no separate exact pass here: identical text
gives identical signatures, which collide in EVERY band, so the pair is a
certain candidate at Jaccard 1.0.

Pairs are gated and keepers chosen by the shared dedup core
(tiledspark.dedup.jaccard_gate + anchored_keepers, the same calls
streaming.stream_near_dedupe makes per micro-batch), with the base corpus
as the history. Pinned against full-batch dedup in the e2e test.

Prints: {"n_new", "n_pairs", "n_components", "n_dropped_vs_base",
"n_dropped_within_batch", "n_kept", "out"}.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--new-docs", required=True)
    ap.add_argument("--base-docs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--base-signatures", default=None,
                    help="stored band_signatures parquet for the base corpus "
                         "(skips re-signing it); params must match")
    ap.add_argument("--signatures-out", default=None,
                    help="also write band signatures for the KEPT new docs "
                         "(append these to the stored base signatures)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-jaccard", type=float, default=0.5)
    ap.add_argument("--est-threshold", type=float, default=0.2)
    args = ap.parse_args()

    from tiledspark.dedup import anchored_keepers, jaccard_gate
    from tiledspark.textops import band_signatures, lsh_candidate_pairs_incremental

    spark = SparkSession.builder.appName("tiledspark-append-corpus").getOrCreate()
    idc, txt = args.id_col, args.text_col

    new_docs = spark.read.parquet(args.new_docs)
    base_docs = spark.read.parquet(args.base_docs)
    base_banded = (
        spark.read.parquet(args.base_signatures) if args.base_signatures else None
    )
    n_new = new_docs.count()

    pairs, n_pairs = jaccard_gate(
        lsh_candidate_pairs_incremental(
            new_docs, base_docs, idc, text_col=txt,
            est_threshold=args.est_threshold, base_banded=base_banded,
        ),
        args.min_jaccard,
    )
    kept, labels, n_drop_base, n_drop_within = anchored_keepers(
        new_docs, pairs, n_pairs, idc
    )
    n_components = labels.select("comp").distinct().count() if n_pairs else 0
    n_kept = kept.count()

    kept.write.mode("overwrite").parquet(args.out)
    if args.signatures_out:
        band_signatures(kept, idc, text_col=txt).write.mode("overwrite").parquet(
            args.signatures_out
        )
    print(
        json.dumps(
            {
                "n_new": n_new,
                "n_pairs": n_pairs,
                "n_components": n_components,
                "n_dropped_vs_base": n_drop_base,
                "n_dropped_within_batch": n_drop_within,
                "n_kept": n_kept,
                "out": args.out,
            }
        )
    )


if __name__ == "__main__":
    main()
