#!/usr/bin/env python
"""Production corpus-dedup job (training-data pipeline surface) — submit:

  spark-submit --py-files dist/tiledspark.zip jobs/dedup_corpus.py \
      --docs <documents-parquet> --out <deduped-parquet> \
      [--min-jaccard 0.5] [--id-col doc_id] [--text-col text]

The standard web-corpus sweep as one call to the shared dedup core,
tiledspark.dedup.exact_near_keepers: optional line-level boilerplate removal
(--boilerplate-max-df N; similarity then reads the added text_clean column,
the original text is never mutated), exact dedup on md5(text), banded
MinHash LSH pairs gated at exact shingle Jaccard >= --min-jaccard, and one
keeper (the min id) per connected component of the pair graph (--cc-impl).
The survivors are written as parquet and ONE JSON stats line is printed.

Prints: {"n_docs", "n_boiler_lines_dropped", "n_exact_dropped",
"n_near_pairs", "n_components", "n_near_dropped", "n_kept", "out"}.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-jaccard", type=float, default=0.5)
    ap.add_argument("--est-threshold", type=float, default=0.2)
    ap.add_argument("--cc-impl", choices=("propagate", "star"), default="propagate",
                    help="connected-components variant: min-label propagation "
                         "(diameter rounds; near-dup graphs are shallow) or "
                         "Kiveris star (O(log n) rounds, any topology)")
    ap.add_argument("--boilerplate-max-df", type=int, default=None,
                    help="enable line-level boilerplate removal: drop lines "
                         "with document frequency > N before similarity")
    args = ap.parse_args()

    from tiledspark.dedup import exact_near_keepers

    spark = SparkSession.builder.appName("tiledspark-dedup-corpus").getOrCreate()
    docs = spark.read.parquet(args.docs)
    n_docs = docs.count()
    kept, _, stats = exact_near_keepers(
        docs, n_docs, args.id_col, args.text_col,
        min_jaccard=args.min_jaccard,
        est_threshold=args.est_threshold,
        cc_impl=args.cc_impl,
        boilerplate_max_df=args.boilerplate_max_df,
    )
    kept.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"n_docs": n_docs, **stats, "out": args.out}))


if __name__ == "__main__":
    main()
