#!/usr/bin/env python
"""Production training-corpus preparation job — the full §2E pipeline in one
spark-submit entry point (brief: "the operations a large-scale training-data
pipeline would need", composed end-to-end). Submit:

  spark-submit --py-files dist/tiledspark.zip jobs/prepare_corpus.py \
      --docs <documents-parquet> --out <prepared-parquet> \
      [--langs en,de] [--min-tokens 5] [--max-token-len 80] \
      [--min-stop-ratio 0.0] [--boilerplate-max-df N] \
      [--min-jaccard 0.5] [--emb-dim 64] [--no-embed]

Stages (every one a native-Spark operator from tiledspark; nothing per-row
Python except the winnow/minhash Arrow kernels already inside the called
operators):

1. QUALITY + LANGUAGE gate — one codegen projection per doc: token count,
   average token length, max token length, stopword ratio (Gopher-style
   screens) and the stopword-argmax language id; rows failing any screen or
   outside --langs are dropped, with per-reason counts reported.
1b. REPETITION screens (optional, --max-dup-line-frac / --max-top-bigram-frac)
   — Gopher-style intra-document repetition fractions (duplicated-line
   chars, top-bigram chars) over the gate survivors; one narrow exchange.
1c. SURPRISAL band (optional, --min/--max-mean-surprisal) — CCNet-style
   quality band on unigram mean surprisal, self-trained on the survivors.
1d. DECONTAMINATION (optional, --decontam-eval PATH) — GPT-3/PaLM-shape
   benchmark decontamination: drop docs sharing >= --decontam-min-hits
   normalized word --decontam-ngram-grams with any eval example (eval
   grams broadcast; corpus scanned once; only hits shuffle).
1e. QUALITY CLASSIFIER (optional, --quality-pos/--quality-neg parquets) —
   the GPT-3 appendix-A step: logistic regression on hashed-TF features
   trained on seed-set-sized curated pos/neg examples (driver-side numpy,
   guarded), corpus scored in one JVM-native scan, kept by the Pareto
   soft threshold (score > 1 - X, X ~ Pareto(alpha) from a deterministic
   hash draw) or a hard --quality-min-score floor; survivors semi-joined.
2-4. BOILERPLATE (optional, --boilerplate-max-df N) -> EXACT -> NEAR-dup —
   the shared dedup core (tiledspark.dedup.exact_near_keepers, the same
   call jobs/dedup_corpus.py makes): line-df boilerplate filter, md5 exact
   stratum, MinHash LSH pairs at exact Jaccard >= --min-jaccard, one keeper
   per connected component. Later stages read the cleaned column; the
   original text column is never mutated.
5. SCRUB (optional, --scrub-pii) — emails/IPv4/intl-phone redaction into
   a text_scrubbed column (native regexp, original text untouched).
6. EMBED (unless --no-embed) — hashed_tf_embedding (feature-hashing TF,
   JVM-native) + SQ8 scalar quantization: the output carries BOTH the float
   embedding and the 1-byte/dim `code` column plus the trained quantizer
   params in the stats line (production readers keep only `code` at rest —
   4x smaller than float32).
6b. SEMANTIC dedup (optional, --semdedup-min-cos TAU) — SemDeDup-shape
   pruning over the self-join kNN on the hashed-TF embeddings: drop docs
   with a lower-id neighbor at cosine >= TAU. Catches the duplicate mode
   char-shingle MinHash can't see (same tokens, different order).
7. Write surviving docs and print ONE JSON stats line.

The stage chain mirrors the published web-corpus recipes (CCNet / Gopher /
RefinedWeb shape): quality -> boilerplate -> exact -> fuzzy -> vectorize.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--langs", default=None,
                    help="comma-separated allowlist of predicted language "
                         "codes; default: keep all")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--max-avg-token-len", type=float, default=30.0)
    ap.add_argument("--max-token-len", type=int, default=80)
    ap.add_argument("--min-stop-ratio", type=float, default=0.0,
                    help="Gopher-style floor on stopword ratio; 0 disables")
    ap.add_argument("--max-dup-line-frac", type=float, default=None,
                    help="Gopher repetition screen: drop docs whose "
                         "duplicated-line char fraction exceeds this")
    ap.add_argument("--max-top-bigram-frac", type=float, default=None,
                    help="Gopher repetition screen: drop docs whose most "
                         "frequent bigram covers more than this char fraction")
    ap.add_argument("--min-mean-surprisal", type=float, default=None,
                    help="CCNet-style band screen: drop docs whose unigram "
                         "mean surprisal (bits/token, self-trained on the "
                         "gate survivors) is below this (boilerplate)")
    ap.add_argument("--max-mean-surprisal", type=float, default=None,
                    help="...or above this (gibberish / OOV soup)")
    ap.add_argument("--decontam-eval", default=None,
                    help="parquet of eval/benchmark examples: drop every doc "
                         "sharing >= --decontam-min-hits normalized word "
                         "n-grams with any eval example (GPT-3/PaLM-shape "
                         "benchmark decontamination)")
    ap.add_argument("--decontam-ngram", type=int, default=8)
    ap.add_argument("--decontam-min-hits", type=int, default=1)
    ap.add_argument("--decontam-eval-id-col", default="eval_id")
    ap.add_argument("--decontam-eval-text-col", default="text")
    ap.add_argument("--quality-pos", default=None,
                    help="parquet of positive seed docs (doc_id, text): "
                         "train a hashed-TF logistic quality classifier "
                         "(GPT-3 appendix-A shape) and filter the corpus "
                         "by its score; requires --quality-neg")
    ap.add_argument("--quality-neg", default=None)
    ap.add_argument("--quality-dim", type=int, default=256)
    ap.add_argument("--quality-pareto-alpha", type=float, default=9.0,
                    help="soft threshold: keep iff score > 1 - X, "
                         "X ~ Pareto(alpha) from a deterministic hash draw")
    ap.add_argument("--quality-min-score", type=float, default=None,
                    help="hard floor on the classifier score instead of "
                         "the Pareto soft threshold")
    ap.add_argument("--quality-seed", type=int, default=0)
    ap.add_argument("--boilerplate-max-df", type=int, default=None)
    ap.add_argument("--min-jaccard", type=float, default=0.5)
    ap.add_argument("--est-threshold", type=float, default=0.2)
    ap.add_argument("--cc-impl", choices=("propagate", "star"), default="propagate")
    ap.add_argument("--emb-dim", type=int, default=64)
    ap.add_argument("--no-embed", action="store_true")
    ap.add_argument("--semdedup-min-cos", type=float, default=None,
                    help="semantic dedup (SemDeDup shape) over the hashed-TF "
                         "embeddings: drop every doc with a LOWER-id doc at "
                         "cosine >= this in its k-neighborhood (catches "
                         "same-content-different-order docs char-shingle "
                         "MinHash misses); requires embedding")
    ap.add_argument("--semdedup-k", type=int, default=5)
    ap.add_argument("--scrub-pii", action="store_true",
                    help="add text_scrubbed + n_pii_* columns (emails, IPv4, "
                         "intl phones redacted); the original text column is "
                         "never mutated")
    args = ap.parse_args()
    # fail fast (ADVICE r8): this pairing check used to run mid-pipeline,
    # after stages 1a-1d had already burned the expensive front half of the
    # run; validate with the other argparse-style checks, before any Spark
    # action
    if (args.quality_pos is None) != (args.quality_neg is None):
        ap.error("--quality-pos and --quality-neg must be given together")

    from tiledspark.dedup import exact_near_keepers
    from tiledspark.textops import (
        hashed_tf_embedding,
        lang_id_expr,
        repetition_stats,
        scrub_pii,
        train_unigram_logprobs,
        with_unigram_surprisal,
    )
    from tiledspark.vector import sq8_train, with_sq8

    spark = SparkSession.builder.appName("tiledspark-prepare-corpus").getOrCreate()
    idc, txt = args.id_col, args.text_col

    docs = spark.read.parquet(args.docs)
    n_docs = docs.count()

    # 1. quality + language gate: ONE projection computes every screen, the
    # filter composes them; counts per rejection reason come from the same
    # frame (one aggregate, no per-screen jobs)
    toks = F.split(F.col(txt), " ")
    stop_arr = F.array(*[F.lit(s) for s in (
        "the", "and", "is", "in", "to", "of", "a", "for", "with", "on",
    )])
    n_tok = F.size(toks)
    screened = docs.withColumn("_n_tokens", n_tok).withColumn(
        "_avg_tok",
        F.when(n_tok > 0,
               F.length(F.replace(F.col(txt), F.lit(" "), F.lit(""))).cast("double")
               / n_tok).otherwise(F.lit(0.0)),
    ).withColumn(
        "_max_tok", F.coalesce(F.array_max(F.transform(toks, F.length)), F.lit(0))
    ).withColumn(
        "_stop_ratio",
        F.when(n_tok > 0,
               F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
               .cast("double") / n_tok).otherwise(F.lit(0.0)),
    ).withColumn("_lang", lang_id_expr(F.col(txt)))
    ok_tokens = F.col("_n_tokens") >= args.min_tokens
    ok_avg = F.col("_avg_tok") <= args.max_avg_token_len
    ok_max = F.col("_max_tok") <= args.max_token_len
    ok_stop = F.col("_stop_ratio") >= args.min_stop_ratio
    lang_list = [s for s in (args.langs or "").split(",") if s]
    ok_lang = F.col("_lang").isin(lang_list) if lang_list else F.lit(True)
    # Every stage checkpoint in this job is LAZY (round 9, the knn/ann/
    # minhash fusion pattern): each is immediately followed by a full-scan
    # stats action (agg/count) that materializes the blocks inside the job
    # it already runs — the eager-materialize-then-aggregate shape cost one
    # extra action barrier per stage (the round-8 TIMELINE job-count term).
    screened = screened.withColumn(
        "_ok", ok_tokens & ok_avg & ok_max & ok_stop & ok_lang
    ).localCheckpoint(eager=False)
    reasons = screened.agg(
        F.sum((~ok_tokens).cast("long")).alias("too_few_tokens"),
        F.sum((ok_tokens & ~ok_avg).cast("long")).alias("avg_token_too_long"),
        F.sum((ok_tokens & ok_avg & ~ok_max).cast("long")).alias("max_token_too_long"),
        F.sum((ok_tokens & ok_avg & ok_max & ~ok_stop).cast("long")).alias("low_stop_ratio"),
        F.sum((ok_tokens & ok_avg & ok_max & ok_stop & ~ok_lang).cast("long")).alias("lang_rejected"),
    ).collect()[0].asDict()
    docs = screened.where("_ok").drop(
        "_n_tokens", "_avg_tok", "_max_tok", "_stop_ratio", "_ok"
    ).withColumnRenamed("_lang", "lang_pred")
    n_quality = docs.count()

    # 1b. optional repetition screens (Gopher rules) — run on gate survivors
    # only: the bigram signal costs one narrow (id, bigram) exchange, so it
    # comes after the cheap projection gate has already shed the junk
    rep_rejected = None
    if args.max_dup_line_frac is not None or args.max_top_bigram_frac is not None:
        docs = repetition_stats(docs, id_col=idc, text_col=txt).localCheckpoint(eager=False)
        ok_line = (
            F.col("dup_line_char_frac") <= args.max_dup_line_frac
            if args.max_dup_line_frac is not None else F.lit(True)
        )
        ok_bg = (
            F.col("top_bigram_frac") <= args.max_top_bigram_frac
            if args.max_top_bigram_frac is not None else F.lit(True)
        )
        rep_rejected = {
            k: int(v or 0)
            for k, v in docs.agg(
                F.sum((~ok_line).cast("long")).alias("dup_line"),
                F.sum((ok_line & ~ok_bg).cast("long")).alias("top_bigram"),
            ).collect()[0].asDict().items()
        }
        docs = docs.where(ok_line & ok_bg)
    # 1c. optional surprisal band screen (CCNet shape, unigram approximation
    # self-trained on the survivors; see textops for the swap-to-KenLM note)
    surprisal_rejected = None
    if args.min_mean_surprisal is not None or args.max_mean_surprisal is not None:
        ref = train_unigram_logprobs(docs, text_col=txt).localCheckpoint(eager=False)
        docs = with_unigram_surprisal(
            docs, ref, id_col=idc, text_col=txt
        ).localCheckpoint(eager=False)
        ok_lo = (
            F.col("mean_surprisal") >= args.min_mean_surprisal
            if args.min_mean_surprisal is not None else F.lit(True)
        )
        ok_hi = (
            F.col("mean_surprisal") <= args.max_mean_surprisal
            if args.max_mean_surprisal is not None else F.lit(True)
        )
        surprisal_rejected = {
            k: int(v or 0)
            for k, v in docs.agg(
                F.sum((~ok_lo).cast("long")).alias("too_low"),
                F.sum((ok_lo & ~ok_hi).cast("long")).alias("too_high"),
            ).collect()[0].asDict().items()
        }
        docs = docs.where(ok_lo & ok_hi)

    # 1d. optional eval-set decontamination (round 8, GPT-3/PaLM-shape):
    # drop every doc sharing >= --decontam-min-hits normalized word
    # n-grams with ANY eval example. Runs BEFORE the similarity stages —
    # cheapest point to shed the docs (eval grams broadcast, corpus
    # scanned once, only hits shuffle), and a contaminated doc must never
    # survive as a dedup keeper.
    n_decontam_dropped = 0
    if args.decontam_eval is not None:
        from tiledspark.textops import contamination_hits

        eval_df = spark.read.parquet(args.decontam_eval)
        # materialize the (tiny) flagged set, THEN anti-join: the corpus
        # n-gram scan runs exactly once (the semdedup-stage structure)
        flagged = (
            contamination_hits(
                docs,
                eval_df,
                id_col=idc,
                text_col=txt,
                eval_id_col=args.decontam_eval_id_col,
                eval_text_col=args.decontam_eval_text_col,
                n=args.decontam_ngram,
            )
            .where(F.col("n_hits") >= args.decontam_min_hits)
            .select(idc)
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_decontam_dropped = flagged.count()
        if n_decontam_dropped:
            docs = docs.join(flagged, idc, "left_anti")

    # docs left after the screens so far, from the stage counts (no job)
    n_screened = (
        n_quality
        - sum((rep_rejected or {}).values())
        - sum((surprisal_rejected or {}).values())
        - n_decontam_dropped
    )

    # 1e. optional seed-set quality classifier (round 8, op 96 — the GPT-3
    # appendix-A step): train on small curated pos/neg seed parquets
    # (driver-side numpy on collected hashed-TF features — seed-set-sized
    # by contract), score the corpus in ONE JVM-native scan, keep by the
    # Pareto soft threshold (or a hard floor), semi-join surviving ids.
    n_quality_clf_dropped = 0
    quality_train_acc = None
    # (pairing validated right after parse_args — before any Spark action)
    if args.quality_pos is not None:
        from tiledspark.quality import (
            pareto_keep_expr,
            score_quality,
            train_quality_classifier,
        )

        model = train_quality_classifier(
            spark.read.parquet(args.quality_pos),
            spark.read.parquet(args.quality_neg),
            dim=args.quality_dim,
        )
        quality_train_acc = model["train_acc"]
        scores = score_quality(docs, model, text_col=txt, id_col=idc)
        if args.quality_min_score is not None:
            kept_scores = scores.where(
                F.col("quality_score") >= args.quality_min_score
            )
        else:
            kept_scores = scores.where(
                pareto_keep_expr(
                    F.col("quality_score"),
                    F.col(idc),
                    alpha=args.quality_pareto_alpha,
                    seed=args.quality_seed,
                )
            )
        # ONE scoring scan: only the (tiny) keeper-id frame materializes.
        # The semi-join also sheds docs the embedding path produced no
        # score row for (token-less text) — count the stage's drop as
        # before-minus-after so those are attributed here, not to dedup.
        keep_ids = kept_scores.select(idc).localCheckpoint(eager=False)
        n_quality_clf_dropped = n_screened - keep_ids.count()
        if n_quality_clf_dropped:
            docs = docs.join(keep_ids, idc, "left_semi")

    # 2-4. boilerplate (optional) -> exact -> near-dup keepers: the shared
    # dedup core; later stages read the column similarity ran on
    kept, txt, dedup_stats = exact_near_keepers(
        docs, n_screened - n_quality_clf_dropped, idc, txt,
        min_jaccard=args.min_jaccard,
        est_threshold=args.est_threshold,
        cc_impl=args.cc_impl,
        boilerplate_max_df=args.boilerplate_max_df,
    )
    n_kept = dedup_stats["n_kept"]

    # 5. vectorize: feature-hashing TF embedding + SQ8 codes (both columns
    # ride the output; production keeps `code` at rest and reranks with the
    # float column only where exactness is needed)
    sq_params = None
    if not args.no_embed:
        emb = hashed_tf_embedding(
            kept, id_col=idc, text_col=txt, dim=args.emb_dim
        )
        kept = kept.join(emb, idc, "left")
        sq_params = sq8_train(kept.where(F.col("embedding").isNotNull()))
        kept = with_sq8(kept, sq_params)

    # 6b. optional semantic dedup (round 8): embedding-space near-dup
    # pruning over the self-join kNN — the dedup mode token-level shingles
    # cannot see (reordered/paraphrase-shaped duplicates have near-zero
    # char-shingle Jaccard but cosine ~1 in TF space)
    n_semantic_dropped = 0
    if args.semdedup_min_cos is not None:
        if args.no_embed:
            raise SystemExit("--semdedup-min-cos requires embeddings (drop --no-embed)")
        from tiledspark.vector import semdedup_drop_ids

        drops = semdedup_drop_ids(
            spark,
            kept.where(F.col("embedding").isNotNull()).select(idc, "embedding"),
            min_cos=args.semdedup_min_cos,
            k=args.semdedup_k,
            id_col=idc,
        ).localCheckpoint(eager=False)
        n_semantic_dropped = drops.count()
        if n_semantic_dropped:
            kept = kept.join(drops, idc, "left_anti")
        n_kept -= n_semantic_dropped

    # 6. optional PII redaction on the survivors (text_scrubbed column;
    # the original text rides through untouched — byte-identity invariant)
    pii_counts = None
    if args.scrub_pii:
        kept = scrub_pii(kept, text_col=args.text_col)
        kept = kept.localCheckpoint(eager=False)
        pii_counts = {
            k: int(v or 0)
            for k, v in kept.agg(
                F.sum("n_pii_email").alias("email"),
                F.sum("n_pii_ipv4").alias("ipv4"),
                F.sum("n_pii_phone").alias("phone"),
            ).collect()[0].asDict().items()
        }

    kept.write.mode("overwrite").parquet(args.out)
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "quality_rejected": {k: int(v or 0) for k, v in reasons.items()},
                "n_after_quality": n_quality,
                "repetition_rejected": rep_rejected,
                "surprisal_rejected": surprisal_rejected,
                **dedup_stats,
                "n_semantic_dropped": n_semantic_dropped,
                "n_decontam_dropped": n_decontam_dropped,
                "n_quality_clf_dropped": n_quality_clf_dropped,
                "quality_train_acc": quality_train_acc,
                "n_kept": n_kept,  # after semantic dedup, unlike dedup_stats'
                "embedded": not args.no_embed,
                "pii_redacted": pii_counts,
                "sq8_params": sq_params,
                "out": args.out,
            }
        )
    )


if __name__ == "__main__":
    main()
