"""MinHash near-dup dedup core, shared by every near-dup entry point:
jobs/dedup_corpus.py and jobs/prepare_corpus.py call `exact_near_keepers`
on a whole corpus; jobs/append_corpus.py and streaming.stream_near_dedupe
call `jaccard_gate` + `anchored_keepers` on a new batch against an
already-deduped history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiledspark.graph import connected_components, dedup_keepers_with_labels
from tiledspark.lineage import checkpoint
from tiledspark.textops import drop_boilerplate_lines, lsh_candidate_pairs


def jaccard_gate(cand: DataFrame, min_jaccard: float) -> tuple[DataFrame, int]:
    """Candidate pairs (id_a, id_b, n_inter, n_union) -> (pairs, n_pairs):
    the (id_a, id_b) pairs at exact shingle Jaccard >= min_jaccard, behind a
    checkpoint."""
    pairs, c = checkpoint(
        cand.where(
            F.col("n_inter").cast("double")
            >= F.lit(min_jaccard) * F.col("n_union").cast("double")
        ).select("id_a", "id_b"),
        n=F.count(F.lit(1)),
    )
    return pairs, c["n"]


def exact_near_keepers(
    docs: DataFrame,
    n_docs: int,
    id_col: str,
    text_col: str,
    min_jaccard: float,
    est_threshold: float,
    cc_impl: str,
    boilerplate_max_df: int | None,
) -> tuple[DataFrame, str, dict]:
    """Full-batch dedup of `docs` (n_docs rows, counted by the caller):
    optional line-boilerplate pass (lines in more than boilerplate_max_df
    docs) -> exact stratum (keeper = min id per md5 of the text) -> gated
    LSH pairs -> one keeper per connected component (its min id).

    Returns (kept, the text column similarity ran on — text_clean after the
    boilerplate pass — and the stats both dedup jobs print). The CC labels
    of the keeper run also give n_components, so CC runs once."""
    n_boiler_lines = 0
    if boilerplate_max_df is not None:
        docs, c = checkpoint(
            drop_boilerplate_lines(
                docs, id_col=id_col, text_col=text_col, max_df=boilerplate_max_df
            ),
            n=F.sum("n_lines_dropped"),
        )
        n_boiler_lines = c["n"]
        text_col = "text_clean"

    fp = docs.select(F.col(id_col), F.md5(F.col(text_col).cast("binary")).alias("fp"))
    keep_exact = fp.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    exact_docs = docs.join(keep_exact, id_col, "left_semi")
    n_exact = exact_docs.count()

    cand = lsh_candidate_pairs(
        exact_docs, id_col, text_col=text_col, est_threshold=est_threshold
    )
    pairs, n_pairs = jaccard_gate(cand, min_jaccard)
    kept, n_kept, n_components = exact_docs, n_exact, 0
    if n_pairs:
        kept, labels = dedup_keepers_with_labels(exact_docs, pairs, id_col, impl=cc_impl)
        kept, c = checkpoint(kept, n=F.count(F.lit(1)))
        n_kept = c["n"]
        n_components = labels.select("comp").distinct().count()
    return kept, text_col, {
        "n_boiler_lines_dropped": n_boiler_lines,
        "n_exact_dropped": n_docs - n_exact,
        "n_near_pairs": n_pairs,
        "n_components": n_components,
        "n_near_dropped": n_exact - n_kept,
        "n_kept": n_kept,
    }


def anchored_keepers(
    new_docs: DataFrame, pairs: DataFrame, n_pairs: int, id_col: str
) -> tuple[DataFrame, DataFrame | None, int, int]:
    """The incremental keeper rule -> (kept new docs, (id, comp) labels or
    None, n_dropped_vs_base, n_dropped_within). `pairs` come from
    jaccard_gate over new ∪ history ids; any pair id not in new_docs is a
    history doc. A component holding a history doc drops all its new
    members (the history is already published and wins); a component of
    new docs only keeps its min id. That equals full-batch dedup over
    history ∪ batch when history ids sort first.

    No pairs: nothing is dropped and no job runs. Otherwise one stats job
    returns both drop counts and materializes the dropped-id checkpoint
    that the kept anti-join re-reads."""
    if not n_pairs:
        return new_docs, None, 0, 0
    labels = connected_components(pairs)
    new_ids = new_docs.select(F.col(id_col).alias("id"))
    lab_new = labels.join(new_ids, "id", "left_semi")
    anchored = labels.join(new_ids, "id", "left_anti").select("comp").distinct()
    drop_vs_base = lab_new.join(anchored, "comp", "left_semi").select("id")
    floating = lab_new.join(anchored, "comp", "left_anti")
    keep_floating = floating.groupBy("comp").agg(F.min("id").alias("id"))
    drop_within = floating.join(keep_floating, "id", "left_anti").select("id")
    dropped, c = checkpoint(
        drop_vs_base.withColumn("_vs_base", F.lit(True)).unionByName(
            drop_within.withColumn("_vs_base", F.lit(False))
        ),
        n_base=F.sum(F.col("_vs_base").cast("int")),
        n_all=F.count(F.lit(1)),
    )
    kept = new_docs.join(
        dropped.select(F.col("id").alias(id_col)), id_col, "left_anti"
    ).localCheckpoint(eager=False)
    return kept, labels, c["n_base"], c["n_all"] - c["n_base"]
