"""Near-duplicate detection + text analysis for web-scale corpora.

Operators (training-data pipeline surface; each also registered as a
queries() entry via queries_text/queries_dedup):
- shingles: word k-grams as a native higher-order-function expression
- minhash_signature: K permutations emulated as xxhash64(shingle || seed_i),
  min per permutation — all JVM-side Column math, no Python in the hot path
- lsh_candidate_pairs: band the signature, hash each band, shuffle once on
  (band_idx, band_hash), pair up within buckets; estimated Jaccard from
  signature agreement, exact Jaccard verification via shingle-set HOFs
- simhash64: token hashes JVM-side, bit-voting in one Arrow-vectorized numpy
  UDF (the only Python step, and it is O(tokens) elementwise)
- lang_id: stopword-profile n-gram heuristic, pure Column math

Scale shape: the band shuffle carries ONLY (band_idx, band_hash, doc_id)
triples — signatures and shingles are re-derived and joined back for the
surviving candidate pairs alone, so no document-sized payload ever enters a
wide exchange (the shingle/minhash projection is recomputed map-side, which
at 100 TB trades two extra column-pruned scans for a shuffle that is ~50×
narrower). SimHash blocking keys are m-of-g chunk COMBINATIONS
(_blocking_scheme): recall stays 100% by pigeonhole while the key carries
>= ~16 bits, so buckets shrink with 2^keybits instead of the 2^4-2^5 the
round-2 single-chunk scheme allowed; per-doc fan-out is C(g,m), explicit
and capped at SIMHASH_COMBO_LIMIT. Bucket pair expansion on BOTH paths is
guarded by a per-bucket cap (huge buckets = degenerate content, e.g. empty
pages); the caps are NOT silent — `lsh_capped_buckets` and
`simhash_capped_buckets` report every truncated bucket, per the
no-silent-caps principle.
"""

from __future__ import annotations

import itertools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiledspark.topk import top_k

DEFAULT_NUM_PERM = 16
DEFAULT_BANDS = 4  # 4 rows per band with 16 perms


def shingles_expr(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles as array<string> (distinct), pure HOFs.

    NULL text -> NULL shingles (round 5): without the guard,
    greatest(size(NULL) - 2, 1) evaluates to 1 (greatest skips nulls), so a
    null text produced the single-element array [NULL] — and every
    null-text doc then hashed to the SAME junk signature (xxhash64(NULL)
    degenerates to the seed) and surfaced as near-dups of each other."""
    toks = F.split(text, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    return F.when(text.isNotNull(), F.array_distinct(grams))


def minhash_signature_expr(sh: Column, num_perm: int = DEFAULT_NUM_PERM) -> Column:
    """array<string> shingles -> array<long> minhash signature.

    Round-4 hot-path fix: hash each shingle STRING exactly once
    (h = xxhash64(shingle)), then derive permutation i as xxhash64(h, i) —
    an 8-byte long re-hash — instead of the old xxhash64(shingle||sep||i),
    which built and hashed num_perm string copies of every shingle. Same
    independence properties (measured: argmin agreement across perms ≈ the
    1/|set| independent baseline, Spearman ≈ 0), ~num_perm× less string
    hashing.

    ONE-PASS shape: num_perm separate array_min(transform(...)) arms would
    re-evaluate the string-hash subtree per arm (Catalyst does not CSE
    across higher-order-function arms — measured: no win). Instead a single
    aggregate() traverses the shingles once, and for each shingle updates
    all num_perm running minima via zip_with — per shingle: 1 string hash +
    num_perm 8-byte hashes, in one expression tree.

    HOF-lambda index trap (found while making this change): PySpark binds a
    TWO-parameter lambda as (element, INDEX) and silently ignores bound
    defaults — `lambda h, i=i:` receives the array index as i, collapsing
    every permutation into the same expression. (The previous string-concat
    form only escaped this because its f-string baked the index column's
    auto-numbered repr into the literal — distinct by accident.) Inner
    lambdas here take only genuine lambda variables; guarded by
    test_minhash_perms_are_distinct.

    Empty shingle sets get a NULL signature, not the aggregate()'s initial
    accumulator (num_perm × max_long): two shingle-less docs would otherwise
    compare signature-identical (est Jaccard 1.0) and surface as near-dups
    (ADVICE r4). Null propagates from a null shingle array already; this
    makes the empty array behave the same way."""
    max_long = (1 << 63) - 1
    hs = F.transform(sh, lambda s: F.xxhash64(s))
    seeds = F.sequence(F.lit(0), F.lit(num_perm - 1))
    # The empty guard lives INSIDE the aggregate (count-carrying accumulator
    # + finish lambda), so `sh` is referenced exactly once. The obvious
    # alternative — F.when(F.size(sh) > 0, F.aggregate(...)) — references
    # the shingle expression twice, and when the caller's sh is an UNCACHED
    # construction (the withColumn pipeline in with_minhash), Catalyst
    # inlines it per reference: measured 2.2x the whole operator's wall at
    # sf0.1 (round-5 A/B vs the round-4 code).
    return F.aggregate(
        hs,
        F.struct(
            F.array_repeat(F.lit(max_long), num_perm).alias("mins"),
            F.lit(0).cast("long").alias("n"),
        ),
        lambda acc, h: F.struct(
            F.zip_with(
                acc["mins"], seeds, lambda a, i: F.least(a, F.xxhash64(h, i))
            ).alias("mins"),
            (acc["n"] + F.lit(1)).alias("n"),
        ),
        lambda acc: F.when(acc["n"] > 0, acc["mins"]),
    )


def with_minhash(
    df: DataFrame, text_col: str = "text", k: int = 3, num_perm: int = DEFAULT_NUM_PERM
) -> DataFrame:
    sh = shingles_expr(F.col(text_col), k)
    return df.withColumn("_shingles", sh).withColumn(
        "minhash", minhash_signature_expr(F.col("_shingles"), num_perm)
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to the session's parallelism before
    interpreted-HOF work: the shingle/signature pass here and the exact
    cosine scoring fallbacks in vector.py.

    Higher-order-function lambdas are interpreted per element (not
    codegen'd), so the signature pass is CPU-bound on however many input
    partitions the scan produced. A small single-file corpus arrives in ONE
    32 MB split — measured round 7: the whole sf0.1 signature pass ran on
    one core, 1.8 s of a 2.1 s pass serialized in shingle construction. A
    100-TB scan arrives in thousands of splits and passes through untouched
    (the gate only widens, never narrows, and costs no job — partition
    count comes from the compiled plan). Every caller's result is
    partitioning-independent (a total order or an order-free aggregate)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _banded_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_perm: int,
    bands: int,
) -> DataFrame:
    """The ONLY thing the band shuffle carries: (_id, band_idx, band_hash).
    Signatures/shingles are projected away before the exchange (the payload
    fix from round 1 — see module docstring)."""
    rows_per_band = num_perm // bands
    # Null-text docs are excluded BEFORE signing (cheap scan-pushable
    # predicate): their signature would be NULL, and xxhash64(null) band
    # keys degenerate to the seed constant — every null doc would re-collide
    # in every band. Filtering on the SIGNATURE column instead is the
    # pushdown trap: Catalyst substitutes the alias through the projection
    # and evaluates the whole shingle+minhash pipeline twice per row.
    # (shingles_expr yields >= 1 shingle for ANY non-null text — sub-k texts
    # produce their whole text as the single shingle — so null text is the
    # only null-signature source on this path.)
    sig = with_minhash(
        _ensure_parallelism(df.where(F.col(text_col).isNotNull())),
        text_col, k, num_perm,
    ).select(F.col(id_col).alias("_id"), "minhash")
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.array_join(
                                F.transform(
                                    F.slice("minhash", b * rows_per_band + 1, rows_per_band),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "band.band_idx", "band.band_hash")


def lsh_capped_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    bucket_cap: int = 1000,
) -> DataFrame:
    """No-silent-caps report: every (band_idx, band_hash, size) bucket whose
    size exceeds bucket_cap (these buckets are truncated to bucket_cap rows
    by lsh_candidate_pairs; at web scale they are degenerate boilerplate)."""
    banded = _banded_ids(df, id_col, text_col, k, num_perm, bands)
    return (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") > bucket_cap)
    )


def _candidate_pair_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_perm: int,
    bands: int,
    bucket_cap: int | None,
) -> DataFrame:
    """Lazy (id_a, id_b) LSH candidate pairs, id_a < id_b, deduplicated.

    Round-7 shape (VERDICT r6 #1): the old a⋈b SELF-JOIN on (band_idx,
    band_hash) planned as FOUR full corpus scans (each side of the band
    join recomputed the signature, and at sf0.01 Catalyst broadcast an
    entire banded corpus copy — at sf0.1 the broadcast/shuffle decision
    flapped run-to-run, the measured 1.8x spread). Replaced with ONE pass:
    group each band bucket, collect the sorted id array, and expand the
    i<j pairs with higher-order functions — one signature computation, one
    ids-only exchange (the groupBy), zero corpus-sized broadcasts."""
    banded = _banded_ids(df, id_col, text_col, k, num_perm, bands)
    return _pairs_from_banded(banded, bucket_cap)


def _pairs_from_banded(banded: DataFrame, bucket_cap: int | None) -> DataFrame:
    """(_id, band_idx, band_hash) -> deduplicated (id_a < id_b) pairs via
    the one-pass in-bucket expansion (see _candidate_pair_frame)."""
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.array_sort(F.collect_list("_id")).alias("ids")
    )
    # cap pathological buckets (degenerate/boilerplate content); ids are
    # sorted ascending, so slice(1, cap) keeps the LOWEST ids — identical
    # truncation semantics to the old row_number-ordered-by-_id cap
    if bucket_cap is not None:
        buckets = buckets.withColumn("ids", F.slice("ids", 1, bucket_cap))
    buckets = buckets.where(F.size("ids") >= 2)
    n = F.size("ids")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, n - i),
                lambda b: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"),
                    b.alias("id_b"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    est_threshold: float = 0.5,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """-> (id_a, id_b, est_jaccard, exact_jaccard) for near-duplicate pairs
    surfaced by banded MinHash LSH (id_a < id_b, deterministic).

    Oversized buckets are truncated to bucket_cap rows (deterministically, by
    _id order); call lsh_capped_buckets for the report of what was capped.
    Pass bucket_cap=None to disable truncation (required when the result
    must equal an exhaustive oracle — truncation keeps the LOWEST ids per
    bucket, so high-id planted rows are dropped first, ADVICE r5).

    Candidate pairs are materialized with an eager localCheckpoint (ids-only
    — two longs per pair, volume bounded by bucket_cap's quadratic cap), so
    the verify stage can (a) reference them twice without recomputing the
    band exchange and (b) re-derive signatures + shingle sets for the
    CANDIDATE DOCS ONLY via a semi join — at 100 TB the corpus is scanned
    exactly twice (once to band, once column-pruned for the candidate
    subset), versus the four full scans the round-6 self-join planned."""
    # lazy (round 9): the verify stage's sig checkpoint job references the
    # pair frame exactly once (the cand_ids semi-join broadcast), so that
    # job materializes these blocks too — the band exchange still runs once,
    # one fewer action barrier than the eager materialize-then-verify shape
    pairs = _candidate_pair_frame(
        df, id_col, text_col, k, num_perm, bands, bucket_cap
    ).localCheckpoint(eager=False)
    return _verify_and_score(pairs, df, id_col, text_col, k, num_perm, est_threshold)


def _verify_and_score(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_perm: int,
    est_threshold: float,
) -> DataFrame:
    """Exact-verify candidate (id_a, id_b) pairs against the doc frame:
    signatures + shingle sets re-derived for the CANDIDATE DOCS ONLY via a
    semi join, then est/exact Jaccard scored and thresholded."""
    # re-derive signatures + shingles for the surviving candidate DOCS only
    # (semi join on the checkpointed ids — small by construction, so AQE
    # broadcasts it; the full-corpus with_minhash pass of rounds 1-6 is gone)
    cand_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).dropDuplicates([id_col])
    sig = with_minhash(
        df.join(cand_ids, [id_col], "left_semi"), text_col, k, num_perm
    ).select(F.col(id_col).alias("_id"), "minhash", "_shingles")
    # Round 9 (guide §2.4): `sig` feeds BOTH sides of the pair join below.
    # Unmaterialized, Catalyst plans the whole subtree once per reference —
    # the r9 plan audit showed FOUR full corpus scans (id_a/id_b × each
    # union leg of the caller's input) re-running the semi join AND the
    # 16-perm minhash HOF in the verify stage alone (plans/r09/
    # dedup_minhash_lsh_before.txt ops 3-13/14-25/29-39/40-51). Checkpoint
    # it once: O(candidate docs) rows — bounded by 2x the (bucket-capped)
    # pair count — so the materialization is small by construction, and the
    # verify stage scans the corpus exactly once. Eager: the two join
    # references would otherwise race to materialize it inside one job.
    sig = sig.localCheckpoint(eager=True)
    pairs = (
        pairs.join(
            sig.select(
                F.col("_id").alias("id_a"),
                F.col("minhash").alias("mh_a"),
                F.col("_shingles").alias("sh_a"),
            ),
            "id_a",
        )
        .join(
            sig.select(
                F.col("_id").alias("id_b"),
                F.col("minhash").alias("mh_b"),
                F.col("_shingles").alias("sh_b"),
            ),
            "id_b",
        )
    )
    est = (
        F.aggregate(
            F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.size("mh_a").cast("double")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("est_jaccard", est)
        .withColumn("n_inter", inter)
        .withColumn("n_union", union)
        .withColumn("exact_jaccard", inter.cast("double") / union.cast("double"))
        .where(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard", "exact_jaccard", "n_inter", "n_union")
    )


def _shingle_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    max_df: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The inverted-index blocking stage of ngram_jaccard_pairs, shared
    with the bench's max_df experiment: -> (sh, cand) where sh is
    (_id, shset) and cand the DISTINCT (id_a, id_b) candidate pairs from
    joining (xxhash64(shingle), id) postings, optionally dropping shingles
    with document frequency > max_df from candidate generation."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles_expr(F.col(text_col), k)).alias("shset"),
    )
    post = sh.select("_id", F.explode("shset").alias("s")).select(
        "_id", F.xxhash64("s").alias("sh")
    )
    if max_df is not None:
        w = Window.partitionBy("sh")
        post = post.withColumn("_df", F.count(F.lit(1)).over(w)).where(
            F.col("_df") <= max_df
        ).drop("_df")
    cand = (
        post.select(F.col("sh"), F.col("_id").alias("id_a"))
        .join(post.select(F.col("sh"), F.col("_id").alias("id_b")), "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return sh, cand


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    min_jaccard: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram (word k-shingle) Jaccard near-dup pairs — the
    deterministic companion to MinHash LSH (the driver brief's 'n-gram
    Jaccard' dedup mode): -> (id_a, id_b, n_inter, n_union) for every pair
    with |A∩B|/|A∪B| >= min_jaccard, id_a < id_b.

    Blocking is a shingle inverted index: a pair with jaccard > 0 shares at
    least one shingle, so joining postings lists has 100% recall by
    construction (no probabilistic step anywhere — unlike LSH this surfaces
    EVERY qualifying pair). The posting exchange carries (shingle_hash, id)
    only — the shingle string is collapsed to xxhash64 before the shuffle;
    a hash collision can only ADD candidate pairs (recall is unaffected)
    and the exact-jaccard filter removes them, so the result is identical
    to joining on the raw string at a fraction of the exchange bytes.

    max_df (the 100-TB knob): drop shingles whose document frequency
    exceeds max_df from candidate GENERATION (boilerplate n-grams otherwise
    create quadratic postings self-joins). This trades recall for pairs
    that share ONLY ultra-common shingles — exactly the pairs that are not
    near-dups at any realistic threshold. None = exhaustive (small corpora
    / oracle mode). Counts (n_inter, n_union) are emitted as integers so
    the driver's value hash never sits on a float-rounding boundary."""
    sh, cand = _shingle_candidates(df, id_col, text_col, k, max_df)
    out = (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("shset").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("shset").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size(F.array_union("sh_a", "sh_b")).alias("n_union"),
        )
    )
    # integer-exact threshold: inter/union >= j  <=>  inter >= j * union;
    # both engines compare the same ints against the same double product
    return out.where(
        F.col("n_inter").cast("double") >= F.lit(min_jaccard) * F.col("n_union").cast("double")
    )


# --- SimHash -------------------------------------------------------------------

@F.pandas_udf(T.LongType())
def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
    """array<long> token hashes -> 64-bit simhash (bit-majority vote)."""
    out = np.zeros(len(hashes), dtype=np.int64)
    for row_i, hs in enumerate(hashes):
        if hs is None or len(hs) == 0:
            continue
        arr = np.asarray(hs, dtype=np.int64).astype(np.uint64)
        bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(
            np.int32
        )
        votes = bits.sum(axis=0) * 2 - len(arr)  # (+1 / -1 votes)
        sim = np.uint64(0)
        for bit_idx in np.nonzero(votes > 0)[0]:
            sim |= np.uint64(1) << np.uint64(bit_idx)
        out[row_i] = np.int64(sim)
    return pd.Series(out)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    tok_hashes = F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t))
    return df.withColumn("simhash", _simhash_from_hashes(tok_hashes))


def hamming64_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two int64s — popcount via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def _chunk_layout(n_chunks: int) -> list[tuple[int, int]]:
    """Split 64 bits into n_chunks contiguous (offset, width) spans, widths
    as even as possible (difference <= 1)."""
    base, extra = divmod(64, n_chunks)
    spans, off = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < extra else 0)
        spans.append((off, w))
        off += w
    return spans


# Hard ceiling on per-doc key fan-out: C(g, m) keys per doc go through the
# blocking shuffle, so the cost is explicit and bounded (no silent blowup).
SIMHASH_COMBO_LIMIT = 4096
DEFAULT_SIMHASH_BUCKET_CAP = 2000


def _blocking_scheme(max_hamming: int) -> tuple[int, int]:
    """(g, m) for Manku-style combination blocking: split the 64-bit simhash
    into g = max_hamming + m chunks and key on every m-combination of chunks.

    RECALL: a pair at hamming <= t differs in <= t chunks, so it agrees on
    >= g - t = m chunks — i.e. on at least one of the C(g, m) m-subsets —
    and always collides on that subset's key. (m = 1 degenerates to the
    round-1 pigeonhole scheme.)

    SELECTIVITY: the key carries m chunks ≈ 64m/(t+m) bits. m = ceil(t/3)
    makes that >= 16 bits, so a key space of >= 65536 buckets survives any
    corpus size — the round-2 flaw was m = 1 at t = 12 (4-5 bit keys, <= 32
    buckets per chunk, quadratic self-join at web scale). m is walked down
    only when C(g, m) would exceed SIMHASH_COMBO_LIMIT (t > 15), trading key
    width for fan-out; the bucket cap + report covers the residual."""
    t = max_hamming
    m = max(1, -(-t // 3))  # ceil(t/3) -> key width >= 16 bits
    while m > 1 and math.comb(t + m, m) > SIMHASH_COMBO_LIMIT:
        m -= 1
    return t + m, m


def simhash_block_keys_expr(simhash: Column, max_hamming: int) -> Column:
    """simhash (long) -> array<long> of blocking keys (combo-id in bits 48+,
    the m concatenated chunk values below). All JVM-side: the C(g,m) combos
    are ONE literal array; one transform() computes every key per row."""
    if max_hamming == 0:
        # exact-duplicate mode: the whole word is the key (no 64-bit mask —
        # the round-2 lower-bound bug)
        return F.array(simhash)
    g, m = _blocking_scheme(max_hamming)
    spans = _chunk_layout(g)
    w_shift = max(w for _, w in spans)
    chunks = F.array(
        *[
            F.shiftrightunsigned(simhash, off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in spans
        ]
    )
    # each combo packed into one long literal: chunk index j at bits 8j
    packed = [
        sum(idx << (8 * j) for j, idx in enumerate(c))
        for c in itertools.combinations(range(g), m)
    ]
    combo_arr = F.array(*[F.lit(p) for p in packed])

    def _key(p, i):
        acc = F.lit(0).cast("long")
        for j in range(m):
            idx = F.shiftright(p, 8 * j).bitwiseAND(F.lit(255)).cast("int")
            acc = F.shiftleft(acc, w_shift).bitwiseOR(
                F.element_at(chunks, idx + F.lit(1))
            )
        return acc.bitwiseOR(F.shiftleft(i.cast("long"), 48))

    return F.transform(combo_arr, _key)


def simhash_capped_buckets(
    s: DataFrame,
    max_hamming: int,
    bucket_cap: int = DEFAULT_SIMHASH_BUCKET_CAP,
    id_col: str = "_id",
    hash_col: str = "simhash",
) -> DataFrame:
    """No-silent-caps report (same contract as lsh_capped_buckets): every
    blocking key whose bucket exceeds bucket_cap, with its size. These are
    the buckets simhash_pairs_from_hashes truncates; at web scale they mean
    degenerate near-identical content (boilerplate) or an adversarial shared
    bit-prefix, and the report makes the dropped comparisons auditable."""
    blocked = s.select(
        F.col(id_col).alias("_id"),
        F.explode(simhash_block_keys_expr(F.col(hash_col), max_hamming)).alias("bk"),
    )
    return (
        blocked.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") > bucket_cap)
    )


def simhash_pairs_from_hashes(
    s: DataFrame,
    max_hamming: int,
    id_col: str = "_id",
    hash_col: str = "simhash",
    bucket_cap: int | None = DEFAULT_SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """(id, simhash) rows -> near-dup pairs with hamming <= max_hamming.

    Blocking: Manku-style m-of-g chunk combinations (_blocking_scheme) —
    100% recall by pigeonhole AND >= ~16-bit keys, so bucket population
    stays ~n/2^16 per combo instead of the round-2 n/32. Oversized buckets
    (> bucket_cap rows) are truncated deterministically (by id order) —
    call simhash_capped_buckets for the report; pass bucket_cap=None to
    disable (exhaustive mode for small corpora / tests)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    s = s.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("simhash"))
    blocked = s.select(
        "_id",
        "simhash",
        F.explode(simhash_block_keys_expr(F.col("simhash"), max_hamming)).alias("bk"),
    )
    if bucket_cap is not None:
        blocked = top_k(blocked, bucket_cap, "bk", ["_id"])
    a = blocked.select("bk", F.col("_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = blocked.select("bk", F.col("_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64_expr(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 8,
    bucket_cap: int | None = DEFAULT_SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs by simhash over a text column; see
    simhash_pairs_from_hashes for the recall-guaranteed blocking scheme.
    Null-text docs are excluded (round 5, same hole as the minhash path:
    every null doc hashes to simhash 0 and would pair at hamming 0)."""
    s = with_simhash(df.where(F.col(text_col).isNotNull()), text_col).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    return simhash_pairs_from_hashes(s, max_hamming, bucket_cap=bucket_cap)


# --- document fingerprinting: rolling-hash winnowing ---------------------------
#
# The driver brief's "document fingerprinting (rolling hash)" — implemented
# as WINNOWING (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms
# for Document Fingerprinting", SIGMOD 2003, public spec): polynomial
# rolling hashes over character k-grams, then the rightmost minimal hash of
# every w-length window is selected. Guarantee (the paper's Theorem):
# any shared substring of length >= w + k - 1 between two documents yields
# at least one SHARED fingerprint, so fingerprint-set overlap detects local
# (substring-level) copies that whole-document hashing and shingle Jaccard
# both dilute. SPEC-PINNED constants: base 257, modulus 2^31-1 (Mersenne;
# keeps every intermediate < 2^40, exact in int64).

WINNOW_BASE = 257
WINNOW_MOD = (1 << 31) - 1
DEFAULT_WINNOW_K = 8  # k-gram length (chars)
DEFAULT_WINNOW_W = 4  # window length (hashes)


# Fermat inverse of the base (WINNOW_MOD is prime): lets the k-gram hashes
# be computed as a prefix-sum difference instead of a sequential rolling
# update, which is what makes the whole kernel vectorizable.
_WINNOW_BINV = pow(WINNOW_BASE, WINNOW_MOD - 2, WINNOW_MOD)


def _mod_pow_table(base: int, n: int) -> np.ndarray:
    """[base^0 .. base^(n-1)] mod WINNOW_MOD as int64, built baby-step/
    giant-step: two O(sqrt n) python loops + one vectorized outer product
    (both factors < 2^31, so the int64 product never overflows) instead of
    an O(n) sequential modular scan."""
    s = max(1, math.isqrt(n) + 1)
    baby = np.empty(s, dtype=np.int64)
    v = 1
    for i in range(s):
        baby[i] = v
        v = (v * base) % WINNOW_MOD
    giant_step = pow(base, s, WINNOW_MOD)
    g = (n + s - 1) // s
    giant = np.empty(g, dtype=np.int64)
    v = 1
    for i in range(g):
        giant[i] = v
        v = (v * giant_step) % WINNOW_MOD
    return ((giant[:, None] * baby[None, :]) % WINNOW_MOD).ravel()[:n]


def _np_winnow(text: str, k: int, w: int) -> list[int]:
    """Fully-vectorized winnowing of one document (VERDICT r5 #2 — the
    per-char python rolling loop and per-window slice-min are gone).

    Hash scan: with Binv = B^-1 mod M, prefix sums T_i = sum_{j<i} c_j
    Binv^j make every k-gram hash a closed form
        h_i = (T_{i+k} - T_i) * B^{i+k-1}  mod M
    — one np.cumsum + two elementwise modmuls. All intermediates stay
    exact in int64: terms < 2^52 pre-mod, the cumsum is exact for any
    document under 2^32 chars, and every modmul multiplies two values
    < 2^31. Window min: w-1 elementwise np.minimum passes over shifted
    views. The paper's rightmost-minimal tie-break selects a POSITION, but
    the selected VALUE is the window minimum regardless of which tied
    position wins — and this fingerprint is a value set (no positions
    kept), so the set of window minima is exactly the reference
    per-window-tie-break result (asserted against the positional
    implementation in test_winnowing_fingerprints). Measured (round 6):
    17x over the r5 per-char python loop on a 200k-char doc (206.6 ms ->
    12.1 ms warm)."""
    if text is None:
        return None
    n = len(text)
    if n < k:
        return []
    # surrogatepass: lone surrogates can't reach us from Spark (valid
    # UTF-8 only) but must not crash the kernel if they do — ord() of a
    # surrogate is well-defined and the reference loop accepted it
    codes = np.frombuffer(
        text.encode("utf-32-le", "surrogatepass"), dtype="<u4"
    ).astype(np.int64)
    m = n - k + 1
    terms = codes * _mod_pow_table(_WINNOW_BINV, n) % WINNOW_MOD
    prefix = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(terms, out=prefix[1:])
    prefix %= WINNOW_MOD
    b_pows = _mod_pow_table(WINNOW_BASE, n)
    hashes = (prefix[k:] - prefix[:m]) % WINNOW_MOD * b_pows[k - 1 :] % WINNOW_MOD
    if m <= w:
        return [int(hashes.min())]
    wmin = hashes[: m - w + 1].copy()
    for j in range(1, w):
        np.minimum(wmin, hashes[j : j + m - w + 1], out=wmin)
    # collapse consecutive duplicates before the sort inside np.unique —
    # each selected minimum persists for ~w consecutive windows, so this
    # shrinks the sort input ~w-fold
    keep = np.empty(wmin.shape[0], dtype=bool)
    keep[0] = True
    np.not_equal(wmin[1:], wmin[:-1], out=keep[1:])
    return np.unique(wmin[keep]).tolist()


def winnow_fingerprints_udf(k: int = DEFAULT_WINNOW_K, w: int = DEFAULT_WINNOW_W):
    """pandas UDF: text -> array<long> winnowing fingerprint set (sorted,
    distinct). Null text -> null; text shorter than k -> empty array."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _winnow(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _np_winnow(t, k, w))

    return _winnow


def with_winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_WINNOW_K,
    w: int = DEFAULT_WINNOW_W,
    out_col: str = "winnow_fp",
) -> DataFrame:
    return df.withColumn(out_col, winnow_fingerprints_udf(k, w)(F.col(text_col)))


# --- language id (stopword-profile heuristic, pure Column math) -----------------

LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une"],
    "nl": ["de", "het", "een", "en", "van", "is", "dat", "niet"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
}


def lang_id_expr(text: Column) -> Column:
    """Predicted language = argmax stopword hits (ties → lexicographically
    greatest lang code; deterministic)."""
    toks = F.split(F.lower(text), " ")

    def _score(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = [
        F.struct(_score(words).alias("score"), F.lit(lang).alias("lang"))
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    best = F.array_max(F.array(*scores))
    return best["lang"]


# --- language id, the REAL n-gram heuristic (Cavnar–Trenkle) -------------------
#
# The stopword argmax above is the oracle-friendly showcase; this is the
# published method the brief's "language-ID (n-gram heuristic)" names:
# Cavnar & Trenkle, "N-Gram-Based Text Categorization" (1994). Train =
# per-language ranked character-n-gram frequency profile; predict = the
# language minimizing the OUT-OF-PLACE distance (sum over the document's
# top n-grams of |rank_doc - rank_profile|, with a max penalty for n-grams
# absent from the profile). Training is one Spark agg (ngrams exploded,
# counted per (lang, gram), top-N ranked per lang — the collected profile
# is N rows per language, driver-tiny); prediction is pure Column math: the
# profiles become map<gram, rank> literals, the document's ranked grams one
# HOF pipeline — no Python in the per-row path.


def char_ngrams_expr(text: Column, n: int = 3) -> Column:
    """Lower-cased character n-grams (with duplicates, document order);
    spaces normalized to '_' per the paper. NULL text -> NULL."""
    t = F.regexp_replace(F.lower(text), " ", "_")
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1)))
    return F.when(text.isNotNull(), F.transform(idx, lambda i: F.substring(t, i, n)))


def train_char_ngram_profiles(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
    top: int = 200,
) -> dict[str, list[str]]:
    """Labeled corpus -> {lang: [gram, ...]} ranked by descending frequency
    (rank ties broken lexicographically — deterministic). One shuffle of
    (lang, gram, count) partial aggregates; the result is top × n_langs
    rows, a driver-sized profile by construction."""
    counts = (
        df.where(F.col(text_col).isNotNull() & F.col(lang_col).isNotNull())
        .select(F.col(lang_col).alias("_lang"), F.explode(char_ngrams_expr(F.col(text_col), n)).alias("g"))
        .groupBy("_lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = (
        top_k(counts, top, "_lang", [F.desc("c"), F.asc("g")], rank="r")
        .orderBy("_lang", "r")
        .collect()
    )
    profiles: dict[str, list[str]] = {}
    for r in rows:
        profiles.setdefault(r["_lang"], []).append(r["g"])
    return profiles


def langid_ngram_predict(
    df: DataFrame,
    profiles: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    doc_top: int = 100,
) -> DataFrame:
    """Cavnar–Trenkle out-of-place classification, relational shape:
    -> (id_col, lang_pred).

    The document's top doc_top grams (ranked by descending in-doc
    frequency, ties by gram — deterministic) BROADCAST-join the ranked
    profile table; out-of-place distance = sum of |doc_rank - profile_rank|
    with the paper's max penalty (= profile length) for grams absent from a
    profile; prediction = argmin distance, ties -> lexicographically
    smallest lang. This is the 100-TB shape: the per-doc exchange carries
    (id, gram, rank) triples, profiles ride a ~top×n_langs-row broadcast,
    and the argmin is one partial+final min-aggregate — no giant literal
    expression per language (an earlier create_map-literal variant choked
    expression compilation at 5 langs × 200 grams)."""
    spark = df.sparkSession
    grams = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.explode(char_ngrams_expr(F.col(text_col), n)).alias("g"))
        .groupBy("_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    doc_ranked = top_k(
        grams, doc_top, "_id", [F.desc("c"), F.asc("g")], rank="dr"
    ).select("_id", "g", (F.col("dr") - 1).alias("dr"))
    langs = sorted(profiles)
    penalty = max(len(p) for p in profiles.values())
    prof_rows = [
        (lang, g, r) for lang in langs for r, g in enumerate(profiles[lang])
    ]
    prof = spark.createDataFrame(prof_rows, "lang string, g string, pr int")
    lang_df = spark.createDataFrame([(l,) for l in langs], "lang string")
    dist = (
        doc_ranked.crossJoin(F.broadcast(lang_df))
        .join(F.broadcast(prof), ["lang", "g"], "left")
        .select(
            "_id",
            "lang",
            F.coalesce(F.abs(F.col("dr") - F.col("pr")), F.lit(penalty)).alias("oop"),
        )
        .groupBy("_id", "lang")
        .agg(F.sum("oop").alias("dist"))
    )
    best = dist.groupBy("_id").agg(
        F.min(F.struct(F.col("dist"), F.col("lang"))).alias("b")
    )
    return best.select(F.col("_id").alias(id_col), F.col("b.lang").alias("lang_pred"))


# ---------------------------------------------------------------------------
# paragraph/line-level exact dedup — corpus boilerplate removal (round 7,
# VERDICT r6 #6). Real pretraining pipelines (CCNet-style) drop repeated
# LINES across the corpus (nav menus, cookie banners, copyright footers),
# not just whole-document duplicates — the one dedup granularity the engine
# did not yet cover.


def _doc_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, pos, line): trimmed, non-empty lines with their original
    0-based position in the document. Narrow — posexplode only, no
    exchange; blank/whitespace-only lines are normalization casualties
    (dropped here and absent from the cleaned text)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "_raw"),
        )
        .withColumn("line", F.trim("_raw"))
        .where(F.col("line") != "")
        .drop("_raw")
    )


def line_document_frequency(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_expr=None,
) -> DataFrame:
    """-> (line_fp, df, keeper_id): document frequency per distinct trimmed
    non-empty line — the postings table boilerplate detection reads.

    ONE exchange of (line_fp, _id) postings (map-side partial agg on the
    count-distinct rewrite); documents never enter the shuffle. `fp_expr`
    defaults to xxhash64 over the line (8-byte keys at 100 TB); the driver
    oracle row passes md5 so DuckDB can reproduce the key exactly."""
    lines = _doc_lines(df, id_col, text_col)
    fp = (fp_expr or F.xxhash64)(F.col("line"))
    return (
        lines.select(fp.alias("line_fp"), "_id")
        .groupBy("line_fp")
        .agg(
            F.count_distinct("_id").alias("df"),
            F.min("_id").alias("keeper_id"),
        )
    )


def drop_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 10,
    clean_col: str = "text_clean",
    strategy: str = "auto",
    array_limit: int = 4096,
) -> DataFrame:
    """Drop lines that appear in MORE THAN `max_df` distinct documents.

    Adds three columns and NEVER mutates `text_col` (the per-url
    byte-identity invariant the snapshot layer depends on):
      - `clean_col`: trimmed non-boilerplate lines rejoined with '\\n'
        ('' when the document has no surviving lines or null text)
      - `n_lines`: trimmed non-empty line count (computed per-document
        with native HOFs — no exchange)
      - `n_lines_dropped`: lines removed as boilerplate

    Scale shape — two physical strategies, both fed by ONE (fp, id)
    postings exchange (line_document_frequency, keyed xxhash64):
      - 'array' (boilerplate set small, the common high-threshold case):
        collect the boiler fps into a single-row array, broadcast it, and
        filter each document's lines with native HOFs — ZERO document-scale
        exchange. Per-line cost is O(|boiler|) array_contains, so this is
        gated at `array_limit`.
      - 'join': explode → left join the boiler fps (AQE broadcasts when
        small) → regroup kept lines by document (array_sort on (pos, line)
        structs restores original order deterministically) → join back to
        the input on id. Two document-scale exchanges, no per-line factor —
        the 100-TB path when the boilerplate set is itself huge.
    'auto' counts the boiler frame (a job over the already-checkpointed
    postings agg — O(distinct boiler lines)) and picks.
    """
    # lazy checkpoint (round 9): the 'auto' gate's count() materializes the
    # checkpoint blocks in the same job (eager + count was two jobs); with
    # an explicit strategy the single downstream reference materializes it
    # inside the caller's action — either way the postings exchange runs once
    boiler = (
        line_document_frequency(df, id_col, text_col)
        .where(F.col("df") > F.lit(max_df))
        .select("line_fp")
        .localCheckpoint(eager=False)
    )
    if strategy == "auto":
        strategy = "array" if boiler.count() <= array_limit else "join"

    trimmed = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    n_lines = F.coalesce(F.size(trimmed), F.lit(0))

    if strategy == "array":
        arr = boiler.agg(F.collect_set("line_fp").alias("_boiler"))
        kept = F.filter(
            trimmed,
            lambda x: ~F.array_contains(F.col("_boiler"), F.xxhash64(x)),
        )
        return (
            df.crossJoin(F.broadcast(arr))
            .withColumn("n_lines", n_lines)
            .withColumn(
                "n_lines_dropped", n_lines - F.coalesce(F.size(kept), F.lit(0))
            )
            .withColumn(clean_col, F.coalesce(F.concat_ws("\n", kept), F.lit("")))
            .drop("_boiler")
        )

    if strategy != "join":
        raise ValueError(f"unknown strategy {strategy!r}")
    lines = _doc_lines(df, id_col, text_col).withColumn(
        "line_fp", F.xxhash64("line")
    )
    marked = lines.join(
        boiler.withColumn("_b", F.lit(True)), ["line_fp"], "left"
    )
    agg = marked.groupBy("_id").agg(
        F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("_nd"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    # when() without otherwise -> null for boiler lines;
                    # collect_list skips nulls, so only kept lines regroup
                    F.collect_list(
                        F.when(F.col("_b").isNull(), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("_clean"),
    )
    return (
        df.join(agg, df[id_col] == agg["_id"], "left")
        .drop("_id")
        .withColumn("n_lines", n_lines)
        .withColumn("n_lines_dropped", F.coalesce(F.col("_nd"), F.lit(0)))
        .withColumn(clean_col, F.coalesce(F.col("_clean"), F.lit("")))
        .drop("_nd", "_clean")
    )


# ---------------------------------------------------------------------------
# hashing-trick TF embeddings — the text -> vector bridge (round 7). Turns
# raw text into a dense array<double> the vector operators (ANN top-k,
# embedding_near_dup_pairs, brute-force cosine) consume directly, with no
# model artifact to ship: the "embedding" is a signed feature-hashed
# term-frequency vector (Weinberger et al. 2009, "Feature Hashing for
# Large Scale Multitask Learning" — public spec).


def hashed_tf_embedding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    l2_normalize: bool = True,
    out_col: str = "embedding",
) -> DataFrame:
    """-> (id_col, out_col: array<double> length dim).

    bucket(token) = pmod(xxhash64(token), dim); sign(token) = ±1 from an
    independent seed (xxhash64(1, token) & 1) so hash collisions cancel in
    expectation instead of biasing counts upward. Document vector = signed
    token counts per bucket, optionally L2-normalized.

    Scale shape: explode -> two narrow exchanges of (id, bucket, count)
    triples — partial aggregation makes the first map-side-combined, and
    nothing document-sized is ever shuffled (the dense array materializes
    per doc AFTER the final groupBy). All JVM-native (split/explode/
    xxhash64/map_from_entries/transform) — no Python in the path. No
    DuckDB oracle: xxhash64 is engine-specific; correctness is pytest-
    pinned via determinism/norm/cosine-separation invariants plus an
    end-to-end text -> embedding -> near-dup integration test."""
    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.explode(F.split(F.col(text_col), " ")).alias("t"))
        .where(F.col("t") != "")
    )
    signed = toks.select(
        "_id",
        F.pmod(F.xxhash64("t"), F.lit(dim)).cast("int").alias("b"),
        F.when(F.pmod(F.xxhash64(F.lit(1), F.col("t")), F.lit(2)) == 0, F.lit(1.0))
        .otherwise(F.lit(-1.0))
        .alias("s"),
    )
    per_bucket = signed.groupBy("_id", "b").agg(F.sum("s").alias("v"))
    dense = (
        per_bucket.groupBy("_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("b", "v"))).alias("m"))
        .select(
            "_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                # element_at on a MAP keys by value (bucket id), not position
                lambda i: F.coalesce(F.element_at("m", i.cast("int")), F.lit(0.0)),
            ).alias("_emb"),
        )
    )
    if l2_normalize:
        nrm = F.sqrt(
            F.aggregate(
                F.col("_emb"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        )
        dense = dense.select(
            "_id",
            F.when(
                nrm > 0, F.transform(F.col("_emb"), lambda x: x / nrm)
            ).otherwise(F.col("_emb")).alias("_emb"),
        )
    return dense.select(F.col("_id").alias(id_col), F.col("_emb").alias(out_col))


# --- PII scrubbing (round 7): training-corpus redaction ------------------------
#
# Standard training-data hygiene (the CCNet/RefinedWeb pipelines scrub
# emails/IPs before release). Pure native regexp_count/regexp_replace —
# JVM-side, codegen, no UDF — and the original text column is NEVER mutated
# (the per-url byte-identity invariant): redaction lands in a new column.
# Patterns use portable character classes (no lookarounds) so Java regex
# (Spark), RE2 (DuckDB), and Python `re` agree match-for-match — the pytest
# mirror test relies on this.

PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — conservative: requires a dotted TLD of 2+ letters
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    # dotted-quad IPv4 (no octet-range check: redaction over precision)
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    # international-format phone: +country then 7-14 digits with -/space/()
    "phone": r"\+[0-9][0-9() \-]{5,13}[0-9]",
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_scrubbed",
    kinds: tuple[str, ...] = ("email", "ipv4", "phone"),
    token: str = "<PII:{kind}>",
) -> DataFrame:
    """Adds `out_col` (redacted text) plus one `n_pii_<kind>` count column
    per requested kind. Counts are taken on the ORIGINAL text before any
    replacement so kind A's redaction token can never perturb kind B's
    count; replacements then apply in the order given. NULL text stays
    NULL with zero counts."""
    unknown = set(kinds) - set(PII_PATTERNS)
    if unknown:
        raise ValueError(f"scrub_pii: unknown kinds {sorted(unknown)}")
    out = df
    for kind in kinds:
        out = out.withColumn(
            f"n_pii_{kind}",
            F.coalesce(
                F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[kind])),
                F.lit(0),
            ),
        )
    scrubbed = F.col(text_col)
    for kind in kinds:
        scrubbed = F.regexp_replace(
            scrubbed, PII_PATTERNS[kind], token.format(kind=kind)
        )
    return out.withColumn(out_col, scrubbed)


# --- incremental near-dup dedup (round 7): append a batch to a corpus ----------
#
# The production shape: a deduped 100-TB corpus already exists; a crawl
# batch of B new docs arrives. Re-running full-batch LSH would re-shingle
# and re-sign the WHOLE base corpus per append. Instead the base corpus
# stores its band signatures once (band_signatures -> parquet, 16 longs per
# doc — written bucketed by (band_idx, band_hash) the bucket groupBy needs
# no exchange at all), and each append pays:
#   O(B) signing for the new batch
#   new x new  : the standard in-bucket expansion on the new batch alone
#   new x base : an equi-join of the (tiny) new band keys against the
#                stored base signatures — AQE broadcasts the new side, so
#                the base frame is map-side filtered, never shuffled
#   verify     : exact Jaccard on candidate DOCS only (semi joins into the
#                new and base text frames — the base text is touched only
#                for its candidate rows, column-pruned)
# Doc ids must be globally unique across base and batch (documented
# contract; the output canonicalizes id_a < id_b numerically, matching
# full-batch lsh_candidate_pairs).


def band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """-> (id_col, band_idx, band_hash): the storable banded-signature frame
    an incremental pipeline persists once per corpus. Parameters (k,
    num_perm, bands) must match between the stored frame and later
    lsh_candidate_pairs_incremental calls — store them alongside."""
    return _banded_ids(df, id_col, text_col, k, num_perm, bands).select(
        F.col("_id").alias(id_col), "band_idx", "band_hash"
    )


def lsh_candidate_pairs_incremental(
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    est_threshold: float = 0.5,
    base_banded: DataFrame | None = None,
    bucket_cap: int | None = 1000,
    cross_bucket_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs TOUCHING THE NEW BATCH: (id_a, id_b, est_jaccard,
    exact_jaccard, n_inter, n_union), id_a < id_b — the union of new x new
    and new x base candidates, exact-verified. With the same params and
    caps disabled, equals full-batch lsh_candidate_pairs(base ∪ new)
    restricted to pairs with >= 1 new id (pinned by test).

    base_banded: pass the stored band_signatures frame to skip re-signing
    the base corpus (the point of the API); omitted, it is derived from
    base_docs here. bucket_cap truncates new x new buckets exactly like
    lsh_candidate_pairs; cross_bucket_cap bounds base matches PER (band
    bucket, new doc), lowest base ids kept — both deterministic, both
    reportable via lsh_capped_buckets on the respective frames."""
    new_banded = _banded_ids(
        new_docs, id_col, text_col, k, num_perm, bands
    ).localCheckpoint(eager=True)  # signed once, read by both candidate paths

    if base_banded is None:
        base_b = _banded_ids(
            base_docs, id_col, text_col, k, num_perm, bands
        ).select(F.col("_id").alias("_bid"), "band_idx", "band_hash")
    else:
        base_b = base_banded.select(
            F.col(id_col).alias("_bid"), "band_idx", "band_hash"
        )

    nn = _pairs_from_banded(new_banded, bucket_cap)

    cross = new_banded.join(base_b, ["band_idx", "band_hash"]).select(
        "band_idx", "band_hash", F.col("_id").alias("_nid"), "_bid"
    )
    if cross_bucket_cap is not None:
        cross = top_k(
            cross, cross_bucket_cap, ["band_idx", "band_hash", "_nid"], [F.asc("_bid")]
        )
    cross = cross.select(
        F.least("_nid", "_bid").alias("id_a"), F.greatest("_nid", "_bid").alias("id_b")
    )

    pairs = (
        nn.unionByName(cross)
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=True)
    )
    docs_all = new_docs.select(F.col(id_col), F.col(text_col)).unionByName(
        base_docs.select(F.col(id_col), F.col(text_col))
    )
    return _verify_and_score(
        pairs, docs_all, id_col, text_col, k, num_perm, est_threshold
    )


# --- containment detection (round 7): doc-inside-doc, what Jaccard misses ------
#
# A 200-char paragraph quoted inside a 4,000-char page has Jaccard ~0.05 —
# no symmetric near-dup threshold ever fires — yet it is exactly the
# duplication a training corpus wants to know about (syndicated quotes,
# boilerplate inclusions, subset pages). The MOSS measure: containment of
# A in B = |fp(A) ∩ fp(B)| / |fp(A)| over winnowed rolling-hash
# fingerprints. Winnowing's guarantee (shared substrings of length >=
# w+k-1 always share a fingerprint) makes the postings join 100%-recall
# for any pair with containment > 0 — the same by-construction blocking
# story as ngram_jaccard_pairs, with the fingerprint set (~2/w of
# positions) as the cheaper posting currency.


DEFAULT_CONTAINMENT_BUCKET_CAP = 1000


def containment_capped_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = DEFAULT_WINNOW_K,
    w: int = DEFAULT_WINNOW_W,
    bucket_cap: int = DEFAULT_CONTAINMENT_BUCKET_CAP,
    max_df: int | None = None,
) -> DataFrame:
    """No-silent-caps report (the lsh_capped_buckets contract): every winnow
    fingerprint whose posting list exceeds bucket_cap — the postings
    containment_pairs truncates under the default cap. At web scale these
    are corpus-frequent fingerprints (boilerplate paragraphs, license
    headers); the report makes the skipped comparisons auditable."""
    _, post = _containment_postings(df, id_col, text_col, k, w, max_df)
    return (
        post.groupBy("f")
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") > bucket_cap)
    )


def _containment_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
    max_df: int | None,
) -> tuple[DataFrame, DataFrame]:
    fp = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(
                winnow_fingerprints_udf(k, w)(F.col(text_col))
            ).alias("fpset"),
        )
        .where(F.size("fpset") > 0)
    )
    post = fp.select("_id", F.explode("fpset").alias("f"))
    if max_df is not None:
        dfw = Window.partitionBy("f")
        post = post.withColumn("_df", F.count(F.lit(1)).over(dfw)).where(
            F.col("_df") <= max_df
        ).drop("_df")
    return fp, post


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = DEFAULT_WINNOW_K,
    w: int = DEFAULT_WINNOW_W,
    min_containment: float = 0.8,
    max_df: int | None = None,
    bucket_cap: int | None = DEFAULT_CONTAINMENT_BUCKET_CAP,
) -> DataFrame:
    """-> (id_small, id_big, n_inter, n_small, n_big, containment) for every
    pair whose SMALLER fingerprint set is >= min_containment contained in
    the larger's (ties on set size: the lower id is id_small;
    deterministic). Postings carry (fingerprint, id) longs only; max_df
    drops corpus-frequent fingerprints from candidate GENERATION (the same
    100-TB boilerplate knob as ngram_jaccard_pairs — scores are computed on
    the FULL sets either way).

    bucket_cap (round 8, VERDICT r7 "What's wrong" #2): the postings
    self-join generates O(df^2) candidate pairs for a fingerprint shared by
    df documents — one boilerplate paragraph stamped across a 100-TB crawl
    is an unbounded single-bucket blowup. Posting lists beyond bucket_cap
    are truncated DETERMINISTICALLY (by id order, the lsh/simhash
    convention) and containment_capped_buckets reports every truncated
    fingerprint. Pass bucket_cap=None for exhaustive mode (required when
    the result feeds an exactness oracle)."""
    fp, post = _containment_postings(df, id_col, text_col, k, w, max_df)
    if bucket_cap is not None:
        post = top_k(post, bucket_cap, "f", ["_id"])
    cand = (
        post.select(F.col("f"), F.col("_id").alias("id_a"))
        .join(post.select(F.col("f"), F.col("_id").alias("id_b")), "f")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = (
        cand.join(fp.select(F.col("_id").alias("id_a"), F.col("fpset").alias("fp_a")), "id_a")
        .join(fp.select(F.col("_id").alias("id_b"), F.col("fpset").alias("fp_b")), "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("fp_a", "fp_b")).alias("n_inter"),
            F.size("fp_a").alias("na"),
            F.size("fp_b").alias("nb"),
        )
    )
    a_small = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b"))
    )
    out = scored.select(
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
        "n_inter",
        F.when(a_small, F.col("na")).otherwise(F.col("nb")).alias("n_small"),
        F.when(a_small, F.col("nb")).otherwise(F.col("na")).alias("n_big"),
    ).withColumn(
        "containment",
        F.col("n_inter").cast("double") / F.col("n_small").cast("double"),
    )
    # integer-exact threshold, same boundary discipline as the jaccard ops
    return out.where(
        F.col("n_inter").cast("double")
        >= F.lit(min_containment) * F.col("n_small").cast("double")
    )


# --- intra-document repetition stats (round 7): the Gopher repetition screens --
#
# Machine-generated and templated pages repeat themselves INTERNALLY —
# duplicated lines, one bigram stamped hundreds of times. The Gopher /
# MassiveText quality rules screen on exactly these fractions. Two signals:
#   dup_line_char_frac : chars in lines whose text occurs more than once in
#                        the document / total line chars (all occurrences
#                        counted — a fully duplicated doc scores ~1.0)
#   top_bigram_frac    : chars in the single most frequent word bigram
#                        (count x its char length) / total text chars
# Scale shape: lines are compared WITHIN a row by HOFs (a page has tens of
# lines — the O(lines^2) filter is per-row constant work); bigram counting
# rides an explode -> (id, bigram) groupBy — the hashed_tf exchange shape,
# map-side combined, nothing document-sized shuffled.


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> input columns + (dup_line_char_frac, top_bigram_frac), both double
    in [0,1], 0.0 for docs with no lines / fewer than 2 tokens. NULL text
    -> 0.0 on both (nothing to screen)."""
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: F.length(x) > 0)
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    dup_chars = F.aggregate(
        lines,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.when(
            F.size(F.filter(lines, lambda y: y == x)) > 1, F.length(x)
        ).otherwise(F.lit(0)),
    )
    with_lines = df.withColumn(
        "dup_line_char_frac",
        F.when(
            F.col(text_col).isNotNull() & (total_chars > 0),
            dup_chars.cast("double") / total_chars.cast("double"),
        ).otherwise(F.lit(0.0)),
    )

    # bigrams see one whitespace-delimited token stream (newlines separate
    # tokens too — a line break between "spam ham" occurrences must not
    # mint distinct bigrams)
    toks = F.filter(F.split(F.col(text_col), "[ \n]"), lambda x: F.length(x) > 0)
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    exploded = with_lines.select(
        F.col(id_col).alias("_rid"),
        F.length(text_col).alias("_tot"),
        F.explode(
            F.when(F.col(text_col).isNotNull() & (n >= 2), bigrams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("_bg"),
    )
    top = (
        exploded.groupBy("_rid", "_tot", "_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_rid", "_tot")
        .agg(
            # total order: count, then bigram length, then the bigram string
            # itself — deterministic winner under any tie pattern
            F.max(
                F.struct(F.col("_c"), F.length("_bg").alias("_l"), F.col("_bg"))
            ).alias("_m")
        )
        .select(
            "_rid",
            (
                (F.col("_m._c") * F.col("_m._l")).cast("double")
                / F.col("_tot").cast("double")
            ).alias("top_bigram_frac"),
        )
    )
    out = with_lines.join(
        top.withColumnRenamed("_rid", id_col), id_col, "left"
    ).withColumn("top_bigram_frac", F.coalesce("top_bigram_frac", F.lit(0.0)))
    return out


# --- unigram surprisal scoring (round 7): the CCNet LM-quality filter shape ----
#
# CCNet ranks crawl docs by language-model perplexity against a clean
# reference corpus (gibberish scores high, boilerplate scores low, prose
# sits in the middle band). No external LM exists in this environment, so
# the honest offline approximation is a UNIGRAM model: train token
# frequencies on a reference corpus (or the corpus itself), score each doc
# by mean -log2 P(token). The shape matches the real thing — train once,
# broadcast the profile, score at scan speed — and swaps to a KenLM-style
# table on a real cluster without changing either exchange.
#
# Scale: training is one map-side-combined (token, count) exchange with the
# vocabulary capped to the top-N tokens (the profile must broadcast); OOV
# tokens take the floor probability 1/total. Scoring is explode ->
# broadcast join -> one (id, sum, count) re-agg. Nothing document-sized
# shuffles.


def train_unigram_logprobs(
    df: DataFrame,
    text_col: str = "text",
    vocab_cap: int = 65_536,
) -> DataFrame:
    """-> (token, logp) reference profile: log2(count/total) for the
    vocab_cap most frequent tokens (ties broken token-asc, deterministic).
    `total` counts EVERY token occurrence (in- and out-of-vocab), so
    probabilities are honest corpus frequencies, not renormalized to the
    kept vocabulary."""
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.explode(F.split(F.col(text_col), "[ \\n]")).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n")).collect()[0][0]
    if not total:
        raise ValueError("train_unigram_logprobs: no tokens in the corpus")
    # top-N via orderBy+limit = TakeOrderedAndProject (map-side top-N per
    # partition, distributed) — a row_number window here would be a
    # single-task global sort over the whole vocabulary
    return (
        counts.orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_cap)
        .select(
            "token",
            (F.log2(F.col("n").cast("double")) - F.lit(float(np.log2(total)))).alias("logp"),
        )
    )


def with_unigram_surprisal(
    df: DataFrame,
    reference: DataFrame,
    total_tokens: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "mean_surprisal",
) -> DataFrame:
    """Adds `mean_surprisal` = mean over the doc's tokens of -log2 P(token)
    under the reference profile; OOV tokens take the floor probability
    2^(min profile logp) (i.e. as rare as the rarest profiled token —
    pass total_tokens to use 1/total instead). NULL/empty docs -> NULL.
    reference: (token, logp) from train_unigram_logprobs (broadcast — cap
    the vocab so it fits)."""
    if total_tokens is not None:
        floor = -float(np.log2(total_tokens))
    else:
        floor = reference.agg(F.min("logp")).collect()[0][0]
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_sid"),
        F.explode(F.split(F.col(text_col), "[ \\n]")).alias("token"),
    ).where(F.col("token") != "")
    scored = (
        toks.join(F.broadcast(reference), "token", "left")
        .withColumn("_lp", F.coalesce("logp", F.lit(float(floor))))
        .groupBy("_sid")
        .agg((-F.avg("_lp")).alias(out_col))
    )
    return df.join(
        scored.withColumnRenamed("_sid", id_col), id_col, "left"
    )


# --- eval-set decontamination (round 8): benchmark n-gram overlap removal ------
#
# A training corpus that contains an eval benchmark's text inflates every
# downstream score. The public convention (GPT-3 appendix C / the Pile /
# PaLM) is n-gram decontamination: flag a training doc if it shares >= some
# number of word n-grams with any eval example (GPT-3 used 13-grams; PaLM
# 8-grams — `n` is the knob, default 8).
#
# Scale shape (the asymmetry IS the design): the eval side is benchmark-
# sized (thousands of examples — tiny by construction), the corpus side is
# the 100-TB crawl. The eval set's distinct n-gram hashes are aggregated
# and BROADCAST; the corpus is scanned ONCE, its exploded n-gram hashes
# filtered map-side against the broadcast build — only actual hits (rare
# by construction) survive into the (doc_id, eval_id) count exchange.
# Nothing doc-sized shuffles; no corpus self-join anywhere. A 64-bit hash
# collision can only ADD a flag (drop a clean doc) — the conservative
# direction for decontamination; it can never hide real contamination.


def _contam_norm_expr(text: Column) -> Column:
    """Decontamination text normalization (both sides identically):
    lowercase, collapse every non-alphanumeric run to one space, trim —
    so cosmetic punctuation/case/whitespace edits can't evade the match
    (the GPT-3 appendix-C normalization shape; latin-alnum convention)."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def _contam_gram_hashes_expr(text: Column, n: int) -> Column:
    """Normalized text -> array<long> of DISTINCT xxhash64 word n-gram
    hashes; docs shorter than n tokens -> empty array (a partial gram is
    not an n-gram match — unlike shingles_expr's >=1-gram floor, which is
    the right semantics for Jaccard but would fabricate contamination
    here). NULL text -> empty."""
    norm = _contam_norm_expr(text)
    toks = F.split(norm, " ")
    cnt = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), cnt - F.lit(n - 1)),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i, n), " ")),
    )
    return F.when(
        text.isNotNull() & (norm != "") & (cnt >= n), F.array_distinct(grams)
    ).otherwise(F.array().cast("array<bigint>"))


def contamination_hits(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """-> (<id_col>, <eval_id_col>, n_hits): for every (training doc, eval
    example) pair sharing at least one normalized word n-gram, the number
    of DISTINCT shared n-grams. Exact set semantics (both sides distinct
    their grams first): n_hits = |grams(doc) ∩ grams(eval)|, attribution
    per eval example so a flagged doc can be audited.

    The eval side is explicitly broadcast — decontamination's defining
    asymmetry (see module comment). If an eval set ever outgrew broadcast,
    dropping the hint degrades to a plain shuffled equi-join on the gram
    hash with the same semantics."""
    doc_grams = df.select(
        F.col(id_col),
        F.explode(_contam_gram_hashes_expr(F.col(text_col), n)).alias("_g"),
    )
    eval_grams = (
        eval_df.select(
            F.col(eval_id_col),
            F.explode(_contam_gram_hashes_expr(F.col(eval_text_col), n)).alias("_g"),
        )
        .dropDuplicates([eval_id_col, "_g"])
    )
    return (
        doc_grams.join(F.broadcast(eval_grams), "_g")
        .groupBy(id_col, eval_id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """-> (clean_df, report_df). Drops every training doc whose TOTAL
    distinct shared n-grams against ANY single eval example reaches
    min_hits (the GPT-3 rule is min_hits=1 at n=13; PaLM's is n=8).
    report_df = the contamination_hits rows that caused drops — the audit
    trail (which benchmark example leaked, how hard). clean_df keeps the
    input schema untouched; the drop is a left_anti on id only."""
    hits = contamination_hits(
        df, eval_df, id_col, text_col, eval_id_col, eval_text_col, n
    )
    flagged = hits.where(F.col("n_hits") >= min_hits)
    clean = df.join(
        flagged.select(id_col).dropDuplicates([id_col]), id_col, "left_anti"
    )
    return clean, flagged
