"""Approximate nearest neighbors over embedding columns.

Baseline: brute-force cosine top-k (queries_vector.vector_topk_bruteforce,
oracle-checked). Scale path: MULTI-TABLE random-hyperplane LSH — L tables,
each hashing sign-patterns of b seeded hyperplanes into a bucket; candidate
set = union over tables of same-bucket vectors; exact cosine only on
candidates. Collision probability per table for angle θ is (1-θ/π)^b, so
near-duplicates (θ→0) collide in some table with prob ≈ 1-(1-(1-θ/π)^b)^L —
the standard tunable recall/cost dial.

Round-3 scale hardening (VERDICT round 2, "What's wrong" #2):
- n_bits is a PARAMETER, default 16 (65,536 buckets/table): bucket
  population shrinks as n/2^b, where the old fixed b=8 left ~n/256 per
  bucket — a quadratic candidate blowup at web scale. Rule of thumb at
  10^9+ vectors: b ≈ log2(n) − 10 (20-24), multiprobe up.
- MULTI-PROBE holds recall at the wider keys: the probe side also emits
  every 1-bit flip of its bucket code, so a pair whose codes differ by one
  bit in some table still collides. At cos 0.9, b=16, L=8, probe-1:
  P(|Δcode| ≤ 1 in a table) ≈ 0.31, so pair recall ≈ 1-(1-0.31)^8 ≈ 0.95.
- Bucket cap + REPORT (same no-silent-caps contract as textops): one
  degenerate bucket (e.g. all-zero embeddings hash identically) is an
  unbounded m² self-join; buckets beyond bucket_cap are truncated
  deterministically (by id) and `embedding_capped_buckets` reports every
  truncated bucket.

Scale shape: bucketing is one narrow Arrow-batched numpy matmul; the
candidate join is an equi-join on bucket ids that carry the table index in
their high bits. At 10^12 vectors, writing the corpus partitioned by
(table-0 bucket) gives IVF-style partition-pruned query scans.

Determinism: hyperplanes from a pinned seed; ties broken by vec id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiledspark.lineage import checkpoint
from tiledspark.session import local_frame
from tiledspark.textops import _ensure_parallelism
from tiledspark.topk import check_k, top_k

LSH_SEED = 424242
N_TABLES = 8
N_BITS = 16  # round 2 shipped 8 — too coarse past ~10^5 vectors
DEFAULT_EMB_BUCKET_CAP = 1000


def _planes(dim: int, n_tables: int = N_TABLES, n_bits: int = N_BITS,
            seed: int = LSH_SEED) -> np.ndarray:
    """(n_tables, n_bits, dim) seeded hyperplanes."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_bits, dim))


def _np_buckets(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, dim) -> (n, n_tables) bucket ids (table index in bits 32+)."""
    n_tables, n_bits, _ = planes.shape
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    out = np.empty((mat.shape[0], n_tables), dtype=np.int64)
    for t in range(n_tables):
        signs = (mat @ planes[t].T) >= 0.0
        out[:, t] = (signs.astype(np.int64) * weights).sum(axis=1) + (t << 32)
    return out


def _np_probes(buckets: np.ndarray, n_bits: int, multiprobe: int) -> np.ndarray:
    """(n, n_tables) exact buckets -> (n, n_tables*(1+multiprobe*n_bits))
    probe ids: each bucket plus its 1-bit flips (multiprobe=1). Flips stay
    within the table (the table tag lives above bit 32)."""
    if multiprobe == 0:
        return buckets
    flips = buckets[:, :, None] ^ (1 << np.arange(n_bits, dtype=np.int64))[None, None, :]
    return np.concatenate([buckets, flips.reshape(buckets.shape[0], -1)], axis=1)


def buckets_udf(dim: int, n_tables: int = N_TABLES, n_bits: int = N_BITS,
                seed: int = LSH_SEED, multiprobe: int = 0):
    planes = _planes(dim, n_tables, n_bits, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _b(emb: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(e, np.float64) for e in emb])
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        bk = _np_buckets(mat, planes)
        bk = _np_probes(bk, n_bits, multiprobe)
        return pd.Series(list(bk))

    return _b


def with_lsh_buckets(df: DataFrame, emb_col: str = "embedding", dim: int = 64,
                     n_tables: int = N_TABLES, n_bits: int = N_BITS,
                     multiprobe: int = 0) -> DataFrame:
    """Adds `buckets` (array<long>: one id per table, plus the 1-bit-flip
    probe ids when multiprobe=1)."""
    return df.withColumn(
        "buckets", buckets_udf(dim, n_tables, n_bits, LSH_SEED, multiprobe)(F.col(emb_col))
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sqnorm(a):
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cos_expr(a, b):
    # zero-norm guard: hashed-TF can emit an all-zero (non-null) vector when
    # a doc's signed bucket counts cancel; an unguarded divide is a
    # DIVIDE_BY_ZERO job abort under Spark 4 ANSI (and a NaN that sorts
    # ABOVE every real cosine under desc with ANSI off). cos := -1.0 ranks
    # degenerate vectors last everywhere, which is the semantics every
    # caller (top-k desc, >= tau thresholds) wants.
    denom = F.sqrt(_sqnorm(a)) * F.sqrt(_sqnorm(b))
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(-1.0))


def embedding_capped_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
    bucket_cap: int = DEFAULT_EMB_BUCKET_CAP,
) -> DataFrame:
    """No-silent-caps report: every (table-tagged) exact bucket whose
    population exceeds bucket_cap — the buckets embedding_near_dup_pairs
    truncates. At web scale these are degenerate vectors (all-zero, copied
    boilerplate embeddings); the report makes the skipped comparisons
    auditable instead of silently dropped."""
    b = with_lsh_buckets(emb, emb_col, dim, n_tables, n_bits).select(
        F.explode("buckets").alias("bucket")
    )
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") > bucket_cap)
    )


def ann_topk_lsh(
    spark: SparkSession,
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
    multiprobe: int = 1,
) -> DataFrame:
    """-> (vec_id, cos_sim): top-k among vectors sharing >=1 LSH bucket with
    the query (exact cosine on candidates only). The QUERY side multi-probes
    (its exact buckets plus their 1-bit flips — n_tables*(1+n_bits) probes,
    computed driver-side, a tiny isin list), which holds recall at the wide
    16-bit keys while the corpus side stays one bucket per table — the
    IVF-style layout where a probe prunes to matching partitions.

    GUARANTEED-k contract (round-4 fix; VERDICT r3 #1): a top-k API must not
    silently return fewer than k rows. CORRECTNESS_r03 recorded 0 rows for
    the sf0.01 uniform corpus — 8 tables x 17 probes at 2^-16 collision
    probability over ~10^3 random vectors yields an empty candidate set. Now
    the candidate set is checkpointed once (which also flattens the
    bucketing UDF out of the scoring plan) and counted; if it holds fewer
    than k ids the call escalates to 2-bit multiprobe, then to an exact
    brute-force scan. At web scale the escalation is the rare path (buckets
    are population-sized); correctness never depends on it being rare."""
    check_k("ann_topk_lsh", k)
    dim = len(query_vec)
    planes = _planes(dim, n_tables, n_bits)
    qb = _np_buckets(np.asarray(query_vec, np.float64)[None, :], planes)
    b = with_lsh_buckets(emb, emb_col, dim, n_tables, n_bits)

    def _cands(n_flip_bits: int):
        probes = {int(v) for v in _np_probes(qb, n_bits, 1)[0]} if n_flip_bits else {
            int(v) for v in qb[0]
        }
        if n_flip_bits >= 2:  # all 2-bit flips of every exact bucket
            exact = [int(v) for v in qb[0]]
            for code in exact:
                for i in range(n_bits):
                    for j in range(i + 1, n_bits):
                        probes.add(code ^ (1 << i) ^ (1 << j))
        # Candidate = any corpus bucket ∈ probes. Round 7: arrays_overlap
        # against the literal probe array replaces explode → isin →
        # dropDuplicates — same set (a doc matching in 2 tables appeared
        # twice pre-dedup; overlap admits it once by construction), but
        # map-side only: no explode blow-up, no dedup Exchange, one less
        # stage per escalation level. Probe lists are small (136 at level 1,
        # ~1.1k at level 2); ArraysOverlap hashes the larger side.
        probe_arr = F.array(*[F.lit(int(p)) for p in sorted(probes)])
        return (
            b.where(F.arrays_overlap("buckets", probe_arr))
            .select(id_col, emb_col)
        )

    cand, c = checkpoint(_cands(multiprobe), n=F.count(F.lit(1)))
    if c["n"] < k:
        cand, c = checkpoint(_cands(2), n=F.count(F.lit(1)))
        if c["n"] < k:
            # exact fallback: scan once, widened (textops._ensure_parallelism)
            cand = _ensure_parallelism(emb.select(id_col, emb_col))

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        cand.withColumn("cos_sim", _cos_expr(F.col(emb_col), q))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .select(id_col, "cos_sim")
        .limit(k)
    )


# --- IVF (inverted-file) ANN: the second scale path the driver brief names
# ("an IVF or LSH-bucketed variant as the scale path") -------------------------

IVF_SEED = 777


def ivf_train_centroids(
    emb: DataFrame,
    emb_col: str = "embedding",
    n_centroids: int = 16,
    sample_rows: int = 8_000,
    n_iters: int = 6,
    seed: int = IVF_SEED,
) -> np.ndarray:
    """(n_centroids, dim) k-means centroids from a bounded driver-side
    sample — the standard IVF training shape (FAISS trains on a sample too):
    the sample is capped at sample_rows regardless of corpus size, so the
    driver round-trip is O(sample), never O(corpus). Deterministic: seeded
    init (k-means++ style greedy farthest selection on the sample),
    fixed-iteration Lloyd updates, no RNG in the update loop. The sample is
    PLAN-deterministic (limit() follows the input's partition order): the
    same DataFrame always trains the same centroids, but a repartitioned
    copy of the same rows may train different (equally valid) ones — pin
    `centroids` explicitly when bit-identical results must survive layout
    changes."""
    pdf = emb.select(emb_col).limit(sample_rows).toPandas()
    mat = np.array([np.asarray(e, np.float64) for e in pdf[emb_col]])
    if len(mat) == 0:
        raise ValueError(
            "ivf_train_centroids: empty corpus — nothing to train on "
            "(rng.integers(0) would raise an opaque numpy error; ADVICE r4)"
        )
    # clamp: a sample smaller than n_centroids would silently duplicate
    # centroids (farthest-point init re-picks the same rows); the Lloyd loop
    # and ann_topk_ivf's argmax/probe logic tolerate the smaller count
    n_centroids = min(n_centroids, len(mat))
    rng = np.random.default_rng(seed)
    # k-means++ init on the sample
    cents = [mat[rng.integers(len(mat))]]
    d2 = ((mat - cents[0]) ** 2).sum(axis=1)
    for _ in range(1, n_centroids):
        cents.append(mat[int(d2.argmax())])
        d2 = np.minimum(d2, ((mat - cents[-1]) ** 2).sum(axis=1))
    C = np.stack(cents)
    for _ in range(n_iters):
        assign = ((mat[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                C[c] = mat[m].mean(axis=0)
    return C


def with_ivf_centroid(
    emb: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
) -> DataFrame:
    """Adds `centroid_id` (int): nearest centroid by L2, Arrow-vectorized
    batch matmul. At 10^12 vectors, write the corpus partitioned by
    centroid_id — a probe then scans only its n_probe partitions
    (partition-pruned IVF list scan), no shuffle at query time."""
    C = centroids.astype(np.float64)
    cn = (C ** 2).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def _assign(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="int32")
        mat = np.array([np.asarray(v, np.float64) for v in e])
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 constant per row
        d = -2.0 * (mat @ C.T) + cn[None, :]
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return emb.withColumn("centroid_id", _assign(F.col(emb_col)))


def ann_topk_ivf(
    spark: SparkSession,
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the n_probe centroids nearest the query, exact
    cosine only within their lists. Same GUARANTEED-k contract as
    ann_topk_lsh: if the probed lists hold fewer than k candidates the call
    escalates to probing every list (exact). n_probe == n_centroids is
    exact by construction (every vector is in some list). Pass pre-trained
    `centroids` to amortize training across queries."""
    check_k("ann_topk_ivf", k)
    if centroids is None:
        centroids = ivf_train_centroids(emb, emb_col, n_centroids)
    q = np.asarray(query_vec, np.float64)
    order = (((centroids - q) ** 2).sum(axis=1)).argsort()
    probe_ids = [int(v) for v in order[:n_probe]]

    assigned = with_ivf_centroid(emb, centroids, emb_col)

    def _topk(cand: DataFrame) -> DataFrame:
        qlit = F.array(*[F.lit(float(v)) for v in query_vec])
        return (
            cand.withColumn("cos_sim", _cos_expr(F.col(emb_col), qlit))
            .orderBy(F.desc("cos_sim"), F.asc(id_col))
            .select(id_col, "cos_sim")
            .limit(k)
        )

    cand, c = checkpoint(
        assigned.where(F.col("centroid_id").isin(probe_ids)).select(id_col, emb_col),
        n=F.count(F.lit(1)),
    )
    if c["n"] < k:
        # probe everything: exact, widened (textops._ensure_parallelism)
        cand = _ensure_parallelism(assigned.select(id_col, emb_col))
    return _topk(cand)


# --- batched N-query ANN (round 5, VERDICT r4 #6) ----------------------------
#
# The single-query APIs above pay one (or two) blocking gate jobs per call
# for the guaranteed-k escalation — fine for analytical use, wasteful for a
# multi-query workload. These variants take N queries at once and resolve the
# escalation for ALL of them with ONE candidate job + ONE count job per
# escalation level (the kNN cell-ring's round shape): level-0/1 probes for
# every query go out as a single broadcast (query_id, probe) table joined
# against the bucketed corpus; only the queries still short of k re-enter the
# next level. Queries that exhaust the levels take the exact scan
# (_exact_cands: every vector x their ids). Every batch then scores its
# candidates against the broadcast query vectors and keeps each query's top
# k with topk.top_k (cos_sim desc, id asc), which plans the per-query limit
# before the shuffle. Results are identical to calling the single-query API
# N times (asserted in tests/test_vector.py).


def _query_vectors(
    spark: SparkSession, queries: list[tuple[int, list[float]]]
) -> DataFrame:
    """The batch's (query_id, _qv) table."""
    return local_frame(
        spark,
        {
            "query_id": [int(q) for q, _ in queries],
            "_qv": [[float(x) for x in v] for _, v in queries],
        },
        "query_id long, _qv array<double>",
    )


def _exact_cands(
    spark: SparkSession, emb: DataFrame, qids: list[int], id_col: str, emb_col: str
) -> DataFrame:
    """Every vector x every id in qids -> (query_id, <id_col>, <emb_col>):
    the exact-scan candidates, with the query ids on a broadcast."""
    qdf = local_frame(spark, {"query_id": qids}, "query_id long")
    return (
        emb.select(id_col, emb_col)
        .crossJoin(F.broadcast(qdf))
        .select("query_id", id_col, emb_col)
    )


def _score_and_rank(
    spark: SparkSession,
    cand: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """(query_id, <id_col>, <emb_col>) candidates -> each query's top k by
    exact cosine against its broadcast query vector, ties by id."""
    scored = cand.join(F.broadcast(_query_vectors(spark, queries)), "query_id").withColumn(
        "cos_sim", _cos_expr(F.col(emb_col), F.col("_qv"))
    )
    return top_k(scored, k, "query_id", [F.desc("cos_sim"), F.asc(id_col)]).select(
        "query_id", id_col, "cos_sim"
    )


def _counts_by_query(cand: DataFrame) -> dict[int, int]:
    return {
        r["query_id"]: r["n"]
        for r in cand.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def ann_topk_lsh_batch(
    spark: SparkSession,
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
    multiprobe: int = 1,
    stats_out: dict | None = None,
) -> DataFrame:
    """N-query LSH ANN -> (query_id, vec_id, cos_sim), top-k per query.
    Same guaranteed-k contract and identical per-query results as
    ann_topk_lsh, with the escalation probes batched: one corpus-scale
    candidate job + one count job per level, independent of N.

    ``stats_out``: pass a dict to receive cost diagnostics — candidate rows
    actually materialized at the base level (``base_cand``) and the level-2
    escalation (``esc_cand``), plus ``n_exact_queries`` (queries that fell
    through to the exact-scan guarantee). Calibration uses these so its
    pricing covers what the API REALLY scanned, escalation included."""
    if not queries:
        raise ValueError("ann_topk_lsh_batch: empty query list")
    check_k("ann_topk_lsh_batch", k)
    qids = [int(q) for q, _ in queries]
    dim = len(queries[0][1])
    planes = _planes(dim, n_tables, n_bits)
    qmat = np.array([np.asarray(v, np.float64) for _, v in queries])
    qb = _np_buckets(qmat, planes)  # (n_queries, n_tables) exact codes

    def _probe_df(level: int, only: set[int] | None = None) -> DataFrame:
        probe: dict[str, list[int]] = {"query_id": [], "bucket": []}
        for qid, codes in zip(qids, qb):
            if only is not None and qid not in only:
                continue
            probes = {int(c) for c in codes}
            if level >= 1:
                probes |= {int(c) ^ (1 << i) for c in codes for i in range(n_bits)}
            if level >= 2:
                probes |= {
                    int(c) ^ (1 << i) ^ (1 << j)
                    for c in codes
                    for i in range(n_bits)
                    for j in range(i + 1, n_bits)
                }
            probe["query_id"] += [qid] * len(probes)
            probe["bucket"] += sorted(probes)
        return local_frame(spark, probe, "query_id long, bucket long")

    b = with_lsh_buckets(emb, emb_col, dim, n_tables, n_bits).withColumn(
        "bucket", F.explode("buckets")
    )

    def _cands(probe_df: DataFrame) -> DataFrame:
        return (
            b.join(F.broadcast(probe_df), "bucket")
            .dropDuplicates(["query_id", id_col])
            .select("query_id", id_col, emb_col)
        )

    # lazy checkpoints: the per-level _counts_by_query job materializes the
    # candidate blocks itself (one job per escalation level, not two)
    cand = _cands(_probe_df(multiprobe)).localCheckpoint(eager=False)
    have = _counts_by_query(cand)  # ONE count job for all N queries
    deficient = {q for q in qids if have.get(q, 0) < k}
    exact_q: list[int] = []
    have2: dict[int, int] = {}
    if deficient:
        cand2 = _cands(_probe_df(2, deficient)).localCheckpoint(eager=False)
        have2 = _counts_by_query(cand2)
        exact_q = sorted(q for q in deficient if have2.get(q, 0) < k)
        cand = cand.where(~F.col("query_id").isin(sorted(deficient))).unionByName(cand2)
        if exact_q:
            # widened (textops._ensure_parallelism) for the interpreted cosine
            wide = _ensure_parallelism(emb.select(id_col, emb_col))
            exact = _exact_cands(spark, wide, exact_q, id_col, emb_col)
            cand = cand.where(~F.col("query_id").isin(exact_q)).unionByName(exact)
    if stats_out is not None:
        stats_out.update(
            {
                "base_cand": sum(have.values()),
                "esc_cand": sum(have2.values()),
                "n_exact_queries": len(exact_q),
            }
        )
    return _score_and_rank(spark, cand, queries, k, id_col, emb_col)


def ann_topk_ivf_batch(
    spark: SparkSession,
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """N-query IVF ANN -> (query_id, vec_id, cos_sim), top-k per query.
    Centroid assignment runs ONCE over the corpus for all queries; probes go
    out as one broadcast (query_id, centroid_id) table; queries whose probed
    lists hold < k candidates escalate together to an exact scan (probe-all
    is exact by construction). One count job total for the common path."""
    if not queries:
        raise ValueError("ann_topk_ivf_batch: empty query list")
    check_k("ann_topk_ivf_batch", k)
    if centroids is None:
        centroids = ivf_train_centroids(emb, emb_col, n_centroids)
    qids = [int(q) for q, _ in queries]
    qmat = np.array([np.asarray(v, np.float64) for _, v in queries])
    d2 = ((qmat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    order = d2.argsort(axis=1)[:, : min(n_probe, len(centroids))]
    probe_df = local_frame(
        spark,
        {
            "query_id": [qid for qid, cs in zip(qids, order) for _ in cs],
            "centroid_id": [int(c) for cs in order for c in cs],
        },
        "query_id long, centroid_id int",
    )
    assigned = with_ivf_centroid(emb, centroids, emb_col)
    cand = (
        assigned.join(F.broadcast(probe_df), "centroid_id")
        .select("query_id", id_col, emb_col)
        # lazy: the count job below materializes it (one job, not two)
        .localCheckpoint(eager=False)
    )
    have = _counts_by_query(cand)  # ONE count job for all N queries
    exact_q = sorted(q for q in qids if have.get(q, 0) < k)
    if exact_q:
        # widened (textops._ensure_parallelism) for the interpreted cosine
        wide = _ensure_parallelism(emb.select(id_col, emb_col))
        exact = _exact_cands(spark, wide, exact_q, id_col, emb_col)
        cand = cand.where(~F.col("query_id").isin(exact_q)).unionByName(exact)
    if stats_out is not None:
        stats_out.update(
            {
                "base_cand": sum(have.values()),
                "esc_cand": 0,
                "n_exact_queries": len(exact_q),
            }
        )
    return _score_and_rank(spark, cand, queries, k, id_col, emb_col)


def with_ivf_probes(
    emb: DataFrame,
    centroids: np.ndarray,
    n_probe: int,
    emb_col: str = "embedding",
    out_col: str = "probe_cells",
) -> DataFrame:
    """Adds `probe_cells` (array<int>): the n_probe nearest centroid ids in
    ascending-L2 order, Arrow-vectorized batch matmul (one argsort per batch,
    no per-row Python). probe_cells[0] is exactly with_ivf_centroid's
    centroid_id (argmin == first of a stable argsort, ties first-index in
    both), so one UDF pass yields both the home cell and the probe set."""
    C = centroids.astype(np.float64)
    cn = (C ** 2).sum(axis=1)
    npb = min(int(n_probe), len(C))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _p(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, np.float64) for v in e])
        d = -2.0 * (mat @ C.T) + cn[None, :]
        order = np.argsort(d, axis=1, kind="stable")[:, :npb]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    return emb.withColumn(out_col, _p(F.col(emb_col)))


def ivf_hot_cells(
    emb: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
    cell_cap: int = 100_000,
) -> DataFrame:
    """No-silent-skew report (the lsh_capped_buckets convention applied to
    the IVF layout): every centroid cell whose population exceeds cell_cap.
    knn_embedding_self_join does NOT truncate cells (the join is an
    equi-join on cell, so AQE's skew-join split handles a hot cell by
    splitting its join task); this report tells the operator of a 100-TB
    corpus which cells need a larger n_centroids (rule of thumb:
    n_centroids ~ corpus/target_cell_size, e.g. sqrt(N) FAISS-style)."""
    return (
        with_ivf_centroid(emb, centroids, emb_col)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") > cell_cap)
    )


def knn_embedding_self_join(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    rerank_factor: int = 4,
    centroids: np.ndarray | None = None,
    params: dict | None = None,
) -> DataFrame:
    """k nearest OTHER vectors by cosine for EVERY vector — the
    SemDeDup / semantic-clustering workload (every doc's semantic
    neighborhood in one job) -> (query_id, rank, <id_col>, cos_sim) with
    EXACT cosine scores, rank 1..k per query (ties cos desc, id asc).

    Pure composition over the two round-7 scale structures, the way
    knn.py's knn_self_join composes over the cell-ring engine:
      - IVF cells give the blocking: every vector is a query probing its
        n_probe nearest cells; candidates = members of probed cells. The
        candidate join is an equi-join on cell id — at 10^12 vectors with
        the corpus written partitioned by centroid_id this is a co-located
        (partition-pruned) join, and candidate volume is
        N * n_probe * avg_cell_size, LINEAR in N when n_centroids scales
        with the corpus (never all-pairs).
      - SQ8 codes make the in-cell scan cheap: the approximate phase scores
        candidates on UNIT-NORMALIZED decoded int8 codes (norms precomputed
        once per vector, so per-pair work is ONE zip_with dot product —
        1/4 the at-rest bytes, no norm recomputation per pair), keeps the
        top R = rerank_factor*k per query, and phase 2 reranks those R with
        exact float cosine. Like ann_topk_sq8, quantization only has to
        preserve ORDER into the top-R cut, not scores.

    GUARANTEED-k contract (same as every kNN/ANN entry point here): a query
    whose probed cells hold fewer than k others escalates to an exact scan
    against the full corpus — detection is distributed (an anti-join off the
    shortlist, never an O(N)-row collect; corpus-as-queries means per-query
    counts must not round-trip the driver), and only ONE scalar take(1)
    decides whether the escalation stage runs at all. Results for escalated
    queries are exact by construction.

    Self matches are excluded by key (query_id != id), not by rank — two
    distinct vectors can be bit-identical (cos 1.0), and those must count
    among the k others (the rationale of knn.knn_self_join).

    At small N every query escalates (cells are tiny) — correctness never
    depends on escalation being rare. Pass pre-trained `centroids`/`params`
    to pin the index across calls (and to make results layout-independent:
    ivf_train_centroids samples in partition order)."""
    check_k("knn_embedding_self_join", k)
    if centroids is None:
        centroids = ivf_train_centroids(emb, emb_col, n_centroids)
    if params is None:
        params = sq8_train(emb, emb_col)
    r = max(int(rerank_factor) * k, k)

    # decode and norm are STAGED as columns before the per-element divide:
    # referencing the norm aggregate (which nests the O(dim) decode) inside
    # the transform lambda would re-evaluate it per element — no CSE across
    # HOF arms — turning the one corpus-wide materialization pass into
    # O(dim^2) work per row. Staged, it is decode once + norm once + dim
    # column-lookup divides.
    # unit-normalized decoded code: zero-norm vectors map to the zero vector
    # (dot -> 0.0) instead of NaN — NaN sorts ABOVE every real under a desc
    # ordering in Spark, which would rank degenerate vectors first
    base = (
        with_ivf_probes(
            with_sq8(emb, params, emb_col, "_code"), centroids, n_probe, emb_col
        )
        .withColumn("_cell", F.element_at("probe_cells", 1))
        .withColumn("_dec", sq8_decode_expr(F.col("_code"), params))
        .withColumn(
            "_nrm",
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("_dec"), lambda x: x * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
        )
        .withColumn(
            "_unit",
            F.when(
                F.col("_nrm") > 0,
                F.transform(F.col("_dec"), lambda x: x / F.col("_nrm")),
            ).otherwise(F.transform(F.col("_dec"), lambda x: F.lit(0.0))),
        )
        .select(
            F.col(id_col).alias("_id"),
            F.col(emb_col).alias("_emb"),
            "_unit",
            "_cell",
            "probe_cells",
        )
        # materialized ONCE (UDF probes + HOF decode), consumed three times
        # (query side, corpus side, exact-rerank embedding lookups); eager so
        # it runs now, not at the caller's action (round-6 unpersist audit)
        .localCheckpoint(eager=True)
    )

    qs = base.select(
        F.col("_id").alias("query_id"),
        F.col("_unit").alias("_qu"),
        F.explode("probe_cells").alias("_cell"),
    )
    ds = base.select(
        F.col("_id").alias("_did"), F.col("_unit").alias("_du"), "_cell"
    )
    # d-side has exactly ONE cell (its centroid), q-side explodes n_probe —
    # a (q, d) pair joins at most once, so no dedup exchange is needed
    approx_dot = F.aggregate(
        F.zip_with(F.col("_qu"), F.col("_du"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    approx = (
        qs.join(ds, "_cell")
        .where(F.col("query_id") != F.col("_did"))
        .withColumn("_approx", approx_dot)
    )
    shortlist = (
        top_k(approx, r, "query_id", [F.desc("_approx"), F.asc("_did")])
        .select("query_id", "_did")
        # lazy (round 9): the deficiency take(1) below must build ok_q —
        # which aggregates the FULL shortlist — before it can return, so the
        # same job materializes these blocks; eager + take(1) was two jobs
        .localCheckpoint(eager=False)
    )

    # deficiency stays DISTRIBUTED: a query is short iff its shortlist holds
    # < k rows (R >= k, so top_k never hid qualifying candidates) or it
    # is absent entirely (alone in all its probed cells)
    ok_q = (
        shortlist.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= k)
        .select("query_id")
    )
    deficient = base.select(F.col("_id").alias("query_id"), F.col("_emb").alias("_qe")).join(
        ok_q, "query_id", "left_anti"
    )

    def _topk(cand: DataFrame) -> DataFrame:
        scored = cand.withColumn("cos_sim", _cos_expr(F.col("_qe"), F.col("_de")))
        return top_k(
            scored, k, "query_id", [F.desc("cos_sim"), F.asc("_did")], rank="rank"
        ).select("query_id", "rank", F.col("_did").alias(id_col), "cos_sim")

    e_q = base.select(F.col("_id").alias("query_id"), F.col("_emb").alias("_qe"))
    e_d = base.select(F.col("_id").alias("_did"), F.col("_emb").alias("_de"))
    resolved = _topk(
        shortlist.join(ok_q, "query_id", "left_semi").join(e_q, "query_id").join(e_d, "_did")
    )

    if deficient.take(1):  # ONE scalar job decides the escalation stage
        # deficiency at scale = sparse cells = few queries: broadcast them
        # against the corpus (the ann_topk_ivf_batch escalation shape); at
        # tiny N "few" may be all of them, and tiny x tiny is still cheap
        esc = _topk(
            e_d.crossJoin(F.broadcast(deficient)).where(
                F.col("query_id") != F.col("_did")
            )
        )
        resolved = resolved.unionByName(esc)
    return resolved


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    min_cos: float = 0.9,
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
    multiprobe: int = 1,
    bucket_cap: int | None = DEFAULT_EMB_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs (cosine >= min_cos): equi-join exact buckets (a)
    against exact+1-bit-flip probe buckets (b), dedupe, exact-verify.

    Scale shape (same fix as the MinHash band join): the bucket exchange
    carries ONLY (bucket, id) — embeddings are joined back for the surviving
    candidate pairs alone, so the wide shuffle is ids, not 512-byte vectors.
    Probe fan-out is explicit: a-side n_tables rows/vec, b-side
    n_tables*(1+n_bits) rows/vec. Buckets beyond bucket_cap are truncated
    deterministically by id (report: embedding_capped_buckets); pass
    bucket_cap=None for exhaustive mode.
    """
    a_b = with_lsh_buckets(emb, emb_col, dim, n_tables, n_bits).select(
        F.col(id_col).alias("_id"), F.explode("buckets").alias("bucket")
    )
    probe_b = with_lsh_buckets(
        emb, emb_col, dim, n_tables, n_bits, multiprobe=multiprobe
    ).select(F.col(id_col).alias("_id"), F.explode("buckets").alias("bucket"))
    if bucket_cap is not None:
        a_b = top_k(a_b, bucket_cap, "bucket", ["_id"])
        probe_b = top_k(probe_b, bucket_cap, "bucket", ["_id"])
    a = a_b.select("bucket", F.col("_id").alias("id_a"))
    c = probe_b.select("bucket", F.col("_id").alias("id_b"))
    pairs = (
        a.join(c, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    e = emb.select(F.col(id_col).alias("_id"), F.col(emb_col).alias("_e"))
    return (
        pairs.join(e.select(F.col("_id").alias("id_a"), F.col("_e").alias("e_a")), "id_a")
        .join(e.select(F.col("_id").alias("id_b"), F.col("_e").alias("e_b")), "id_b")
        .withColumn("cos_sim", _cos_expr(F.col("e_a"), F.col("e_b")))
        .where(F.col("cos_sim") >= min_cos)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def semdedup_drop_ids(
    spark: SparkSession,
    emb: DataFrame,
    min_cos: float = 0.95,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    **self_join_kwargs,
) -> DataFrame:
    """SemDeDup pruning (Abbas et al. '23 shape): -> the ids to DROP so that
    of any group of semantic near-duplicates (cosine >= min_cos within the
    k-neighborhood) only the LOWEST id survives — the deterministic
    keep-one-representative rule.

    Composition over knn_embedding_self_join: a doc is dropped iff some
    LOWER-id doc sits in its k nearest at >= min_cos. Chain-transitive
    groups (a~b~c where a!~c) drop b and c both — each has a lower-id
    near-neighbor — which matches SemDeDup's per-cluster epsilon-pruning
    (it too keeps one exemplar per connected chain within a cluster, not
    per epsilon-ball). k bounds how many near-dups of one doc are visible;
    at min_cos >= 0.9 duplicate groups are nearly cliques, so any k >= 1
    sees the lowest-id member unless the group is larger than k AND the
    quantized ordering hides it — raise k for aggressive thresholds."""
    sj = knn_embedding_self_join(
        spark, emb, k=k, id_col=id_col, emb_col=emb_col, **self_join_kwargs
    )
    return (
        sj.where(
            (F.col("cos_sim") >= F.lit(float(min_cos)))
            & (F.col(id_col) < F.col("query_id"))
        )
        .select(F.col("query_id").alias(id_col))
        .distinct()
    )


# --- recall-targeted parameter selection (round 8, VERDICT r7 #3) ------------
#
# The ANN defaults are SCALE parameters (16-bit buckets size candidate sets
# for 10^9+ corpora); on a small isotropic corpus they yield ~0.12 recall
# with no signal to the caller (BENCH_r07 ann_recall.lsh). This helper makes
# the API carry its own calibration: sample queries, measure recall@k vs the
# exact answer at a ladder of configs (cheapest first), return the cheapest
# config clearing the target. The ladder runs through the REAL batch APIs,
# so the measured recall is the recall a production call will get.


def _exact_topk_batch(
    spark: SparkSession,
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """Brute-force exact top-k per query, self excluded by key — ONE
    corpus-scale job against the broadcast query table (never a driver-side
    toPandas of the corpus: the ground truth must be computable at any
    corpus size the sampled queries are drawn from)."""
    cand = _exact_cands(
        spark, emb, [int(q) for q, _ in queries], id_col, emb_col
    ).where(F.col("query_id") != F.col(id_col))
    return _score_and_rank(spark, cand, queries, k, id_col, emb_col)


def _recall_of(result_pdf, gt: dict[int, set], k: int) -> float:
    recs = []
    for qid, want in gt.items():
        got = set(
            int(v)
            for v in result_pdf[result_pdf["query_id"] == qid]
            .sort_values("cos_sim", ascending=False)["_rid"]
            .head(k)
        )
        recs.append(len(got & want) / max(len(want), 1))
    return float(np.mean(recs)) if recs else 0.0


def ann_params_for_recall(
    spark: SparkSession,
    emb: DataFrame,
    target_recall: float = 0.9,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_queries: int = 20,
    methods: tuple[str, ...] = ("lsh", "ivf"),
    n_centroids: int = 16,
) -> dict:
    """Measure-then-pick ANN calibration: returns the cheapest config whose
    MEASURED recall@k (vs exact cosine, self excluded) clears target_recall
    on queries sampled from the corpus itself.

    - Sampling is deterministic (xxhash64 order + limit = TakeOrdered, a
      distributed map-side top-N — no rand(), no driver-side corpus scan).
    - Ground truth is ONE exact batch job (broadcast queries x corpus).
    - Ladders run cheapest-first per method through the real batch APIs and
      stop at the first clearing config; across methods the clearing config
      with the smallest measured candidate fraction wins. scanned_frac here
      is candidate rows / (n_queries * corpus) measured on the actual
      candidate sets, not a formula.
    - If NOTHING sublinear clears the target (isotropic data has no
      structure to exploit — the round-7 attestation caveat), the result is
      the exact IVF probe-all config flagged method='exact', recall 1.0 by
      construction, so the caller always gets a config that meets the ask.

    Cost: O(len(ladder)) batch jobs over the corpus — a calibration call,
    run once per corpus/index build, not per query."""
    qrows = (
        emb.select(id_col, emb_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_queries)
        .collect()
    )
    if not qrows:
        raise ValueError("ann_params_for_recall: empty corpus")
    queries = [
        (int(r[id_col]), [float(x) for x in r[emb_col]]) for r in qrows
    ]
    corpus_n = emb.count()
    gt_pdf = (
        _exact_topk_batch(spark, emb, queries, k, id_col, emb_col)
        .withColumnRenamed(id_col, "_rid")
        .toPandas()
    )
    gt = {
        int(q): set(
            int(v) for v in gt_pdf[gt_pdf["query_id"] == q]["_rid"]
        )
        for q, _ in queries
    }

    def _frac(cand_rows: int) -> float:
        # denominator is n_queries * corpus_n (ADVICE r8): the candidate
        # counts include each query's self-match row (and the exact fallback
        # adds the full corpus incl. self), so dividing by (corpus_n - 1)
        # slightly inflated the ratio and could push it past 1.0 on exact
        # fallbacks; this keeps it bounded and comparable across rounds
        return round(cand_rows / max(n_queries * corpus_n, 1), 4)

    trials: list[dict] = []

    def _try(method: str, params: dict) -> dict:
        # recall is measured THROUGH the real batch API (escalation and
        # all); the API's stats_out prices what it actually scanned — base
        # candidates + level-2 escalation + exact-scan fallbacks — so a
        # rung that only clears because queries fell through to the exact
        # guarantee carries its true (near-1.0) scanned_frac, not the
        # base-level fraction.
        stats: dict = {}
        if method == "lsh":
            res = ann_topk_lsh_batch(
                spark, emb, queries, k=k + 1, id_col=id_col,
                emb_col=emb_col, stats_out=stats, **params,
            )
        else:
            res = ann_topk_ivf_batch(
                spark, emb, queries, k=k + 1, id_col=id_col, emb_col=emb_col,
                n_probe=params["n_probe"], centroids=params["centroids"],
                stats_out=stats,
            )
        ncand = (
            stats["base_cand"]
            + stats["esc_cand"]
            + stats["n_exact_queries"] * int(corpus_n)
        )
        pdf = res.withColumnRenamed(id_col, "_rid").toPandas()
        pdf = pdf[pdf["query_id"] != pdf["_rid"]]
        rec = round(_recall_of(pdf, gt, k), 4)
        public = {k_: v for k_, v in params.items() if k_ != "centroids"}
        t = {
            "method": method,
            "params": public,
            "recall": rec,
            "scanned_frac": _frac(ncand),
            "n_exact_queries": stats["n_exact_queries"],
        }
        trials.append(t)
        return t

    def _clears(t: dict) -> bool:
        return t["recall"] >= target_recall

    cleared: list[dict] = []
    if "lsh" in methods:
        for nt, nb, lvl in ((8, 16, 1), (8, 16, 2), (16, 8, 1), (16, 8, 2)):
            t = _try("lsh", {"n_tables": nt, "n_bits": nb, "multiprobe": lvl})
            if _clears(t):
                cleared.append(t)
                # a rung that cleared only via exact-scan fallbacks is not
                # evidence the CONFIG clears — keep climbing for one whose
                # own candidate sets do the work
                if t["n_exact_queries"] == 0:
                    break
    if "ivf" in methods:
        cents = ivf_train_centroids(emb, emb_col, n_centroids)
        for n_probe in (2, 4, 8, 12):
            if n_probe >= len(cents):
                break
            t = _try("ivf", {"n_probe": n_probe, "centroids": cents})
            if _clears(t):
                cleared.append(t)
                if t["n_exact_queries"] == 0:
                    break
    base = {
        "target_recall": target_recall,
        "k": k,
        "n_queries": len(queries),
        "corpus_n": int(corpus_n),
        "trials": trials,
    }
    if cleared:
        best = min(cleared, key=lambda t: (t["scanned_frac"], t["method"]))
        return {**best, **base}
    # nothing sublinear clears: exact by construction (probe every list)
    return {
        "method": "exact",
        "params": {"n_probe": n_centroids, "note": "IVF probe-all == exact scan"},
        "recall": 1.0,
        "scanned_frac": 1.0,
        **base,
    }


# --- SQ8 scalar quantization (round 7): compressed at-rest embeddings -------
#
# At 10^12 documents the embedding column dominates storage and scan IO:
# 64 float32 dims = 256 B/doc. SQ8 stores 1 byte/dim (array<tinyint>, offset
# -128) trained per-dimension from corpus min/max — 4x smaller at rest, and
# the approximate scan reads a quarter of the bytes. Queries rerank the
# approximate top-R with exact float cosine, so the quantization error only
# has to PRESERVE THE ORDER into the top-R cut, not the scores themselves.
# Everything is native Column math (encode/decode are HOF transforms over
# literal per-dim arrays); no Python touches the hot path.


def sq8_train(emb: DataFrame, emb_col: str = "embedding") -> dict:
    """Per-dimension quantizer params from ONE narrow aggregate:
    posexplode -> groupBy(pos).agg(min, max) is a (dim)-key partial-agg
    shuffle — map-side combined, O(dim) rows to the driver regardless of
    corpus size. Returns {"mins": [...], "steps": [...]} with step > 0
    (constant dims get step=1 so encode maps them to code 0 exactly)."""
    rows = (
        emb.select(F.posexplode(emb_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("lo"),
            F.max(F.col("x").cast("double")).alias("hi"),
        )
        .collect()
    )
    if not rows:
        raise ValueError("sq8_train: empty corpus — nothing to train on")
    by_pos = {r["pos"]: (r["lo"], r["hi"]) for r in rows}
    dim = max(by_pos) + 1
    mins, steps = [], []
    for p in range(dim):
        lo, hi = by_pos[p]
        mins.append(float(lo))
        steps.append(float(hi - lo) / 255.0 if hi > lo else 1.0)
    return {"mins": mins, "steps": steps}


def _lit_arr(vals: list[float]):
    return F.array(*[F.lit(float(v)) for v in vals])


def with_sq8(
    df: DataFrame,
    params: dict,
    emb_col: str = "embedding",
    code_col: str = "code",
) -> DataFrame:
    """Adds `code` array<tinyint>: round((x-min)/step) clamped to [0,255],
    stored offset by -128 so it fits the signed byte — a true 1 byte/dim
    at-rest layout (parquet INT8). Pure transform expr, no UDF."""
    mins, steps = _lit_arr(params["mins"]), _lit_arr(params["steps"])
    code = F.transform(
        F.col(emb_col),
        lambda x, i: (
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.round(
                        (x.cast("double") - F.element_at(mins, i + 1))
                        / F.element_at(steps, i + 1)
                    ).cast("int"),
                ),
            )
            - F.lit(128)
        ).cast("tinyint"),
    )
    return df.withColumn(code_col, code)


def sq8_decode_expr(code_col, params: dict):
    """array<tinyint> code -> array<double> reconstruction
    (min + (code+128)*step). Column expr, usable anywhere."""
    mins, steps = _lit_arr(params["mins"]), _lit_arr(params["steps"])
    return F.transform(
        code_col,
        lambda c, i: F.element_at(mins, i + 1)
        + (c.cast("double") + F.lit(128.0)) * F.element_at(steps, i + 1),
    )


def ann_topk_sq8(
    spark: SparkSession,
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    code_col: str = "code",
    params: dict | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """SQ8 two-phase top-k: approximate cosine on the decoded int8 codes
    selects the top R = rerank_factor*k, exact float cosine reranks them ->
    (vec_id, cos_sim) with EXACT scores. Guaranteed-k by construction
    (R >= k and phase 1 is a full scan — never fewer candidates than the
    corpus holds). If `params` is None the quantizer is trained here and the
    codes are computed inline; production encodes once at write time and
    passes the stored `code` column + trained params.

    One job shape: phase 1 is TakeOrderedAndProject over the code scan
    (map-side top-R per partition, R rows to the driver plan), phase 2
    reranks those R rows — no count jobs, no checkpoints."""
    check_k("ann_topk_sq8", k)
    if params is None:
        params = sq8_train(emb, emb_col)
        emb = with_sq8(emb, params, emb_col, code_col)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    r = max(int(rerank_factor) * k, k)
    approx = emb.withColumn(
        "_approx", _cos_expr(sq8_decode_expr(F.col(code_col), params), q)
    ).orderBy(F.desc("_approx"), F.asc(id_col)).limit(r)
    return (
        approx.withColumn("cos_sim", _cos_expr(F.col(emb_col), q))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .select(id_col, "cos_sim")
        .limit(k)
    )


def ann_topk_sq8_batch(
    spark: SparkSession,
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    code_col: str = "code",
    params: dict | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """N-query SQ8 top-k -> (query_id, vec_id, cos_sim), identical per-query
    results to N ann_topk_sq8 calls (asserted in tests) with job count
    independent of N: ONE pass scores every (doc, query) approximate cosine
    against the broadcast query table, top_k keeps each query's top
    R = rerank_factor*k, and the exact rerank runs on those N*R rows."""
    if not queries:
        raise ValueError("ann_topk_sq8_batch: empty query list")
    check_k("ann_topk_sq8_batch", k)
    if params is None:
        params = sq8_train(emb, emb_col)
        emb = with_sq8(emb, params, emb_col, code_col)
    r = max(int(rerank_factor) * k, k)
    approx = emb.join(F.broadcast(_query_vectors(spark, queries))).withColumn(
        "_approx",
        _cos_expr(sq8_decode_expr(F.col(code_col), params), F.col("_qv")),
    )
    shortlist = top_k(
        approx, r, "query_id", [F.desc("_approx"), F.asc(id_col)]
    ).withColumn("cos_sim", _cos_expr(F.col(emb_col), F.col("_qv")))
    return top_k(shortlist, k, "query_id", [F.desc("cos_sim"), F.asc(id_col)]).select(
        "query_id", id_col, "cos_sim"
    )
