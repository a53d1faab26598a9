#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": ..., "docs_per_sec": ...}

The BASELINE metric is docs/sec tiled+joined: docs_per_sec below is
(deduped geocoded docs) / (tile-build + tile-tree + spatial-join wall time).
Scaling evidence (local[8] vs local[32]) is produced by bench/run_scaling.py
and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time


def _cpu_busy_sec() -> float:
    """System-wide busy CPU seconds (user+nice+system) from /proc/stat.
    Nothing else runs on this host, so the delta across the bench IS the
    bench's aggregate CPU time — used to separate 'cores were idle' (engine
    problem) from 'cores were busy but slower' (shared memory bandwidth,
    environmental) in the scaling evidence."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        hz = os.sysconf("SC_CLK_TCK")
        return (int(parts[1]) + int(parts[2]) + int(parts[3])) / hz
    except (OSError, ValueError, IndexError):
        return float("nan")

def _cpu_calibration() -> float | None:
    """Fixed deterministic CPU workload, timed (round 5): the idle check
    catches a LOADED host, but this sandbox also exhibits frozen-code
    throughput DECAY within a session (measured ~15-40% across rounds 3-5)
    that no load metric sees — an idle host can simply be slow. A constant
    single-process numpy workload gives every BENCH json a host-speed
    denominator, so cross-round suite comparisons can separate 'engine got
    slower' from 'host got slower'. ~0.5s on a fresh host."""
    try:
        import numpy as np

        def one() -> float:
            rng = np.random.default_rng(0)
            a = rng.standard_normal((1200, 1200))
            t0 = time.perf_counter()
            for _ in range(3):
                a = np.tanh(a @ a / 1200.0)
            return time.perf_counter() - t0

        one()  # cold pass warms the BLAS thread pool (~20x the warm time)
        return round(min(one(), one()), 3)
    except Exception:  # noqa: BLE001 — calibration must never sink the bench
        return None


def _host_idle_check(window_sec: float = 0.5) -> dict:
    """VERDICT r3 #8: cross-round BENCH files are only comparable if the host
    was idle at start. Sample /proc/stat over a short window BEFORE Spark
    launches and report busy-core count + 1-min loadavg; runs are annotated
    (not refused — the driver must still get its number) so a hot-host run
    is self-identifying."""
    try:
        b0, t0 = _cpu_busy_sec(), time.perf_counter()
        time.sleep(window_sec)
        busy_cores = (_cpu_busy_sec() - b0) / (time.perf_counter() - t0)
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        if busy_cores != busy_cores:  # _cpu_busy_sec's NaN error path:
            # report UNKNOWN, not a definite verdict, and keep the JSON strict
            return {"busy_cores_at_start": None, "loadavg_1m": load1, "idle": None}
        return {
            "busy_cores_at_start": round(busy_cores, 2),
            "loadavg_1m": load1,
            "idle": busy_cores < 2.0 and load1 < 2.0,
        }
    except (OSError, ValueError):
        return {"busy_cores_at_start": None, "loadavg_1m": None, "idle": None}


_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)


def _pin_cores(n_exec_cores: int, n_driver_cores: int = 2) -> dict | None:
    """Fair-share CPU pinning for the scaling bench (SPARK_GRAFT_PIN=1).

    Round-2 verdict: the 1-executor N baseline was structurally flattered
    ~12% because the driver JVM is a FREE extra process for it (6.7 busy
    cores against a 6-core executor allocation), while at 4N the same driver
    is amortized over 4 executors. Fix per the verdict: give the DRIVER ITS
    OWN fixed cores at BOTH cluster sizes and cap executors at exactly their
    allocation — cores 0..n_driver_cores-1 = python driver + driver JVM +
    standalone Worker daemons; cores n_driver_cores.. = executor backends
    (python UDF workers fork from executors and inherit their affinity)."""
    try:
        driver_set = set(range(n_driver_cores))
        exec_set = set(range(n_driver_cores, n_driver_cores + n_exec_cores))
        me = os.getpid()
        os.sched_setaffinity(me, driver_set)
        pinned = {"driver": [me], "exec": [], "cores_exec": sorted(exec_set)}
        for pid_s in os.listdir("/proc"):
            if not pid_s.isdigit():
                continue
            pid = int(pid_s)
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read().decode(errors="replace")
            except OSError:
                continue
            if "CoarseGrainedExecutorBackend" in cmd:
                os.sched_setaffinity(pid, exec_set)
                pinned["exec"].append(pid)
            elif "deploy.worker.Worker" in cmd or "SparkSubmit" in cmd:
                os.sched_setaffinity(pid, driver_set)
                pinned["driver"].append(pid)
        return pinned
    except OSError as e:
        sys.stderr.write(f"core pinning failed: {e}\n")
        return None

from pyspark.sql import functions as F  # noqa: E402

from tiledspark import synth, tiles  # noqa: E402
from tiledspark.extract import dedupe_latest_by_url, extract_coords  # noqa: E402
from tiledspark.session import get_spark  # noqa: E402

BENCH_CACHE = os.path.join(_REPO, ".bench_cache")


def _warmup(spark, pages, zones_path: str) -> None:
    """Untimed warmup: spins up executor JVMs (JIT) and python UDF workers
    before measurement — standard bench hygiene; per-worker cold-start
    measured ~5-20s, pure overhead unrelated to per-doc throughput."""
    from tiledspark.cells import with_cell_indexes
    from tiledspark.join import spatial_join
    from tiledspark.tree import build_tile_tree

    # spread the warmup over every core so ALL executor python UDF workers
    # spawn before timing (a 30k-row warmup otherwise touches 1-2 partitions
    # and leaves most of a 24-core cluster's workers cold)
    pages = pages.limit(30_000).repartition(spark.sparkContext.defaultParallelism)
    docs = (
        dedupe_latest_by_url(extract_coords(pages))
        .where(F.col("lat").isNotNull())
        .select("url", "lat", "lon")
    )
    with_cell_indexes(docs).count()
    build_tile_tree(docs).count()
    zones = spark.read.parquet(zones_path)
    spatial_join(spark, docs, zones).count()
    # warm the remaining cold paths the timed queries hit exactly once:
    # the LSH/minhash codegen stages, the vector-bucketing pandas UDF, and
    # the kNN driver loop (JIT + python workers, NOT the sf-dir data)
    import pandas as pd

    from tiledspark.knn import knn_cell_ring
    from tiledspark.textops import lsh_candidate_pairs
    from tiledspark.vector import with_lsh_buckets

    lsh_candidate_pairs(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(200), "text": ["w%d x y z a b" % i for i in range(200)]})
        ),
        "doc_id",
    ).count()
    import numpy as np

    with_lsh_buckets(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": range(64),
                    "embedding": [
                        np.arange(64, dtype=np.float32) + i for i in range(64)
                    ],
                }
            ).assign(embedding=lambda d: d["embedding"].map(list))
        )
    ).count()
    # both kNN paths: 1 query x 2k docs takes the exact scan; past
    # EXACT_MAX_PAIRS the same docs take the ring rounds and the straggler
    # scan that the timed leaf (20 queries x the sf docs) runs
    from tiledspark.knn import EXACT_MAX_PAIRS

    rng = np.random.default_rng(98)
    for n_q in (1, EXACT_MAX_PAIRS // 2_000 + 1):
        knn_cell_ring(
            spark,
            docs.limit(2_000),
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "query_id": np.arange(n_q),
                        "lat": rng.uniform(-55, 65, n_q),
                        "lon": rng.uniform(-170, 170, n_q),
                    }
                )
            ),
            k=3,
            zoom=8,
            max_radius=8,
        ).count()
    # Round 5: the timed ann_lsh_topk row runs BOTH full ANN calls (LSH
    # multiprobe + IVF) over a parquet∪local-literal union — with_lsh_buckets
    # above warms only the bucketing UDF, leaving the IVF centroid-assign
    # UDF, the union plan shape, the guaranteed-k checkpoint path, and the
    # cosine-HOF codegen cold (measured ~2s of one-time cost landing inside
    # the timed query). Warm the whole call shape on a 64-row corpus.
    from tiledspark.vector import ann_topk_ivf, ann_topk_lsh

    tiny = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(64),
                "embedding": [
                    (np.arange(64, dtype=np.float64) / 64.0 + i).tolist()
                    for i in range(64)
                ],
            }
        )
    )
    tiny_un = tiny.unionByName(
        spark.createDataFrame(
            [(1000 + j, [float(j + i) for i in range(64)]) for j in range(4)],
            "vec_id long, embedding array<double>",
        )
    )
    qv = [float(v) for v in np.arange(64, dtype=np.float64)]
    ann_topk_lsh(spark, tiny_un, qv, k=3).count()
    ann_topk_ivf(spark, tiny_un, qv, k=3, n_centroids=4, n_probe=2).count()


def main() -> None:
    idle_check = _host_idle_check()
    cpu_calib = _cpu_calibration()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"

    n_pages = int(
        os.environ.get("SPARK_GRAFT_PAGES_N", synth.pages_rows_for_sf_dir(sf_dir))
    )
    # SPARK_GRAFT_SRC=expr: generate pages IN EXECUTORS (deterministic Column
    # exprs, synth.pages_df) — the scaling-bench source, where the corpus must
    # exceed what the driver-side numpy generator can build and the shared-
    # disk scan is a sandbox artifact. Default "file" stays byte-pinned to
    # the FIXTURES corpus.
    src = os.environ.get("SPARK_GRAFT_SRC", "file")
    zones_path = synth.ensure_zones(BENCH_CACHE)

    # Shuffle partitions should track DATA SIZE, not core count: the default
    # (cores) gives the 1-executor N baseline six ~2.7M-row window-shuffle
    # tasks at 16M pages — measured Java-heap OOM. A fixed count at both
    # cluster sizes also keeps the logical plan identical across N and 4N.
    shuffle_env = os.environ.get("SPARK_GRAFT_SHUFFLE")
    spark = get_spark(
        master=master,
        app_name="tiledspark-bench",
        shuffle_partitions=int(shuffle_env) if shuffle_env else None,
    )
    timings: dict[str, float] = {}

    pinned = None
    if os.environ.get("SPARK_GRAFT_PIN", "0") == "1":
        if master.startswith("local-cluster"):
            w, c, _ = master[master.find("[") + 1 : master.find("]")].split(",")
            # task-slot cores + 1 core per executor JVM for GC/netty/python
            # daemon threads: pinning to EXACTLY the slot count starves GC
            # under the window shuffle (measured: executor exit code 52 = JVM
            # OOM at 16M pages). The N:4N CPU ratio stays exactly 1:4.
            n_exec_cores = int(w) * int(c) + int(w)
        else:
            n_exec_cores = cpus
        pinned = _pin_cores(n_exec_cores)  # before warmup: python UDF workers
        # fork from executors afterwards and inherit the executor affinity

    if src == "expr":
        # SPARK_GRAFT_RANGE_PARTS: wave-count knob for the generate+extract
        # stage (see synth.pages_df). Round-7 default: FOUR waves per slot
        # count (A/B BENCH/WAVES_AB_r7waves.md: interleaved 3-pair median
        # 96parts/1wave = 1.034, never below 0.999, and 1.234 on the pair
        # where the single-wave arm hit a degraded-host patch — multi-wave
        # bounds the straggler tail at ~1/4 wave for free). Proportional to
        # slots on BOTH scaling sides, so the N:4N protocol stays fair.
        rp_env = os.environ.get("SPARK_GRAFT_RANGE_PARTS")
        slots = None
        m = re.match(r"local-cluster\[(\d+),(\d+),", master)
        if m:
            slots = int(m.group(1)) * int(m.group(2))
        elif re.match(r"local\[(\d+)\]", master):
            slots = int(re.match(r"local\[(\d+)\]", master).group(1))
        rp = int(rp_env) if rp_env else (4 * slots if slots else None)
        pages = synth.pages_df(spark, n_pages, num_partitions=rp)
    else:
        pages = spark.read.parquet(synth.ensure_pages(BENCH_CACHE, n_pages))

    if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
        _warmup(spark, pages, zones_path)

    cpu0 = _cpu_busy_sec()

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    # --- headline pipeline: ingest -> extract -> dedupe -> tile -> tree -> join
    def _build():
        # "tiled" per the north_star = quadtree tile + H3/S2 cell indexes
        from tiledspark.cells import with_cell_indexes

        docs = (
            dedupe_latest_by_url(extract_coords(pages))
            .where(F.col("lat").isNotNull())
            .withColumn(
                "tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE)
            )
            .select("url", "lat", "lon", "tile_id")
        )
        docs = with_cell_indexes(docs, s2_level=13, h3_res=7)
        docs.cache()
        return docs, docs.count()

    docs, n_docs = timed("tile_build", _build)

    def _tree():
        from tiledspark.tree import build_tile_tree

        return build_tile_tree(docs.select("url", "lat", "lon")).count()

    tree_rows = timed("tile_tree", _tree)

    def _join():
        from tiledspark.join import spatial_join

        zones = spark.read.parquet(zones_path)
        return spatial_join(spark, docs.select("url", "lat", "lon"), zones).count()

    join_rows = timed("spatial_join", _join)

    # SPARK_GRAFT_PIPELINE_ONLY=1 (round-5 interleaved-pair scaling protocol):
    # stop after the three stages that define docs/sec. Each scaling run then
    # costs only the pipeline + warmup, so an interleaved N,4N,N,4N,... session
    # fits inside a fresh-host window and host decay cannot asymmetrically
    # penalize whichever side would otherwise run last (VERDICT r4 #1).
    pipeline_only = os.environ.get("SPARK_GRAFT_PIPELINE_ONLY", "0") == "1"

    def _knn():
        import numpy as np
        import pandas as pd

        from tiledspark.knn import knn_cell_ring

        rng = np.random.default_rng(99)
        q = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": np.arange(20),
                    "lat": rng.uniform(-55, 65, 20),
                    "lon": rng.uniform(-170, 170, 20),
                }
            )
        )
        return knn_cell_ring(spark, docs.select("url", "lat", "lon"), q, k=5, zoom=8).count()

    if not pipeline_only:
        timed("knn_cell_ring", _knn)

        # --- relational headliners over the driver tables
        from tiledspark.registry import build_queries

        queries = build_queries()
        for name in ("agg_hash_basic", "join_inner_hash", "window_frame_agg", "join_range"):
            timed(name, lambda n=name: queries[n](spark, sf_dir).count())

        # --- training-data pipeline headliners
        for name in ("dedup_exact", "dedup_minhash_lsh", "vector_topk_bruteforce", "ann_lsh_topk"):
            timed(name, lambda n=name: queries[n](spark, sf_dir).count())

    # --- snapshot commit throughput (+ optional diff-layer bench)
    snapshot_diff_layers: list[dict] = []
    n_diff_layers = int(os.environ.get("SPARK_GRAFT_SNAPDIFF", "0"))

    def _commit():
        from tiledspark.snapshot import SnapshotStore

        d = tempfile.mkdtemp(prefix="bench_store_")
        try:
            store = SnapshotStore(d, n_buckets=32)
            store.commit(docs, key_col="tile_id", index_key="url")
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def _diff_stack():
        """Separate stage (own store, 256 buckets): rewrite granularity is
        min(touched tiles, buckets), so finer buckets than the commit
        stage's 32 are what shows the copy-on-write ratio a localized diff
        achieves at scale. Kept OUT of snapshot_commit so that metric stays
        comparable across rounds."""
        from tiledspark.snapshot import SnapshotStore

        d = tempfile.mkdtemp(prefix="bench_diffstore_")
        try:
            store = SnapshotStore(d, n_buckets=256)
            store.commit(docs, key_col="tile_id", index_key="url")
            _diff_layers(store)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def _diff_layers(store):
        """K OsmChange-style delta batches applied as copy-on-write layers to
        the full-corpus store, then an as-of read per layer (VERDICT r2 #7:
        exercise apply_diff/time-travel at bench scale, report rewrite
        ratios)."""
        from tiledspark import tiles as _t
        from tiledspark.extract import extract_coords

        from tiledspark.cells import with_cell_indexes

        for b in range(n_diff_layers):
            batch = synth.gen_diff_batch(n_pages, b, rows=200)
            raw = spark.createDataFrame(batch.to_pandas())
            delta = extract_coords(raw).withColumn(
                "tile_id",
                F.when(
                    F.col("lat").isNotNull(),
                    _t.tile_id_expr(F.col("lon"), F.col("lat"), _t.Z_BASE),
                ).otherwise(F.lit(0)),
            ).select("url", "lat", "lon", "tile_id", "op")
            # diffs flow through the SAME tiling/cell-index stage as the base
            # build, so upserts match the store schema
            delta = with_cell_indexes(
                delta.where(F.col("lat").isNotNull()), s2_level=13, h3_res=7
            ).unionByName(
                delta.where(F.col("lat").isNull())
                .withColumn("s2_cell", F.lit(None).cast("long"))
                .withColumn("h3lite_cell", F.lit(None).cast("long"))
            )
            t0 = time.perf_counter()
            sid = store.apply_diff(
                spark, delta, row_key="url", key_col="tile_id", tag=f"bench_diff_{b}"
            )
            apply_sec = time.perf_counter() - t0
            m = store.manifest(sid)
            t0 = time.perf_counter()
            rows_asof = store.time_travel(spark, sid).count()
            read_sec = time.perf_counter() - t0
            n_total = len(m["files"])
            n_carried = m["diff"]["n_carried_files"]
            snapshot_diff_layers.append(
                {
                    "layer": b + 1,
                    "apply_sec": round(apply_sec, 3),
                    "asof_read_sec": round(read_sec, 3),
                    "rows_asof": rows_asof,
                    "rewrite_ratio": round(1.0 - n_carried / n_total, 4) if n_total else None,
                    "index_rewrite_ratio": round(
                        1.0
                        - m["diff"]["n_carried_index_files"]
                        / max(len(m["index_files"]), 1),
                        4,
                    ),
                }
            )

    if not pipeline_only:
        timed("snapshot_commit", _commit)
        if n_diff_layers:
            timed("snapshot_diff_stack", _diff_stack)

    docs.unpersist(blocking=True)  # release the cache BEFORE the 100M-row stages

    # --- amortization evidence (SPARK_GRAFT_AMORTIZE=1; round-2 verdict 4b):
    # LAST, after docs.unpersist(): the in-executor 100M+ row shuffles need
    # the heap the doc cache was holding (measured executor OOM at N when
    # this ran with the cache resident).
    # agg_hash_basic/join_inner_hash run on FIXED sub-second sf inputs and got
    # *slower* at 4N (coordination-dominated). The same shapes at ~40x the
    # rows show whether they amortize — input generated in-executor so the
    # shared disk is not the bottleneck.
    if os.environ.get("SPARK_GRAFT_AMORTIZE", "0") == "1" and not pipeline_only:
        def _agg_hash_big():
            # high-cardinality keys (20M groups) so the agg has a REAL
            # shuffle: low-cardinality modulo keys collapse map-side and the
            # whole job stays sub-second (measured 0.47s at 60M rows
            # with 175 modulo groups — still coordination-dominated)
            n = 100_000_000
            df = spark.range(n).select(
                F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(10_000_000)).alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
            )
            return (
                df.groupBy("k")
                .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("c"))
                .count()
            )

        def _join_inner_big():
            n, nd = 120_000_000, 4_000_000
            facts = spark.range(n).select(
                (F.col("id") % nd).alias("key"),
                (F.col("id") % 97).alias("v"),
            )
            dims = spark.range(nd).select(
                F.col("id").alias("key"),
                (F.col("id") % 13).alias("grp"),
            )
            return (
                facts.join(dims, "key")
                .groupBy("grp")
                .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("c"))
                .count()
            )

        timed("agg_hash_big", _agg_hash_big)
        timed("join_inner_big", _join_inner_big)

    pipeline_sec = timings["tile_build"] + timings["tile_tree"] + timings["spatial_join"]
    cpu_busy = round(_cpu_busy_sec() - cpu0, 1)
    total = round(sum(timings.values()), 3)

    def _tree_golden_match() -> float | None:
        """UNTIMED attestation for the BASELINE metric's parenthetical
        ('golden tile-tree match rate 100%'): rebuild the tree on the frozen
        sf0.001 corpus and report row-set Jaccard vs the frozen golden
        (tests/golden/tile_tree_sf0.001.json — the same artifact
        test_tree_golden_sf0001 gates on). 1.0 == byte-exact match."""
        import hashlib  # noqa: F401  (parity with the test's digest path)

        golden_path = os.path.join(
            _REPO, "tests", "golden", "tile_tree_sf0.001.json"
        )
        if not os.path.exists(golden_path):
            return None
        from tiledspark.tree import build_tile_tree, canonical_tree_rows

        p5 = spark.read.parquet(synth.ensure_pages(BENCH_CACHE, 5_000))
        d5 = dedupe_latest_by_url(extract_coords(p5))
        rows = canonical_tree_rows(build_tile_tree(d5))
        with open(golden_path) as f:
            golden = json.load(f)
        gset = {tuple(sorted(r.items())) for r in golden["rows"]}
        nset = {tuple(sorted(r.items())) for r in rows}
        return round(len(gset & nset) / max(len(gset | nset), 1), 6)
    def _ngram_maxdf_experiment() -> dict | None:
        """UNTIMED measurement (VERDICT r5 #8): the max_df knob's claimed
        candidate-set control under boilerplate, measured instead of argued.
        A fixed 12-word boilerplate tail is appended to every 5th document
        — each boilerplate word-3-shingle then has document frequency
        n_docs/5, and the uncapped inverted-index join must materialize
        ~C(n_docs/5, 2) candidate pairs per shared shingle before dedup.
        max_df=50 drops exactly those postings from candidate GENERATION,
        leaving the organic near-dup candidates. Both counts + wall times
        recorded; runs AFTER the timed suite so the headline stays
        comparable across rounds."""
        try:
            from tiledspark.textops import _shingle_candidates

            docs = spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            ).select("doc_id", "text")
            boiler = (
                " all rights reserved terms of service privacy policy"
                " cookie settings subscribe to our newsletter"
            )
            tagged = docs.select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.concat(F.col("text"), F.lit(boiler)),
                )
                .otherwise(F.col("text"))
                .alias("text"),
            )
            t0 = time.perf_counter()
            n_unc = _shingle_candidates(tagged, "doc_id")[1].count()
            t_unc = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            n_cap = _shingle_candidates(tagged, "doc_id", max_df=50)[1].count()
            t_cap = round(time.perf_counter() - t0, 3)
            return {
                "n_docs": docs.count(),
                "boilerplate_every": 5,
                "max_df": 50,
                "candidates_uncapped": n_unc,
                "candidates_max_df": n_cap,
                "uncapped_sec": t_unc,
                "max_df_sec": t_cap,
            }
        except Exception as e:  # noqa: BLE001 — attestation must not sink the bench
            sys.stderr.write(f"maxdf experiment failed: {e}\n")
            return None

    def _ann_recall_attestation() -> dict | None:
        """UNTIMED attestation (VERDICT r6 #5): recall@10 vs EXACT cosine on
        the ORGANIC sf embeddings for both ANN scale paths — planted ground
        truth (the oracled ann_lsh_topk row) proves the planted set only.

        MEASURED DATA CAVEAT (round 7): the organic embeddings are
        ISOTROPIC — intra- and inter-label mean cosine are both ~0.0 and
        the true top-10 cosines sit at ~0.30-0.41 (the extreme-value band
        of 2k random 64-dim vectors). On structure-free data NO sublinear
        method reaches high recall at low scan; the honest criterion is
        (a) LIFT: recall / scanned-fraction >= 1.5 at the bench-default
        scale params (both methods measure ~2x — they capture directional
        locality even without clusters), and (b) a DOCUMENTED high-recall
        config reaching >= 0.9 absolute recall (scan fractions reported,
        not hidden). Offline sweep (round 7, this host): LSH 8x16 probe1
        recall .035@.004 scanned; 16x8 probe2 1.0@.89; IVF c16 probe4
        .53@.25; probe12 .93@.75.

        Recall runs through the REAL Spark batch APIs; scanned fraction is
        computed with the engine's own bucketing/centroid functions
        (_planes/_np_buckets, ivf_train_centroids) on the same data, so it
        is the exact candidate-set size the Spark path probes (before the
        guaranteed-k escalation, which only adds). Self-match excluded on
        both sides. GT is exact numpy cosine over the full table — 2k
        vectors at sf0.1, driver-affordable by construction."""
        try:
            import numpy as np

            from tiledspark.vector import (
                _np_buckets,
                _planes,
                ann_topk_ivf_batch,
                ann_topk_lsh_batch,
                ivf_train_centroids,
            )

            emb = spark.read.parquet(
                os.path.join(sf_dir, "embeddings.parquet")
            ).select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
            )
            pdf = emb.toPandas()
            ids = pdf["vec_id"].to_numpy()
            mat = np.array([np.asarray(v, float) for v in pdf["emb"]])
            n, dim = mat.shape
            norms = np.linalg.norm(mat, axis=1) + 1e-12
            stride = max(len(ids) // 20, 1)
            q_ids = [int(v) for v in ids[::stride][:20]]
            idx = {int(v): i for i, v in enumerate(ids)}
            k = 10
            gt: dict[int, set[int]] = {}
            for qid in q_ids:
                qv = mat[idx[qid]]
                cs = (mat @ qv) / (norms * (np.linalg.norm(qv) + 1e-12))
                order = np.argsort(-cs, kind="stable")
                ranked = [int(ids[i]) for i in order if int(ids[i]) != qid]
                gt[qid] = set(ranked[:k])
            queries = [
                (qid, [float(x) for x in mat[idx[qid]]]) for qid in q_ids
            ]

            def _spark_recall(fn, kw) -> float:
                res = fn(
                    spark, emb, queries, k=k + 1, id_col="vec_id",
                    emb_col="emb", **kw,
                ).toPandas()
                recs = []
                for qid in q_ids:
                    rows = res[res["query_id"] == qid].sort_values(
                        "cos_sim", ascending=False
                    )
                    got = [int(v) for v in rows["vec_id"] if int(v) != qid][:k]
                    recs.append(len(set(got) & gt[qid]) / k)
                return round(float(np.mean(recs)), 4)

            def _lsh_scan_frac(n_tables: int, n_bits: int, level: int) -> float:
                planes = _planes(dim, n_tables, n_bits)
                codes = _np_buckets(mat, planes)  # (n, n_tables)
                fr = []
                for qid in q_ids:
                    qrow = codes[idx[qid]]
                    cand: set[int] = set()
                    for t in range(n_tables):
                        probe = {int(qrow[t])}
                        if level >= 1:
                            probe |= {int(qrow[t]) ^ (1 << i) for i in range(n_bits)}
                        if level >= 2:
                            probe |= {
                                int(qrow[t]) ^ (1 << i) ^ (1 << j)
                                for i in range(n_bits)
                                for j in range(i + 1, n_bits)
                            }
                        col = codes[:, t]
                        for c in probe:
                            cand.update(np.nonzero(col == c)[0].tolist())
                    cand.discard(idx[qid])
                    fr.append(len(cand) / n)
                return round(float(np.mean(fr)), 4)

            cents = ivf_train_centroids(emb, "emb", 16)
            assign = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(2).argmin(1)

            def _ivf_scan_frac(n_probe: int) -> float:
                fr = []
                for qid in q_ids:
                    qd = ((mat[idx[qid]] - cents) ** 2).sum(1)
                    probes = set(np.argsort(qd)[:n_probe].tolist())
                    cand = int(np.isin(assign, list(probes)).sum())
                    fr.append((cand - 1) / n)  # minus self
                return round(float(np.mean(fr)), 4)

            configs = {
                # bench-default scale params (what the timed row runs)
                "lsh": (
                    ann_topk_lsh_batch,
                    {"n_tables": 8, "n_bits": 16, "multiprobe": 1},
                    lambda: _lsh_scan_frac(8, 16, 1),
                ),
                "ivf": (
                    ann_topk_ivf_batch,
                    {"n_centroids": 16, "n_probe": 4, "centroids": cents},
                    lambda: _ivf_scan_frac(4),
                ),
                # documented high-recall configs (>= 0.9 absolute floor)
                "lsh_hi": (
                    ann_topk_lsh_batch,
                    {"n_tables": 16, "n_bits": 8, "multiprobe": 2},
                    lambda: _lsh_scan_frac(16, 8, 2),
                ),
                "ivf_hi": (
                    ann_topk_ivf_batch,
                    {"n_centroids": 16, "n_probe": 12, "centroids": cents},
                    lambda: _ivf_scan_frac(12),
                ),
            }
            out: dict = {
                "k": k,
                "n_queries": len(q_ids),
                "n_vectors": int(n),
                "data": "isotropic (intra/inter-label cos ~0.0; top-10 cos 0.30-0.41)",
                "criteria": {"lift_floor_default": 1.5, "recall_floor_hi": 0.9},
            }
            for name, (fn, kw, scan) in configs.items():
                rec = _spark_recall(fn, {k_: v for k_, v in kw.items()})
                frac = scan()
                out[name] = {
                    "params": {
                        k_: v for k_, v in kw.items() if k_ != "centroids"
                    },
                    "recall": rec,
                    "scanned_frac": frac,
                    "lift": round(rec / frac, 2) if frac else None,
                }
            # sq8 (round 7, SURVEY op 82): NOT sublinear — a full scan over
            # 1-byte/dim codes (1/4 the at-rest bytes of float32) + exact
            # float rerank of the approximate top-R. Its claim is recall
            # under compression, so the lift criterion doesn't apply;
            # measured 1.00 at rerank_factor=4 even on this isotropic data.
            from tiledspark.vector import ann_topk_sq8, sq8_train, with_sq8

            sq_params = sq8_train(emb, "emb")
            coded = with_sq8(emb, sq_params, "emb").localCheckpoint()
            recs = []
            for qid in q_ids:
                got_df = ann_topk_sq8(
                    spark,
                    coded.where(F.col("vec_id") != qid),
                    [float(x) for x in mat[idx[qid]]],
                    k=k,
                    emb_col="emb",
                    params=sq_params,
                ).toPandas()
                got = [int(v) for v in got_df["vec_id"]][:k]
                recs.append(len(set(got) & gt[qid]) / k)
            out["sq8"] = {
                "params": {"rerank_factor": 4},
                "recall": round(float(np.mean(recs)), 4),
                "scanned_frac": 1.0,
                "bytes_frac": 0.25,
                "note": "full int8-code scan + exact rerank; compression, not sublinearity",
            }
            # round 8 (VERDICT r7 #4): the library now carries its own
            # calibration — record what ann_params_for_recall picks at 0.9
            # on this corpus, so the attestation shows the config a caller
            # who ASKS for 0.9 recall actually gets (on isotropic data:
            # an expensive/exact config, honestly priced, instead of a
            # silent 0.12-recall default)
            from tiledspark.vector import ann_params_for_recall

            picked = ann_params_for_recall(
                spark, emb, target_recall=0.9, k=10,
                emb_col="emb", n_queries=10,
            )
            out["params_helper"] = {
                k_: picked[k_]
                for k_ in ("method", "params", "recall", "scanned_frac", "target_recall")
            }
            out["params_helper"]["n_trials"] = len(picked["trials"])
            # round 8: SemDeDup-shape self-join recall on the organic corpus
            # (every vector's k nearest others) vs the numpy all-pairs
            # ground truth already in `mat` — defaults arm AND a calibrated
            # hi-recall arm (same duality as the query-ANN attestation
            # above: the honest default number plus the config a caller
            # should use when recall matters), sharing ONE trained index.
            from tiledspark.vector import (
                ivf_train_centroids,
                knn_embedding_self_join,
                sq8_train,
            )

            cs_all = (mat @ mat.T) / np.outer(norms, norms)
            np.fill_diagonal(cs_all, -np.inf)

            def _sj_recall(sj_pd) -> float:
                by_q = sj_pd.groupby("query_id")["vec_id"].apply(set).to_dict()
                recs = []
                for i, vid in enumerate(ids):
                    want = {
                        int(ids[j])
                        for j in np.argsort(-cs_all[i], kind="stable")[:k]
                    }
                    have = {int(v) for v in by_q.get(int(vid), set())}
                    recs.append(len(have & want) / k)
                return round(float(np.mean(recs)), 4)

            cents = ivf_train_centroids(emb, "emb", 16)
            sq8p = sq8_train(emb, "emb")
            sj = knn_embedding_self_join(
                spark, emb, k=k, emb_col="emb", centroids=cents, params=sq8p
            ).toPandas()
            sj_hi = knn_embedding_self_join(
                spark, emb, k=k, emb_col="emb", n_probe=10,
                rerank_factor=8, centroids=cents, params=sq8p,
            ).toPandas()
            out["semantic_knn"] = {
                "params": {"n_centroids": 16, "n_probe": 4, "rerank_factor": 4},
                "recall": _sj_recall(sj),
                "rows": int(len(sj)),
                "hi_recall": {
                    "params": {"n_centroids": 16, "n_probe": 10, "rerank_factor": 8},
                    "recall": _sj_recall(sj_hi),
                },
                "note": "knn_embedding_self_join, all organic vectors as queries; "
                "defaults + calibrated arm (one shared trained index)",
            }
            return out
        except Exception as e:  # noqa: BLE001 — attestation must not sink the bench
            sys.stderr.write(f"ann recall attestation failed: {e}\n")
            return None

    def _minhash_attrib() -> dict | None:
        """UNTIMED single-trial stage attribution for dedup_minhash_lsh
        (VERDICT r6 #1) riding every bench run: candidate generation (A)
        vs verify join (B+C). The round-6 spread (3.3-5.9 s idle) was the
        old band SELF-join recomputing the signature on both sides — four
        corpus scans and a run-to-run broadcast/shuffle flap. The round-7
        one-pass in-bucket expansion computes signatures once; the
        multi-trial medians are recorded in BENCH/BASELINE.md."""
        try:
            from tiledspark.textops import _candidate_pair_frame

            docs = spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            ).select("doc_id", "text")
            planted = docs.where(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"), "text"
            )
            un = docs.unionByName(planted)
            t0 = time.perf_counter()
            n_cand = _candidate_pair_frame(un, "doc_id", "text", 3, 16, 4, None).count()
            t_cand = round(time.perf_counter() - t0, 3)
            return {
                "candidates_sec": t_cand,
                "n_candidates": n_cand,
                "verify_sec_approx": round(
                    max(timings.get("dedup_minhash_lsh", 0.0) - t_cand, 0.0), 3
                ),
                "note": "r6 spread was the band self-join's 4-scan plan; r7 single-pass",
            }
        except Exception as e:  # noqa: BLE001
            sys.stderr.write(f"minhash attrib failed: {e}\n")
            return None

    def _assembly_attestation() -> dict | None:
        """UNTIMED attestation (round 8, ops 93-95): drive the training-set
        assembly tail — temperature-0.7 source mixing, deterministic
        shuffle, FFD sequence packing — on the organic documents table and
        record the mixture fidelity (max |achieved - expected| token share
        across domains) and the packing fill rate. Runs AFTER the timed
        suite so the headline wall stays comparable across rounds."""
        try:
            from tiledspark.assemble import (
                deterministic_shuffle,
                mix_corpora,
                pack_sequences,
                packing_report,
            )

            t0 = time.perf_counter()
            docs = (
                spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
                .select(
                    "doc_id",
                    "source",
                    F.regexp_count(
                        F.col("text"),
                        F.lit("[a-zA-Z]+|[0-9]+|[^ \\t\\n\\ra-zA-Z0-9]+"),
                    ).alias("n_tokens"),
                )
            )
            mixed, report = mix_corpora(
                docs, temperature=0.7, weight_col="n_tokens", seed=8
            )
            expected = {
                r["domain"]: r["expected_share"] for r in report.collect()
            }
            shuffled = deterministic_shuffle(
                mixed, seed=8, extra_key_cols=["copy_idx"]
            )
            asg = pack_sequences(shuffled, 2048, seed=8, copy_col="copy_idx")
            asg = asg.cache()
            rep = packing_report(asg, 2048)
            achieved_rows = (
                shuffled.groupBy("source")
                .agg(F.sum("n_tokens").alias("w"))
                .collect()
            )
            tot = sum(float(r["w"]) for r in achieved_rows) or 1.0
            achieved = {r["source"]: float(r["w"]) / tot for r in achieved_rows}
            # every domain on either side: one that got no tokens counts as 0
            max_dev = max(
                abs(achieved.get(d, 0.0) - expected.get(d, 0.0))
                for d in achieved.keys() | expected.keys()
            )
            asg.unpersist()
            return {
                "wall_sec": round(time.perf_counter() - t0, 3),
                "n_domains": len(expected),
                "max_share_deviation": round(max_dev, 5),
                "n_sequences": rep["n_sequences"],
                "fill_rate": round(rep["fill_rate"], 5),
                "total_tokens": rep["total_tokens"],
            }
        except Exception as e:  # noqa: BLE001 — attestation must not sink the bench
            sys.stderr.write(f"assembly attestation failed: {e}\n")
            return None

    result = {
        "metric": "docs/sec tiled+joined (headline suite wall time)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_pages": n_pages,
        "n_docs": n_docs,
        "tree_rows": tree_rows,
        "join_rows": join_rows,
        "docs_per_sec": round(n_docs / pipeline_sec, 1) if pipeline_sec else None,
        "cpu_busy_sec": cpu_busy,
        "cpu_util_cores": round(cpu_busy / total, 2) if total else None,
        "master": master,
        "src": src,
        "host_idle_check": idle_check,
        "cpu_calibration_sec": cpu_calib,
        "pipeline_only": pipeline_only,
        "tree_golden_match_rate": None if pipeline_only else _tree_golden_match(),
        "ngram_maxdf": None if pipeline_only else _ngram_maxdf_experiment(),
        "ann_recall": None if pipeline_only else _ann_recall_attestation(),
        "minhash_attrib": None if pipeline_only else _minhash_attrib(),
        "assembly": None if pipeline_only else _assembly_attestation(),
    }
    if snapshot_diff_layers:
        result["snapshot_diff_layers"] = snapshot_diff_layers
    if pinned is not None:
        result["pinned"] = {
            "n_exec_pids": len(pinned["exec"]),
            "n_driver_pids": len(pinned["driver"]),
            "exec_cores": len(pinned["cores_exec"]),
        }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
