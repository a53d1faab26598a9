"""The workloads: seeded inputs, the timed ops, and their output checks.

Each workload exposes `setup()` (inputs and check references), `warmup()`,
`block()` (the op kinds of one block of its mix, in seeded order) and
`run(kind)` (one op, timed by the spans it opens; raises `CheckFailed` when
the output is wrong). Ops call only the public functions of the engine's
modules.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tiledspark import synth, tiles
from tiledspark.cells import with_cell_indexes
from tiledspark.extract import dedupe_latest_by_url, extract_coords
from tiledspark.join import spatial_join
from tiledspark.knn import EARTH_R, knn_cell_ring
from tiledspark.registry import build_queries
from tiledspark.snapshot import SnapshotStore
from tiledspark.tree import build_tile_tree, canonical_tree_rows
from tiledspark.vector import ann_topk_lsh_batch


class CheckFailed(Exception):
    """An op returned, but its output disagrees with the reference."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def build_docs(pages):
    """extract -> dedupe -> tile -> cell indexes: the build path of bench.py."""
    docs = (
        dedupe_latest_by_url(extract_coords(pages))
        .where(F.col("lat").isNotNull())
        .withColumn("tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE))
        .select("url", "lat", "lon", "tile_id")
    )
    return with_cell_indexes(docs, s2_level=13, h3_res=7)


def digest(df) -> tuple[int, int]:
    """One action: row count and an order-insensitive checksum of all columns."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.hash(*df.columns).cast("long")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"])


class Workload:
    name = ""
    mix: list[str] = []  # op kinds of one block, in any order
    # untimed rounds of one op of each kind before timing starts
    warmup_rounds = 0
    # whole blocks every run measures at least, however long they take
    min_blocks = 1

    def __init__(self, spark, tracer, work_dir: str, seed: int, root: str):
        self.spark = spark
        self.tracer = tracer
        self.dir = work_dir
        self.seed = seed
        self.root = root
        self.rng = np.random.default_rng(seed)
        # per-layer facts an op learns along the way (traced runs report them)
        self.facts: dict[str, list[float]] = {}

    def fact(self, key: str, value: float) -> None:
        if self.tracer.recording:
            self.facts.setdefault(key, []).append(float(value))

    def block(self) -> list[str]:
        """The next block of the mix, in seeded order."""
        return [str(k) for k in self.rng.permutation(self.mix)]

    def warmup(self) -> None:
        """The workload's own ops, untimed, so that timing starts after JIT,
        codegen and Python-worker start-up have settled."""
        for _ in range(self.warmup_rounds):
            for kind in self.rng.permutation(sorted(set(self.mix))):
                self.run(str(kind))


# --- tile_join: the build path ------------------------------------------------


class TileJoin(Workload):
    """One op is one cycle: build -> tree -> join -> commit, each a span; the
    op's time is the sum of its spans."""

    name = "tile_join"
    mix = ["cycle"]
    pages = 30_000
    min_blocks = 5

    def setup(self) -> None:
        self.zones = self.spark.read.parquet(synth.ensure_zones(self.dir))
        self.pages_df = self.spark.read.parquet(synth.ensure_pages(self.dir, self.pages, self.seed))
        self.ref: dict[str, object] = {}

    def warmup(self) -> None:
        """One cycle over seed-42 sf0.001, its tree and join checked against
        the frozen tile-tree and join goldens: the first, coldest run of
        every span."""
        golden = os.path.join(self.root, "tests", "golden")
        pages = self.spark.read.parquet(synth.ensure_pages(self.dir, 5_000, synth.SEED_PAGES))
        docs = build_docs(pages).cache()
        pts = docs.select("url", "lat", "lon")
        try:
            rows = canonical_tree_rows(build_tile_tree(pts))
            tree_sha = hashlib.sha256(
                json.dumps(rows, sort_keys=True, separators=(",", ":")).encode()
            ).hexdigest()
            with open(os.path.join(golden, "tile_tree_sf0.001.json")) as f:
                check(tree_sha == json.load(f)["sha256"], "tile tree differs from the sf0.001 golden")
            texts = dedupe_latest_by_url(extract_coords(pages)).select(
                "url", F.sha2(F.col("text").cast("binary"), 256).alias("text_sha")
            )
            out = (
                spatial_join(self.spark, pts, self.zones)
                .join(texts, "url")
                .select("zone_id", "url", "tile_id", "text_sha")
                .orderBy("zone_id", "url")
                .collect()
            )
            lines = ["zone_id,url,tile_id,text_sha"] + [
                f"{r['zone_id']},{r['url']},{r['tile_id']},{r['text_sha']}" for r in out
            ]
            join_sha = hashlib.sha256(("\n".join(lines) + "\n").encode()).hexdigest()
            with open(os.path.join(golden, "join_sf0.001.sha256")) as f:
                check(join_sha == f.read().split()[0], "join output differs from the sf0.001 golden")
            self._commit(docs)
        finally:
            docs.unpersist()

    def _commit(self, docs) -> dict:
        """Commit docs into a fresh store; the commit's lineage."""
        store_dir = os.path.join(self.dir, "store")
        try:
            with self.tracer.span("commit"):
                store = SnapshotStore(store_dir, n_buckets=32)
                sid = store.commit(docs, key_col="tile_id", index_key="url")
            return store.manifest(sid)["lineage"]
        finally:
            shutil.rmtree(store_dir, ignore_errors=True)

    def _same(self, key: str, value) -> None:
        # the first cycle of the run is the reference for every later one
        check(self.ref.setdefault(key, value) == value, f"{key} differs from the first cycle")

    def run(self, kind: str) -> float:
        tr = self.tracer
        with tr.span("build"):
            docs = build_docs(self.pages_df).cache()
            n_docs, h = digest(docs)
        try:
            self._same("build", (n_docs, h))
            pts = docs.select("url", "lat", "lon")
            with tr.span("tree"):
                tree = digest(build_tile_tree(pts))
            self._same("tree", tree)
            with tr.span("join"):
                join = digest(spatial_join(self.spark, pts, self.zones))
            self._same("join", join)
            lineage = self._commit(docs)
        finally:
            docs.unpersist()
        per_bucket = sorted((p["partition"], p["rows"]) for p in lineage["per_partition"])
        check(lineage["output_rows"] == n_docs, "commit lost or duplicated rows")
        self._same("commit", per_bucket)
        self.fact("build.docs", n_docs)
        self.fact("join.rows", join[0])
        self.fact("commit.bytes", lineage["new_bytes"])
        self.fact("commit.empty_buckets", 32 - len(lineage["new_partitions"]))
        return n_docs


# --- serve_mixed: the serve path ------------------------------------------------

_GEO = re.compile(r"geo:(-?\d{1,2}\.\d{6}),(-?\d{1,3}\.\d{6})")


def haversine_m(lat1, lon1, lat2, lon2):
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def _cos_seq(a, b) -> float:
    """Cosine summed in list order, as the engine's aggregate() does."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    den = math.sqrt(na) * math.sqrt(nb)
    return dot / den if den > 0 else -1.0


def _round_half_up(x: float, nd: int = 4) -> float:
    s = 10.0**nd
    return math.copysign(math.floor(abs(x) * s + 0.5) / s, x)


class ServeMixed(Workload):
    """The serve path: store point reads, key lookups, copy-on-write diffs and
    time travel against one store, and kNN, ANN and exact vector top-k
    batches, in one seeded closed-loop mix. Store results are checked against
    a pandas model of the store, query results against exact numpy answers."""

    name = "serve_mixed"
    pages = 20_000
    warmup_rounds = 1
    min_blocks = 1
    # six lookups put the block's median op on get_by_key's median of six
    mix = ["read_tile"] * 5 + ["get_by_key"] * 6 + ["apply_diff", "time_travel"] + [
        "knn", "ann", "topk_exact",
    ]
    n_vectors, dim, n_labels = 2_000, 64, 10
    knn_points, knn_k = 20, 5
    ann_queries, ann_k = 10, 10

    def setup(self) -> None:
        pages = self.spark.read.parquet(synth.ensure_pages(self.dir, self.pages, self.seed))
        # built once: the store, its pandas model and kNN all read these docs
        docs = build_docs(pages).localCheckpoint(eager=True)
        self.store = SnapshotStore(os.path.join(self.dir, "store"), n_buckets=32)
        sid = self.store.commit(docs, key_col="tile_id", index_key="url")
        self.docs = docs.select("url", "lat", "lon")
        self.docs_pdf = docs.select("url", "lat", "lon", "tile_id").toPandas()
        self.model = dict(zip(self.docs_pdf["url"], self.docs_pdf["tile_id"].astype("int64")))
        self.counts = {sid: len(self.model)}
        self.n_diffs = 0
        self._setup_vectors()

    def _setup_vectors(self) -> None:
        """Seeded embeddings shaped like sf0.1/embeddings.parquet: unit
        vectors around n_labels centroids, plus the exact top-10 of vec 0."""
        rng = np.random.default_rng(self.seed + 7)
        centers = rng.standard_normal((self.n_labels, self.dim))
        labels = rng.integers(0, self.n_labels, self.n_vectors)
        vecs = centers[labels] + 0.6 * rng.standard_normal((self.n_vectors, self.dim))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        emb_dir = os.path.join(self.dir, "emb")
        os.makedirs(emb_dir, exist_ok=True)
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(self.n_vectors), pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        )
        pq.write_table(table, os.path.join(emb_dir, "embeddings.parquet"))
        self.emb_dir = emb_dir
        self.vecs = vecs.astype(np.float64)
        self.emb = self.spark.read.parquet(os.path.join(emb_dir, "embeddings.parquet"))
        self.topk_query = build_queries()["vector_topk_bruteforce"]
        v0 = self.vecs[0].tolist()
        scored = sorted(
            (-_round_half_up(_cos_seq(self.vecs[i].tolist(), v0)), i)
            for i in range(1, self.n_vectors)
        )
        self.topk_ref = [(i, -c) for c, i in scored[:10]]

    def run(self, kind: str) -> float:
        getattr(self, kind)()
        return 1.0

    def _tile_urls(self, tile_id: int) -> set[str]:
        return {u for u, t in self.model.items() if t == tile_id}

    def read_tile(self) -> None:
        urls = list(self.model)
        tile_id = int(self.model[urls[self.rng.integers(len(urls))]])
        with self.tracer.span("read_tile"):
            df = self.store.read_tile(self.spark, tile_id)
            got = [r["url"] for r in df.select("url").collect()]
        check(sorted(got) == sorted(self._tile_urls(tile_id)), f"read_tile({tile_id}) rows")
        if self.tracer.traced:
            self.fact("read_tile.files", len(df.inputFiles()))

    def get_by_key(self) -> None:
        if self.rng.random() < 0.1:
            key = f"https://absent.example/p/{self.rng.integers(1 << 30)}"
        else:
            urls = list(self.model)
            key = urls[self.rng.integers(len(urls))]
        with self.tracer.span("get_by_key"):
            df = self.store.get_by_key(self.spark, key)
            got = [(r["url"], int(r["tile_id"])) for r in df.select("url", "tile_id").collect()]
        want = [(key, int(self.model[key]))] if key in self.model else []
        check(got == want, f"get_by_key({key})")
        if self.tracer.traced:
            self.fact("get_by_key.files", len(df.inputFiles()))

    def _delta(self):
        """A 200-row synth diff batch, tiled like the base docs, plus the
        model's view of it (tile ids from the numpy tile mirror)."""
        # batch index from the seed: distinct diffs per seed, timestamps in range
        batch = synth.gen_diff_batch(self.pages, (self.seed % 97) * 64 + self.n_diffs % 64, rows=200)
        self.n_diffs += 1
        raw = self.spark.createDataFrame(batch.to_pandas())
        delta = extract_coords(raw).withColumn(
            "tile_id",
            F.when(
                F.col("lat").isNotNull(),
                tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE),
            ).otherwise(F.lit(0)),
        ).select("url", "lat", "lon", "tile_id", "op")
        delta = with_cell_indexes(
            delta.where(F.col("lat").isNotNull()), s2_level=13, h3_res=7
        ).unionByName(
            delta.where(F.col("lat").isNull())
            .withColumn("s2_cell", F.lit(None).cast("long"))
            .withColumn("h3lite_cell", F.lit(None).cast("long"))
        )
        pdf = batch.select(["url", "text", "op"]).to_pandas()
        ups = pdf[pdf["op"] == "upsert"]
        ll = ups["text"].str.extract(_GEO).astype(float)
        ups_tiles = tiles.np_tile_id(ll[1].to_numpy(), ll[0].to_numpy(), tiles.Z_BASE)
        return delta, list(pdf["url"]), dict(zip(ups["url"], ups_tiles.astype("int64")))

    def apply_diff(self) -> None:
        delta, keys, upserts = self._delta()
        with self.tracer.span("apply_diff"):
            sid = self.store.apply_diff(self.spark, delta, row_key="url", key_col="tile_id")
        # the store drops every key the diff names, then adds the upserts
        for k in keys:
            self.model.pop(k, None)
        self.model.update(upserts)
        self.counts[sid] = len(self.model)
        m = self.store.manifest(sid)
        check(m["lineage"]["output_rows"] == len(self.model), "apply_diff row count")
        total = sum(f["bytes"] for f in m["files"])
        self.fact("apply_diff.bytes", m["lineage"]["new_bytes"])
        self.fact("apply_diff.rewrite_frac", m["lineage"]["new_bytes"] / total if total else 0.0)

    def time_travel(self) -> None:
        sids = sorted(self.counts)
        earlier = sids[:-1] or sids
        sid = int(earlier[self.rng.integers(len(earlier))])
        with self.tracer.span("time_travel"):
            n = self.store.time_travel(self.spark, sid).count()
        check(n == self.counts[sid], f"time_travel({sid}) count")

    def knn(self) -> None:
        half = self.knn_points // 2
        near = self.docs_pdf.iloc[self.rng.integers(len(self.docs_pdf), size=half)]
        lat = np.concatenate([near["lat"] + self.rng.normal(0, 0.02, half), self.rng.uniform(-60, 70, half)])
        lon = np.concatenate([near["lon"] + self.rng.normal(0, 0.02, half), self.rng.uniform(-180, 180, half)])
        lat = np.clip(lat, -84.0, 84.0)
        lon = np.mod(lon + 180.0, 360.0) - 180.0
        q = self.spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(self.knn_points, dtype=np.int64), "lat": lat, "lon": lon})
        )
        with self.tracer.span("knn"):
            rows = knn_cell_ring(self.spark, self.docs, q, k=self.knn_k, zoom=8).collect()
        d_lat = self.docs_pdf["lat"].to_numpy()
        d_lon = self.docs_pdf["lon"].to_numpy()
        urls = self.docs_pdf["url"].to_numpy()
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append((int(r["rank"]), r["url"], r["dist_m"]))
        for qi in range(self.knn_points):
            dist = haversine_m(lat[qi], lon[qi], d_lat, d_lon)
            order = np.lexsort((urls, dist))[: self.knn_k + 1]
            res = sorted(got.get(qi, []))
            check(len(res) == self.knn_k, f"knn query {qi}: {len(res)} rows")
            want_d = dist[order[: self.knn_k]]
            got_d = np.array([d for _, _, d in res])
            check(np.allclose(got_d, want_d, rtol=1e-9, atol=1e-6), f"knn query {qi} distances")
            # neighbour ids must match unless the k-th distance is tied
            tie = math.isclose(dist[order[self.knn_k - 1]], dist[order[self.knn_k]], rel_tol=1e-9)
            check(tie or {u for _, u, _ in res} == set(urls[order[: self.knn_k]]), f"knn query {qi} ids")

    def ann(self) -> None:
        ids = self.rng.choice(self.n_vectors, self.ann_queries, replace=False)
        qv = self.vecs[ids] + 0.05 * self.rng.standard_normal((self.ann_queries, self.dim))
        queries = [(int(i), [float(x) for x in v]) for i, v in enumerate(qv)]
        stats: dict = {}
        with self.tracer.span("ann"):
            rows = ann_topk_lsh_batch(self.spark, self.emb, queries, k=self.ann_k, stats_out=stats).collect()
        per_q: dict[int, list] = {}
        for r in rows:
            per_q.setdefault(int(r["query_id"]), []).append((int(r["vec_id"]), r["cos_sim"]))
        for qid, v in queries:
            res = per_q.get(qid, [])
            check(len(res) == self.ann_k and len({i for i, _ in res}) == self.ann_k, f"ann query {qid}: k rows")
            for vid, cs in res:
                check(math.isclose(cs, _cos_seq(self.vecs[vid].tolist(), v), abs_tol=1e-9), f"ann query {qid} cosine")
        self.fact("ann.base_cand", stats.get("base_cand", 0))
        self.fact("ann.exact_queries", stats.get("n_exact_queries", 0))

    def topk_exact(self) -> None:
        with self.tracer.span("topk_exact"):
            rows = self.topk_query(self.spark, self.emb_dir).collect()
        got = [(int(r["vec_id"]), float(r["cos_sim"])) for r in rows]
        check(got == self.topk_ref, "vector_topk_bruteforce differs from exact top-10")


WORKLOADS = {w.name: w for w in (TileJoin, ServeMixed)}
