"""Iceberg-style snapshot layer: immutable manifests, copy-on-write diffs,
time travel, per-partition lineage, resumable builds.

Reference semantics (OsmSharp/tiled-db, SURVEY.md §1.1/§3.1): every update
creates a NEW immutable layer; only tiles touched by a diff are rewritten;
reads resolve the newest layer; history supports as-of reads. No Iceberg
runtime exists in this environment (SURVEY.md §0), so the manifest mechanics
are implemented here directly — JSON manifests naming immutable parquet
files + an atomically-swapped LATEST pointer. On a real cluster this module
is the swap-in point for iceberg-spark-runtime: commit == AppendFiles/
OverwriteFiles with the same partition-level granularity. (Deliberately
named `snapshot`, not "iceberg" — SURVEY.md risk R3.)

Layout under a store root:
  data/<snapshot_id>/tbucket=<k>/*.parquet    immutable data files, sorted by key_col
  data/<snapshot_id>/_keyindex/ibucket=<k>/   key index (index_key, key_col): each
                                              key's tile, sorted by index_key; only
                                              when committed with index_key
  manifests/<snapshot_id>.json                file list + lineage + meta
  LATEST                                      pointer file (os.replace = atomic)
  tags.json                                   tag -> first snapshot id; the only
                                              record of tags (missing = no tags)

A store is read only in the format commit() writes. Each manifest records
the schema of its data files and of its index files, as Spark's parquet
reader would infer it (every field nullable), and every read hands it to
the reader, so no read runs a schema-inference job.

Point reads run no Spark job. read_tile's bucket is tile_id % n_buckets.
get_by_key hashes the key with a port of Spark's xxhash64
(tiledspark.sparkhash) to find its one index partition, whose entries name
the key's tiles, and so their buckets. Because data files are sorted by
key_col and index files by index_key, the footers' min/max statistics name
the few row groups that can hold the wanted tiles or key. Those are read
with pyarrow on the driver and handed to Spark as a LocalRelation
(session.local_frame), which the caller collects without a job. When they
hold more than LOCAL_READ_MAX_ROWS rows, or the schema has no Arrow form,
the read stays a Spark scan of the bucket's files.

Partitioning: rows are hash-bucketed on the table key's tile (tbucket =
pmod(tile_id, n_buckets)) so a diff touching T tiles rewrites at most
min(T, n_buckets) partitions and every untouched partition's files are
carried into the new manifest BY REFERENCE (copy-on-write, zero I/O).

Lineage (north_star: "per-partition lineage and row-count metrics written
alongside Iceberg snapshot checkpoints"): per-partition input rows, output
rows, bytes, and file paths recorded in each manifest.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from tiledspark import sparkhash
from tiledspark.session import local_frame

DEFAULT_BUCKETS = 32

# A point read reads its row groups on the driver only while they hold at
# most this many rows; above it, a Spark scan is cheaper. read_tile of one
# tile, then select("url").collect(), median of 3-5 steady calls on a 4-core
# host at local[4] (wall ms / process-tree cpu-s):
#
#   result rows   driver read       Spark scan
#   10^2            55 / 0.13        298 / 0.62
#   10^3            86 / 0.20        188 / 0.39
#   10^4           104 / 0.17        214 / 0.38
#   10^5           848 / 1.00        571 / 0.72
#   10^6          4608 / 6.73       3812 / 5.49
#
# The crossover lies between 10^4 and 10^5 rows; the budget sits near its
# geometric middle. It also bounds what a point read collects to the driver.
LOCAL_READ_MAX_ROWS = 30_000


def _nullable(t):
    """A schema's jsonValue as Spark reads back parquet it wrote: every
    field, array element and map value nullable (Scala's asNullable)."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {
            **t,
            "fields": [
                {**f, "nullable": True, "type": _nullable(f["type"])} for f in t["fields"]
            ],
        }
    if t["type"] == "array":
        return {**t, "containsNull": True, "elementType": _nullable(t["elementType"])}
    if t["type"] == "map":
        return {
            **t,
            "valueContainsNull": True,
            "keyType": _nullable(t["keyType"]),
            "valueType": _nullable(t["valueType"]),
        }
    return t


def _may_hold(stats, values: list) -> bool:
    """Whether a column chunk with these footer statistics may hold one of
    values. Without comparable min/max (Spark writes timestamps as INT96,
    which has none) it may hold anything."""
    if stats is None or not stats.has_min_max:
        return True
    try:
        return any(stats.min <= v <= stats.max for v in values)
    except (TypeError, pa.ArrowNotImplementedError):
        return True


def _row_groups(path: str, col: str, values: list) -> tuple[pq.ParquetFile, list[int], int]:
    """path opened for reading, the row groups whose min/max of col may hold
    one of values, and how many rows they hold: footer reads only."""
    pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
    md = pf.metadata
    j = [md.schema.column(i).path for i in range(md.num_columns)].index(col)
    rgs = [
        i
        for i in range(md.num_row_groups)
        if _may_hold(md.row_group(i).column(j).statistics, values)
    ]
    return pf, rgs, sum(md.row_group(i).num_rows for i in rgs)


class SnapshotStore:
    def __init__(self, root: str, n_buckets: int = DEFAULT_BUCKETS):
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # --- manifest plumbing ---------------------------------------------------

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "manifests", f"{snapshot_id:08d}.json")

    def latest_id(self) -> int | None:
        p = os.path.join(self.root, "LATEST")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def manifest(self, snapshot_id: int | None = None) -> dict[str, Any]:
        sid = self.latest_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise FileNotFoundError("store has no snapshots")
        with open(self._manifest_path(sid)) as f:
            return json.load(f)

    def snapshots(self) -> list[int]:
        return sorted(
            int(os.path.basename(p).split(".")[0])
            for p in glob.glob(os.path.join(self.root, "manifests", "*.json"))
        )

    def _next_id(self) -> int:
        ids = self.snapshots()
        return (ids[-1] + 1) if ids else 1

    def _swap_latest(self, sid: int) -> None:
        tmp = os.path.join(self.root, "LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, os.path.join(self.root, "LATEST"))  # atomic pointer swap

    # --- commit ----------------------------------------------------------------

    def _scan_files(self, data_dir: str, part_glob: str = "tbucket=*") -> list[dict[str, Any]]:
        """Footer metadata for every just-written partition file. The reads
        are independent small-file I/O, so they run on a thread pool —
        sequential footer reads were ~40% of commit's driver time at 64
        files (round 4), and a real object store makes each one a network
        round-trip."""
        paths = sorted(glob.glob(os.path.join(data_dir, part_glob, "*.parquet")))

        def one(p: str) -> dict[str, Any]:
            return {
                "path": os.path.relpath(p, self.root),
                "partition": os.path.basename(os.path.dirname(p)),
                "rows": pq.read_metadata(p).num_rows,
                "bytes": os.path.getsize(p),
            }

        if len(paths) <= 4:
            return [one(p) for p in paths]
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return list(ex.map(one, paths))

    def _index_bucket_expr(self, key):
        """Key-index partition: ibucket = xxhash64(row key) % n_buckets —
        the index is copy-on-write-partitioned exactly like the data, so a
        diff rewrites only the index partitions its keys hash into. Point
        reads compute the same bucket on the driver (_key_index_paths)."""
        return F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")

    def commit(
        self,
        df: DataFrame,
        key_col: str = "tile_id",
        parent: int | None = None,
        carried_files: list[dict] | None = None,
        tag: str | None = None,
        extra_meta: dict | None = None,
        index_key: str | None = None,
        index_df: DataFrame | None = None,
        carried_index_files: list[dict] | None = None,
    ) -> int:
        """Write df partitioned by tbucket as a new immutable snapshot.
        carried_files (copy-on-write): files from an earlier snapshot included
        by reference, NOT rewritten. index_key: also write a compact
        (index_key, key_col) side index — tiled-db's id→tiles index,
        consulted by get_by_key to find a key's tiles and by apply_diff to
        find the OLD bucket of moved rows. The index is itself
        ibucket-partitioned, sorted by index_key within each partition so
        footer statistics prune its reads, and copy-on-write: apply_diff
        passes index_df (the rewritten index partitions only) +
        carried_index_files; index_df=None derives it from df alone, which
        is the whole index only when no files are carried (full commit,
        squash, or a diff on a base without an index, which rewrites every
        bucket).

        Determinism requirement (round-4 review): with index_df=None the
        index is derived by RE-EVALUATING df's lineage (the alternative — a
        read-back of the just-written leaf files — is a full-table scan per
        commit at scale). df must therefore be deterministic across
        evaluations, which the engine's global determinism contract
        (SURVEY.md risk R2: no nondeterministic aggregates, total-order
        sorts) already guarantees for every internal caller; external
        callers committing e.g. sample()/limit()-derived frames should
        persist them first or pass index_df explicitly.

        index_key must have a type sparkhash can hash on the driver
        (sparkhash.KEY_TYPES); any other raises ValueError before anything
        is written."""
        # Spark hash functions are type-sensitive (int vs bigint hash
        # differently), so the manifest records the index key's type and
        # point lookups hash their key as THIS type (ADVICE r3).
        index_key_type = None
        if index_key is not None:
            index_key_type = df.schema[index_key].dataType.simpleString()
            if index_key_type not in sparkhash.KEY_TYPES:
                raise ValueError(
                    f"index_key {index_key!r} has type {index_key_type}; point "
                    f"lookups hash only {sorted(sparkhash.KEY_TYPES)}"
                )
        sid = self._next_id()
        data_dir = os.path.join(self.root, "data", f"{sid:08d}")
        out = df.withColumn(
            "tbucket", F.pmod(F.col(key_col), F.lit(self.n_buckets)).cast("int")
        )

        def _write_data() -> None:
            # sorted by tbucket first: the partitioned writer requires that
            # order, and would otherwise re-sort by tbucket alone, dropping
            # the key_col order that footer statistics prune point reads by
            (
                out.repartition("tbucket")
                .sortWithinPartitions("tbucket", key_col)
                .write.mode("overwrite")
                .partitionBy("tbucket")
                .parquet(data_dir)
            )

        idx_dir = os.path.join(data_dir, "_keyindex")
        if index_key is not None:
            if index_df is None:
                # Round-4 fix (VERDICT r3 "what's wrong" #3): derive the index
                # entries from the IN-FLIGHT df — it already has both key
                # columns — instead of re-reading the leaf files we wrote two
                # statements ago (at 100 TB that read-back is a full-table
                # scan per commit).
                index_df = df.select(index_key, key_col)
            _idx = index_df
            # the index job must NOT write inside data_dir while the data
            # job runs: overwrite mode deletes the target dir if it exists,
            # so a data write that starts after the index thread created
            # data_dir/_keyindex/_temporary would wipe the in-flight index
            # staging (measured: Py4J task-commit FileNotFound). Stage the
            # index in a SIBLING dir and rename it in after both jobs land.
            idx_tmp = os.path.join(
                self.root, "data", f"{sid:08d}.keyindex.inflight"
            )  # SIBLING of data_dir — outside the overwrite blast radius

            def _write_index() -> None:
                (
                    _idx.withColumn(
                        "ibucket", self._index_bucket_expr(F.col(index_key))
                    )
                    .repartition("ibucket")
                    .sortWithinPartitions("ibucket", index_key)
                    .write.mode("overwrite")
                    .partitionBy("ibucket")
                    .parquet(idx_tmp)
                )

            # Round-5 (VERDICT r4 #5): the data write and the key-index write
            # are INDEPENDENT jobs over the same input — run them
            # concurrently instead of back-to-back. The index job is narrow
            # (2 columns) and fills the slots the data write's long tail
            # leaves idle, so commit wall time ≈ max(data, index) instead of
            # their sum; on a cluster the two jobs simply share the pool.
            # (A single-action union write was rejected: index rows would
            # null-pad the full data schema inside the store's leaf files.)
            renamed = False
            try:
                with ThreadPoolExecutor(max_workers=2) as ex:
                    f_data = ex.submit(_write_data)
                    f_index = ex.submit(_write_index)
                    f_data.result()
                    f_index.result()
                os.rename(idx_tmp, idx_dir)
                renamed = True
            finally:
                # a failed commit must not leave the .inflight staging dir
                # behind — repeated failures would accumulate orphan dirs
                # under the store root (ADVICE r5)
                if not renamed and os.path.isdir(idx_tmp):
                    shutil.rmtree(idx_tmp, ignore_errors=True)
        else:
            _write_data()

        new_files = self._scan_files(data_dir)
        index_files: list[dict] = []
        if index_key is not None:
            index_files = (carried_index_files or []) + self._scan_files(
                idx_dir, "ibucket=*"
            )
        files = (carried_files or []) + new_files
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent if parent is not None else self.latest_id(),
            "tag": tag,
            "key_col": key_col,
            "index_key": index_key,
            "index_key_type": index_key_type,
            "index_files": index_files,
            "n_buckets": self.n_buckets,
            "files": files,
            # the read schemas of the data files (tbucket is their directory)
            # and of the index files (ibucket likewise)
            "schema": _nullable(df.drop("tbucket").schema.jsonValue()),
            "index_schema": (
                _nullable(index_df.schema.jsonValue()) if index_key is not None else None
            ),
            "lineage": {
                "new_partitions": sorted({f["partition"] for f in new_files}),
                "carried_partitions": sorted({f["partition"] for f in (carried_files or [])}),
                "output_rows": sum(f["rows"] for f in files),
                "new_rows": sum(f["rows"] for f in new_files),
                "new_bytes": sum(f["bytes"] for f in new_files),
                "per_partition": sorted(
                    (
                        {
                            "partition": f["partition"],
                            "rows": f["rows"],
                            "bytes": f["bytes"],
                            "file": f["path"],
                        }
                        for f in files
                    ),
                    key=lambda d: (d["partition"], d["file"]),
                ),
            },
            **(extra_meta or {}),
        }
        tmp = self._manifest_path(sid) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path(sid))
        # Activate BEFORE tagging (round-5 exactly-once fix, ADVICE r4): the
        # idempotence tag must never become durably visible for a snapshot
        # that was never activated. Swap-then-tag means a crash in the gap
        # leaves LATEST on the new snapshot with no tag — the foreachBatch
        # replay re-applies the batch on top of it, which is a semantic no-op
        # for keyed upsert/delete diffs (one redundant layer), never a lost
        # batch. The old tag-then-swap order made the replay probe return the
        # orphaned sid and silently drop the batch.
        self._swap_latest(sid)
        if tag is not None:
            self._record_tag(tag, sid)
        return sid

    # --- read (ops 29/30) ---------------------------------------------------------

    @staticmethod
    def _read(spark: SparkSession, schema: dict, paths: list[str]) -> DataFrame:
        """The store's one read: files of one snapshot, with the schema its
        manifest records for them. No paths reads an empty frame that opens
        no file and runs no job: limit(0) plans as an empty local relation."""
        df = spark.read.schema(StructType.fromJson(schema)).parquet(*paths)
        return df if paths else df.limit(0)

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        m = self.manifest(snapshot_id)
        paths = [os.path.join(self.root, f["path"]) for f in m["files"]]
        if not paths:
            raise ValueError("empty snapshot")
        return self._read(spark, m["schema"], paths)

    def time_travel(self, spark: SparkSession, as_of_snapshot: int) -> DataFrame:
        """Read the newest snapshot with id <= as_of_snapshot."""
        ids = [s for s in self.snapshots() if s <= as_of_snapshot]
        if not ids:
            raise ValueError(f"no snapshot <= {as_of_snapshot}")
        return self.read(spark, ids[-1])

    # --- tag index (round-3 fix): find_tag used to open + JSON-parse every
    # manifest, making the per-micro-batch idempotence probe in
    # stream_commit_diffs O(total snapshots) — quadratic over a long-running
    # diff stream. commit() maintains tags.json (tag -> first snapshot id,
    # atomically swapped), the only record of tags, so the probe is one
    # small-file read. ----------------------------------------------------------

    def _tags_path(self) -> str:
        # store root, NOT manifests/ — the snapshots() glob must see only
        # numeric manifest files
        return os.path.join(self.root, "tags.json")

    def _load_tags(self) -> dict[str, int]:
        try:
            with open(self._tags_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _record_tag(self, tag: str, sid: int) -> None:
        tags = self._load_tags()
        if tag in tags:  # first snapshot with a tag wins (find_tag's contract)
            return
        tags[tag] = sid
        tmp = self._tags_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(tags, f, indent=1, sort_keys=True)
        os.replace(tmp, self._tags_path())

    def find_tag(self, tag: str) -> int | None:
        """The first snapshot committed with this tag, or None. Reads only
        tags.json: a missing file means no tags, and a miss opens no
        manifest."""
        return self._load_tags().get(tag)

    # --- point lookups (ops 10-12: the reference's Get / GetTile serving
    # surface, SURVEY.md §3.1 EP3) — each opens ONLY the matching bucket's
    # files, and of those only the row groups that can hold the rows ------------

    def _bucket_paths(self, m: dict[str, Any], buckets: set[int]) -> list[str]:
        parts = {f"tbucket={b}" for b in buckets}
        return [
            os.path.join(self.root, f["path"])
            for f in m["files"]
            if f["partition"] in parts
        ]

    @staticmethod
    def _local_table(
        schema: dict, paths: list[str], col: str, value, prune: tuple[str, list] | None = None
    ) -> pa.Table | None:
        """The rows of paths whose col equals value, read with pyarrow on the
        driver, as the Arrow form of schema. Only the row groups whose footer
        min/max of prune's column may hold one of prune's values are read;
        prune defaults to (col, [value]). None when those row groups hold
        more than LOCAL_READ_MAX_ROWS rows, or when schema has no Arrow
        form: the caller then scans with Spark."""
        struct = StructType.fromJson(schema)
        try:
            target = to_arrow_schema(struct)
        except TypeError:  # PySparkTypeError: a Spark type without an Arrow form
            return None
        if not paths:
            return target.empty_table()
        t = struct[col].dataType.simpleString()
        v = pa.scalar(
            sparkhash.internal_value(value, t) if t in sparkhash.KEY_TYPES else value,
            target.field(col).type,
        )
        pcol, pvalues = prune or (col, [v.as_py()])
        picked = [_row_groups(p, pcol, pvalues) for p in paths]
        if sum(n for _, _, n in picked) > LOCAL_READ_MAX_ROWS:
            return None
        table = pa.concat_tables(
            [target.empty_table()]
            + [pf.read_row_groups(rgs).select(target.names).cast(target) for pf, rgs, _ in picked if rgs]
        )
        return table.filter(pc.equal(table[col], v))

    def _point_read(
        self,
        spark: SparkSession,
        schema: dict,
        paths: list[str],
        col: str,
        value,
        prune: tuple[str, list] | None = None,
    ) -> DataFrame:
        """_local_table's rows as a LocalRelation, whose collect() runs no
        Spark job; over the row budget, a Spark scan of paths instead."""
        table = self._local_table(schema, paths, col, value, prune)
        if table is None:
            return self._read(spark, schema, paths).where(F.col(col) == value)
        return local_frame(spark, table, StructType.fromJson(schema))

    def read_tile(
        self, spark: SparkSession, tile_id: int, snapshot_id: int | None = None
    ) -> DataFrame:
        """GetTile: all rows of one tile. Bucket = tile_id % n_buckets is
        computable without any index, so only one tbucket's files are
        opened, and of those only the row groups whose key_col range holds
        tile_id are read (on the driver, within LOCAL_READ_MAX_ROWS)."""
        m = self.manifest(snapshot_id)
        paths = self._bucket_paths(m, {int(tile_id) % m["n_buckets"]})
        return self._point_read(spark, m["schema"], paths, m["key_col"], tile_id)

    def _key_index_paths(self, m: dict[str, Any], key_value) -> list[str]:
        """The files of the one index partition key_value hashes into:
        _index_bucket_expr computed on the driver, as the index key's type.
        A null key equals nothing, so it has none."""
        if not m["index_files"]:
            raise ValueError(
                "snapshot was committed without index_key; point lookups need it"
            )
        if key_value is None:
            return []
        h = sparkhash.xxhash64(key_value, m["index_key_type"])
        part = f"ibucket={h % m['n_buckets']}"  # Python % is pmod
        return [
            os.path.join(self.root, f["path"])
            for f in m["index_files"]
            if f["partition"] == part
        ]

    def _key_tiles(self, spark: SparkSession, m: dict[str, Any], key_value) -> set[int]:
        """The tiles holding key_value, from its index partition, read on
        the driver (a Spark scan over the row budget)."""
        paths = self._key_index_paths(m, key_value)
        key, tile = m["index_key"], m["key_col"]
        table = self._local_table(m["index_schema"], paths, key, key_value)
        if table is None:
            rows = self._read(spark, m["index_schema"], paths).where(F.col(key) == key_value)
            return {r[tile] for r in rows.select(tile).distinct().collect()} - {None}
        return set(table.column(tile).to_pylist()) - {None}

    def tiles_for_key(
        self, spark: SparkSession, key_value, snapshot_id: int | None = None
    ) -> DataFrame:
        """tiles_for_object: the key index rows (index_key, key_col) for one
        row key — which tile(s) hold the object (the reference's id→tiles
        lookup). Opens ONLY the index partition the key hashes into
        (ibucket pruning), and reads it like read_tile."""
        m = self.manifest(snapshot_id)
        paths = self._key_index_paths(m, key_value)
        return self._point_read(spark, m["index_schema"], paths, m["index_key"], key_value)

    def get_by_key(
        self, spark: SparkSession, key_value, snapshot_id: int | None = None
    ) -> DataFrame:
        """Get(type, id): one object by row key, as a Python value of the
        index key's type. The index lookup runs on the driver, against the
        same manifest as the read, which opens only the bucket(s) of the
        key's tiles, and of their files only the row groups whose key_col
        range holds one of those tiles; an absent key opens no data file."""
        m = self.manifest(snapshot_id)
        tiles = self._key_tiles(spark, m, key_value)
        paths = self._bucket_paths(m, {t % m["n_buckets"] for t in tiles})
        return self._point_read(
            spark, m["schema"], paths, m["index_key"], key_value,
            prune=(m["key_col"], sorted(tiles)),
        )

    # --- copy-on-write diff (op 8) ---------------------------------------------------

    def apply_diff(
        self,
        spark: SparkSession,
        delta: DataFrame,
        row_key: str,
        key_col: str = "tile_id",
        tag: str | None = None,
    ) -> int:
        """delta: rows with an `op` column in {upsert, delete}. Rewrites ONLY
        the buckets containing affected row keys; every other partition is
        carried by reference (the reference's minutely-diff semantics).

        tag: idempotence token (round-1 fix) — if a snapshot with this tag
        already exists, the diff was already applied (e.g. a foreachBatch
        replay after a crash between commit and checkpoint write) and the
        existing snapshot id is returned without creating a duplicate layer.
        """
        if tag is not None:
            existing = self.find_tag(tag)
            if existing is not None:
                return existing
        base_m = self.manifest()
        if base_m["n_buckets"] != self.n_buckets:
            # Round-4 review finding: carrying files partitioned mod K into a
            # store object configured mod K' silently corrupts bucket pruning
            # (read_tile/get_by_key would miss rows in carried partitions).
            # A full-rewrite commit() may change bucket count; a diff may not.
            raise ValueError(
                f"store was committed with n_buckets={base_m['n_buckets']} "
                f"but this SnapshotStore was opened with n_buckets="
                f"{self.n_buckets}; reopen with the manifest's value (diffs "
                "carry files partitioned with the original bucket count)"
            )
        delta = delta.withColumn(
            "tbucket", F.pmod(F.col(key_col), F.lit(self.n_buckets)).cast("int")
        )
        new_buckets = {r["tbucket"] for r in delta.select("tbucket").distinct().collect()}
        # moved/deleted rows: their OLD bucket comes from the key index
        # (tiled-db's id→tiles lookup), not from the delta itself.
        # The index is ibucket-partitioned + copy-on-write (round-3 fix: it
        # used to be rebuilt from a FULL-STORE leaf scan every diff — O(store)
        # per layer): only the index partitions the delta's keys hash into
        # are read and rewritten; the rest carry by reference.
        old_buckets: set[int] = set()
        index_missing_full_rewrite = False
        new_index_df: DataFrame | None = None
        carried_index_files: list[dict] | None = None
        if base_m["index_files"]:
            delta_keys = (
                delta.select(F.col(row_key))
                .distinct()
                .withColumn("ibucket", self._index_bucket_expr(F.col(row_key)))
            )
            touched_ib = {
                int(r["ibucket"]) for r in delta_keys.select("ibucket").distinct().collect()
            }
            idx_parts = {f"ibucket={b}" for b in touched_ib}
            carried_index_files = [
                f for f in base_m["index_files"] if f["partition"] not in idx_parts
            ]
            touched_idx_paths = [
                os.path.join(self.root, f["path"])
                for f in base_m["index_files"]
                if f["partition"] in idx_parts
            ]
            old_idx = self._read(spark, base_m["index_schema"], touched_idx_paths)
            old = old_idx.join(
                F.broadcast(delta_keys.select(row_key)), row_key, "left_semi"
            )
            old_buckets = self._old_buckets(old, key_col, new_buckets)
            # rewritten index partitions: old entries minus affected keys,
            # plus the upserts' new (key, tile) rows
            upsert_idx = delta.where(F.col("op") == "upsert").select(row_key, key_col)
            new_index_df = old_idx.join(
                delta_keys.select(row_key), row_key, "left_anti"
            ).unionByName(upsert_idx)
        elif base_m["files"]:
            # Round-1 fix: without a key index we cannot locate the OLD bucket
            # of a moved/deleted row, and silently skipping the lookup would
            # leave stale duplicates behind. Correctness first: treat every
            # base partition as affected (full merge rewrite) and record it.
            index_missing_full_rewrite = True
            old_buckets = {
                int(f["partition"].split("=", 1)[1]) for f in base_m["files"]
            }
        affected_parts = {f"tbucket={b}" for b in new_buckets | old_buckets}

        carried = [f for f in base_m["files"] if f["partition"] not in affected_parts]
        touched_paths = [
            os.path.join(self.root, f["path"])
            for f in base_m["files"]
            if f["partition"] in affected_parts
        ]
        upserts = delta.where(F.col("op") == "upsert").drop("op", "tbucket")

        current = self._read(spark, base_m["schema"], touched_paths)
        merged = (
            current.join(
                delta.select(row_key).distinct(), row_key, "left_anti"
            )  # drop every affected key (upsert replaces, delete removes)
            .unionByName(upserts)
        )
        return self.commit(
            merged,
            key_col=key_col,
            parent=base_m["snapshot_id"],
            carried_files=carried,
            index_key=base_m["index_key"],
            index_df=new_index_df,
            carried_index_files=carried_index_files,
            tag=tag,
            extra_meta={
                "diff": {
                    "affected_partitions": sorted(affected_parts),
                    "n_carried_files": len(carried),
                    "n_carried_index_files": len(carried_index_files or []),
                    "index_missing_full_rewrite": index_missing_full_rewrite,
                }
            },
        )

    def _old_buckets(self, old: DataFrame, key_col: str, new_buckets: set[int]) -> set[int]:
        """The buckets of old's index rows (key_col = the rows' tiles in the
        base). When new_buckets already names every bucket, the old ones
        cannot widen the rewrite, so the lookup job is skipped."""
        if len(new_buckets) == self.n_buckets:
            return set()
        b = F.pmod(F.col(key_col), F.lit(self.n_buckets)).cast("int").alias("b")
        return {r["b"] for r in old.select(b).distinct().collect()}

    # --- snapshot squash (op 9) ----------------------------------------------------

    def squash(self, spark: SparkSession) -> int:
        """Materialize the latest snapshot into a single fully-rewritten layer
        (the reference's OsmTiledDbSnapshot: flatten diff layers)."""
        m = self.manifest()
        df = self.read(spark)
        return self.commit(
            df, key_col=m["key_col"], tag="squash", index_key=m["index_key"]
        )


def checkpointed_tile_build(
    store: SnapshotStore,
    doc_points: DataFrame,
    zooms: list[int],
    resumed_from: list[int] | None = None,
) -> dict[int, int]:
    """Per-zoom checkpointed build (op 25; north_star: "any tile zoom level
    can resume mid-build"): each zoom's tile counts commit as a tagged
    snapshot; a killed build rerun skips every zoom whose tagged snapshot
    already exists and validates (file presence + row count)."""
    from tiledspark import tiles as _tiles

    committed: dict[int, int] = {}
    for z in zooms:
        tag = f"tile_counts_zoom={z}"
        existing = store.find_tag(tag)
        if existing is not None:
            m = store.manifest(existing)
            ok = all(
                os.path.exists(os.path.join(store.root, f["path"])) for f in m["files"]
            )
            if ok:
                committed[z] = existing
                if resumed_from is not None:
                    resumed_from.append(z)
                continue
        counts = (
            doc_points.where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
            .withColumn(
                "tile_id", _tiles.tile_id_expr(F.col("lon"), F.col("lat"), z)
            )
            .groupBy("tile_id")
            .agg(F.count(F.lit(1)).alias("doc_count"))
        )
        committed[z] = store.commit(counts, key_col="tile_id", tag=tag)
    return committed
