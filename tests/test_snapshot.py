"""Snapshot store: commit/read/time-travel, copy-on-write diffs (old+new
bucket rewrite on moves), lineage, resumable per-zoom builds."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tiledspark import synth, tiles
from tiledspark.extract import dedupe_latest_by_url, extract_coords
from tiledspark.snapshot import SnapshotStore, checkpointed_tile_build


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "store"), n_buckets=8)


def _doc_tiles(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    docs = dedupe_latest_by_url(extract_coords(pages))
    return docs.where(F.col("lat").isNotNull()).withColumn(
        "tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE)
    ).select("url", "warc_ts", "text", "lang", "lat", "lon", "tile_id")


def test_commit_read_roundtrip_and_lineage(spark, pages_path, store):
    df = _doc_tiles(spark, pages_path)
    n = df.count()
    sid = store.commit(df, key_col="tile_id", index_key="url")
    back = store.read(spark)
    assert back.count() == n
    m = store.manifest(sid)
    assert m["lineage"]["output_rows"] == n
    assert len(m["lineage"]["per_partition"]) == len(m["files"])
    assert m["index_files"], "key index files must be recorded in the manifest"
    for f in m["index_files"]:
        assert f["partition"].startswith("ibucket=")
        assert os.path.exists(os.path.join(store.root, f["path"]))


def test_apply_diff_copy_on_write_and_moves(spark, pages_path, store):
    df = _doc_tiles(spark, pages_path).cache()
    store.commit(df, key_col="tile_id", index_key="url")
    base_m = store.manifest()

    delta_path = synth.ensure_diff_batches(
        os.path.join(os.path.dirname(pages_path)), 5_000, n_batches=1
    )[0]
    raw = spark.read.parquet(delta_path)
    delta = extract_coords(raw).withColumn(
        "tile_id",
        F.when(
            F.col("lat").isNotNull(),
            tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE),
        ).otherwise(F.lit(0)),
    ).select("url", "warc_ts", "text", "lang", "lat", "lon", "tile_id", "op")

    # the diff must exercise both index lookups: a row that moves to another
    # bucket, and a delete of a row the base holds
    base_tile = {r["url"]: r["tile_id"] for r in df.select("url", "tile_id").collect()}
    moved = [
        r["url"]
        for r in delta.where(F.col("op") == "upsert").select("url", "tile_id").collect()
        if r["url"] in base_tile and base_tile[r["url"]] % 8 != r["tile_id"] % 8
    ]
    assert moved, "the diff moves no row between buckets"

    sid2 = store.apply_diff(spark, delta, row_key="url", key_col="tile_id")
    m2 = store.manifest(sid2)
    assert not m2["diff"]["index_missing_full_rewrite"]
    # copy-on-write: some base files carried by reference
    carried = {f["path"] for f in m2["files"]} & {f["path"] for f in base_m["files"]}
    assert m2["diff"]["n_carried_files"] == len(carried)

    after = store.read(spark).cache()
    raw_rows = raw.collect()
    deleted = {r["url"] for r in raw_rows if r["op"] == "delete"}
    upserted = {r["url"]: r["text"] for r in raw_rows if r["op"] == "upsert"}
    got_urls = {r["url"] for r in after.select("url").distinct().collect()}
    assert (deleted - set(upserted)) & set(base_tile), "the diff deletes no base row"
    assert not (deleted - set(upserted)) & got_urls, "deleted urls survived"
    # upserts present exactly once with the NEW text (byte-identical invariant)
    up = after.where(F.col("url").isin(list(upserted)[:50])).collect()
    seen = {}
    for r in up:
        assert seen.setdefault(r["url"], r["text"]) == r["text"]
        assert r["text"] == upserted[r["url"]], "upserted text mismatch"
    # no url duplicated anywhere (old bucket rewritten on moves)
    dup = after.groupBy("url").count().where(F.col("count") > 1).count()
    assert dup == 0
    # round-3: the key index is copy-on-write too — untouched ibucket
    # partitions carry by reference instead of a full-store index rebuild
    carried_idx = {f["path"] for f in m2["index_files"]} & {
        f["path"] for f in base_m["index_files"]
    }
    assert m2["diff"]["n_carried_index_files"] == len(carried_idx)
    # and the carried+rewritten index still resolves a MOVED row's new bucket
    moved_url = moved[0]
    hit = store.get_by_key(spark, moved_url).collect()
    assert len(hit) == 1 and hit[0]["text"] == upserted[moved_url]
    # time travel: snapshot 1 still shows the pre-diff state
    before = store.time_travel(spark, 1)
    assert before.count() == df.count()
    df.unpersist()
    after.unpersist()


def _delta_from_batch(spark, pages_path, batch_idx):
    path = synth.ensure_diff_batches(
        os.path.join(os.path.dirname(pages_path)), 5_000, n_batches=batch_idx + 1
    )[batch_idx]
    raw = spark.read.parquet(path)
    return extract_coords(raw).withColumn(
        "tile_id",
        F.when(
            F.col("lat").isNotNull(),
            tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE),
        ).otherwise(F.lit(0)),
    ).select("url", "warc_ts", "text", "lang", "lat", "lon", "tile_id", "op")


def test_squash_flattens_diff_layers(spark, pages_path, store):
    """Op 9 (snapshot_squash — tiled-db's OsmTiledDbSnapshot flatten): after
    two copy-on-write diff layers, squash must produce a single fully-
    rewritten layer with (a) content identical to the layered read, (b) NO
    carried files, (c) a rebuilt key index that still serves point lookups,
    while (d) time travel to the pre-squash layers still resolves."""
    base = _doc_tiles(spark, pages_path)
    store.commit(base, key_col="tile_id", index_key="url")
    sid2 = store.apply_diff(
        spark, _delta_from_batch(spark, pages_path, 0), row_key="url"
    )
    sid3 = store.apply_diff(
        spark, _delta_from_batch(spark, pages_path, 1), row_key="url"
    )
    layered = store.read(spark).select("url", "warc_ts", "text").cache()
    n_layered = layered.count()

    sid4 = store.squash(spark)
    m4 = store.manifest(sid4)
    assert m4["tag"] == "squash" and sid4 > sid3
    # single fully-rewritten layer: nothing carried by reference
    assert m4["lineage"]["carried_partitions"] == []
    assert all(f["path"].startswith(f"data/{sid4:08d}") for f in m4["files"])
    # content identical to the layered view (set equality both directions)
    squashed = store.read(spark, sid4).select("url", "warc_ts", "text")
    assert squashed.exceptAll(layered).count() == 0
    assert layered.exceptAll(squashed).count() == 0
    assert squashed.count() == n_layered
    # rebuilt index serves point lookups on a row upserted by diff 2
    moved = (
        _delta_from_batch(spark, pages_path, 1)
        .where(F.col("op") == "upsert")
        .select("url", "text")
        .collect()[0]
    )
    hit = store.get_by_key(spark, moved["url"]).collect()
    assert len(hit) == 1 and hit[0]["text"] == moved["text"]
    # pre-squash history still resolves as-of each layer
    assert store.time_travel(spark, sid2).count() > 0
    assert store.time_travel(spark, sid3).count() == n_layered
    layered.unpersist()


def test_checkpointed_build_resumes(spark, pages_path, store):
    pages = spark.read.parquet(pages_path)
    docs = dedupe_latest_by_url(extract_coords(pages))
    zooms = [4, 6, 8]
    first = checkpointed_tile_build(store, docs, zooms)
    assert sorted(first) == zooms
    resumed: list[int] = []
    second = checkpointed_tile_build(store, docs, zooms + [10], resumed_from=resumed)
    assert sorted(resumed) == zooms, "existing zooms should be skipped"
    assert second[4] == first[4] and second[10] > first[8]
    # committed counts match a direct computation
    z8 = store.read(spark, first[8])
    direct = (
        docs.where(F.col("lat").isNotNull())
        .withColumn("tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), 8))
        .groupBy("tile_id")
        .count()
    )
    joined = z8.join(direct, "tile_id")
    assert joined.where(F.col("doc_count") != F.col("count")).count() == 0
    assert z8.count() == direct.count()


def test_point_lookups_open_one_bucket_only(spark, tmp_path, pages_path):
    """Ops 10-12 (round-1 gap): get_by_key / read_tile / tiles_for_key must
    scan ONLY the matching bucket's files (the reference's Get/GetTile
    serving shape, SURVEY.md §3.1 EP3)."""
    from pyspark.sql import functions as F

    from tiledspark import tiles
    from tiledspark.extract import dedupe_latest_by_url, extract_coords
    from tiledspark.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path / "store"), n_buckets=16)
    pages = spark.read.parquet(pages_path)
    base = (
        dedupe_latest_by_url(extract_coords(pages))
        .where(F.col("lat").isNotNull())
        .withColumn("tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE))
        .select("url", "warc_ts", "text", "lang", "lat", "lon", "tile_id")
    )
    store.commit(base, key_col="tile_id", index_key="url")

    sample = base.select("url", "tile_id").limit(1).collect()[0]
    url, tile_id = sample["url"], sample["tile_id"]
    expected_bucket = f"tbucket={tile_id % 16}"

    # GetTile: exactly the tile's rows, read from exactly one bucket dir
    td = store.read_tile(spark, tile_id)
    tile_files = td.inputFiles()
    assert tile_files and all(expected_bucket in f for f in tile_files), tile_files
    full = store.read(spark)
    assert td.count() == full.where(F.col("tile_id") == tile_id).count()

    # Get(key): the row itself, via the key index, one bucket scanned
    got = store.get_by_key(spark, url)
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["url"] == url
    assert all(expected_bucket in f for f in got.inputFiles()), got.inputFiles()

    # tiles_for_key: index rows name the bucket
    idx_rows = store.tiles_for_key(spark, url).collect()
    assert {r["tbucket"] for r in idx_rows} == {tile_id % 16}

    # a bucket scan is a strict subset of the snapshot's files
    assert set(tile_files) < set(full.inputFiles())


def test_point_lookup_numeric_bigint_key(spark, tmp_path):
    """ADVICE r3: xxhash64 is type-sensitive and F.lit(small int) is
    IntegerType — a bigint index_key used to hash into the WRONG ibucket and
    tiles_for_key/get_by_key silently returned empty. The manifest now records
    index_key_type and the lookup casts its literal to it."""
    store = SnapshotStore(str(tmp_path / "nstore"), n_buckets=8)
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),  # bigint row key
        (F.col("id") % 37).alias("tile_id"),
        F.concat(F.lit("payload-"), F.col("id")).alias("text"),
    )
    store.commit(df, key_col="tile_id", index_key="doc_id")
    assert store.manifest()["index_key_type"] == "bigint"
    for key in (0, 123, 499):  # plain python ints, as a caller would pass
        idx = store.tiles_for_key(spark, key).collect()
        assert {r["tbucket"] for r in idx} == {key % 37 % 8}, key
        rows = store.get_by_key(spark, key).collect()
        assert len(rows) == 1 and rows[0]["text"] == f"payload-{key}"


def test_find_tag_reads_only_tags_json(spark, tmp_path, monkeypatch):
    """tags.json is the only record of tags: a missing file means no tags,
    and neither a hit nor a miss opens a manifest (the streaming idempotence
    probe misses on every normal batch, so a miss must stay one small-file
    read, ADVICE r3)."""
    root = str(tmp_path / "tstore")
    store = SnapshotStore(root, n_buckets=4)
    assert store.find_tag("t1") is None, "a store with no tags.json has no tags"
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("tile_id")
    )
    s1 = store.commit(df, key_col="tile_id", tag="t1")
    s2 = store.commit(df, key_col="tile_id", tag="t2")
    store.commit(df, key_col="tile_id", tag="t1")  # the first snapshot wins
    assert store.find_tag("t1") == s1
    assert store.find_tag("t2") == s2
    assert store.find_tag("never-written") is None

    def _no_manifests(*a, **k):
        raise AssertionError("find_tag must not open the manifest list")

    monkeypatch.setattr(SnapshotStore, "manifest", _no_manifests)
    monkeypatch.setattr(SnapshotStore, "snapshots", _no_manifests)
    reopened = SnapshotStore(root, n_buckets=4)
    assert reopened.find_tag("t1") == s1
    assert reopened.find_tag("never-written") is None


def test_apply_diff_rejects_bucket_count_mismatch(spark, tmp_path):
    """Round-4 review finding: a diff through a store object opened with a
    different n_buckets than the base manifest would carry files partitioned
    with the ORIGINAL count while pruning with the new one — point lookups
    silently miss rows. apply_diff must hard-reject the mismatch."""
    root = str(tmp_path / "bstore")
    df = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 7).alias("tile_id"),
    )
    SnapshotStore(root, n_buckets=32).commit(df, key_col="tile_id", index_key="url")
    wrong = SnapshotStore(root, n_buckets=256)
    delta = spark.createDataFrame(
        [("u1", 3, "upsert")], "url string, tile_id long, op string"
    )
    with pytest.raises(ValueError, match="n_buckets"):
        wrong.apply_diff(spark, delta, row_key="url", key_col="tile_id")
    # reopened with the manifest's value it applies cleanly
    right = SnapshotStore(root, n_buckets=32)
    sid = right.apply_diff(spark, delta, row_key="url", key_col="tile_id")
    assert right.manifest(sid)["diff"]["n_carried_files"] > 0


def test_apply_diff_without_index_rewrites_every_bucket(spark, tmp_path):
    """A base committed without index_key cannot say which bucket a moved or
    deleted row lived in, so apply_diff treats every base partition as
    affected (round-1 fix) and records it. This is also the branch a store
    in any older index format takes."""
    store = SnapshotStore(str(tmp_path / "nistore"), n_buckets=8)
    df = spark.range(400).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 29).alias("tile_id"),
        F.concat(F.lit("v0-"), F.col("id")).alias("text"),
    )
    store.commit(df, key_col="tile_id")
    # u7 MOVES (tile 7 -> 3: bucket 7 -> 3) and u8 is deleted
    delta = spark.createDataFrame(
        [("u7", 3, "v1-7", "upsert"), ("u8", 0, None, "delete")],
        "url string, tile_id long, text string, op string",
    )
    sid2 = store.apply_diff(spark, delta, row_key="url", key_col="tile_id")
    m2 = store.manifest(sid2)
    assert m2["diff"]["index_missing_full_rewrite"] is True
    assert m2["diff"]["n_carried_files"] == 0
    after = store.read(spark)
    got = {
        r["url"]: (r["tile_id"], r["text"])
        for r in after.where(F.col("url").isin("u7", "u8")).collect()
    }
    assert got == {"u7": (3, "v1-7")}
    assert after.count() == 399
    assert after.groupBy("url").count().where(F.col("count") > 1).count() == 0


def test_commit_activates_before_tagging(spark, tmp_path, monkeypatch):
    """Round-5 exactly-once fix (ADVICE r4): commit() must swap LATEST
    BEFORE recording the idempotence tag. A crash in the gap then leaves an
    ACTIVATED snapshot with NO tag — find_tag misses, the foreachBatch
    replay re-applies the batch (harmless redundant layer for keyed
    upserts), and no batch is ever silently dropped. The old tag-then-swap
    order left a durable tag for a never-activated snapshot: the replay
    probe returned the orphaned sid and the batch was lost."""
    import pandas as pd

    from tiledspark import snapshot as snap_mod

    root = str(tmp_path / "order_store")
    store = SnapshotStore(root, n_buckets=4)
    df = spark.createDataFrame(
        pd.DataFrame({"url": ["u1", "u2"], "tile_id": [1, 2], "v": [10, 20]})
    )
    sid0 = store.commit(df, key_col="tile_id", tag="batch_0")
    assert store.latest_id() == sid0 and store.find_tag("batch_0") == sid0

    # simulate a crash BETWEEN the two durable writes: the tag write raises
    calls = {"n": 0}
    real_record = SnapshotStore._record_tag

    def _boom(self, tag, sid):
        calls["n"] += 1
        raise OSError("simulated crash before the tag write")

    monkeypatch.setattr(SnapshotStore, "_record_tag", _boom)
    with pytest.raises(OSError):
        store.commit(df, key_col="tile_id", tag="batch_1")
    monkeypatch.setattr(SnapshotStore, "_record_tag", real_record)
    assert calls["n"] == 1

    # the snapshot IS active (LATEST advanced) but carries no tag -> the
    # idempotence probe reports "not applied" and a replay goes through
    assert store.latest_id() > sid0, "swap must precede the tag write"
    assert store.find_tag("batch_1") is None
    sid2 = store.commit(df, key_col="tile_id", tag="batch_1")  # the replay
    assert store.find_tag("batch_1") == sid2
    assert store.latest_id() == sid2


def _key_cases():
    """(Spark type, Python value) pairs covering every index key type the
    driver hash accepts: edge strings, the integer extremes, seeded random
    strings and longs."""
    import datetime as dt
    import random

    rnd = random.Random(7)
    alphabet = "az09 -/é漢🙂"
    strings = ["", "a", "é", "漢字", "🙂", "x" * 31, "y" * 32, "z" * 33, "w" * 100]
    strings += ["".join(rnd.choices(alphabet, k=rnd.randint(0, 80))) for _ in range(40)]
    cases = [("string", s) for s in strings]
    cases += [("binary", bytearray(b)) for b in (b"", b"\x00\xff", b"k" * 37)]
    cases += [("boolean", True), ("boolean", False)]
    cases += [("tinyint", v) for v in (-128, -1, 0, 127)]
    cases += [("smallint", v) for v in (-32768, 1, 32767)]
    cases += [("int", v) for v in (-(2**31), -1, 0, 1, 123, 2**31 - 1)]
    cases += [("bigint", v) for v in (-(2**63), -1, 0, 1, 2**63 - 1)]
    cases += [("bigint", rnd.randint(-(2**63), 2**63 - 1)) for _ in range(20)]
    cases += [("date", d) for d in (dt.date(1970, 1, 1), dt.date(1969, 12, 31), dt.date(2024, 2, 29))]
    cases += [
        ("timestamp", t)
        for t in (
            dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc),
            dt.datetime(1960, 5, 6, 7, 8, 9, 10, tzinfo=dt.timezone.utc),
            dt.datetime(2026, 10, 19, 1, 2, 3, 456789),
        )
    ]
    return cases


@pytest.mark.parametrize("n_buckets", [8, 32])
def test_driver_hash_matches_index_bucket_expr(spark, tmp_path, n_buckets):
    """The point reads find a key's index partition with the driver port of
    xxhash64; it must agree with _index_bucket_expr, which wrote the index,
    for every accepted key type."""
    from tiledspark import sparkhash

    cases = _key_cases()
    assert {t for t, _ in cases} == sparkhash.KEY_TYPES
    store = SnapshotStore(str(tmp_path / "hstore"), n_buckets=n_buckets)
    cols = []
    for i, (t, v) in enumerate(cases):
        lit = F.lit(v).cast(t)
        cols += [F.xxhash64(lit).alias(f"h{i}"), store._index_bucket_expr(lit).alias(f"b{i}")]
    row = spark.range(1).select(*cols).collect()[0]
    for i, (t, v) in enumerate(cases):
        h = sparkhash.xxhash64(v, t)
        assert (h, h % n_buckets) == (row[f"h{i}"], row[f"b{i}"]), (t, v)


def test_commit_rejects_index_key_the_driver_cannot_hash(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "fstore"), n_buckets=4)
    df = spark.range(10).select(
        (F.col("id") / 2).alias("score"), (F.col("id") % 3).alias("tile_id")
    )
    with pytest.raises(ValueError, match="double"):
        store.commit(df, key_col="tile_id", index_key="score")
    assert store.snapshots() == [] and store.latest_id() is None
    assert os.listdir(os.path.join(store.root, "data")) == []


def _small_store(spark, tmp_path, name="pstore"):
    """400 rows keyed u0..u399, tile_id = id % 29, 8 buckets, url index."""
    store = SnapshotStore(str(tmp_path / name), n_buckets=8)
    df = spark.range(400).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 29).alias("tile_id"),
        F.concat(F.lit("v0-"), F.col("id")).alias("text"),
    )
    return store, store.commit(df, key_col="tile_id", index_key="url")


def test_point_reads_run_one_job(spark, tmp_path):
    from conftest import jobs_in_group

    sc = spark.sparkContext
    store, _ = _small_store(spark, tmp_path)
    rows, n = jobs_in_group(sc, "gbk-present", lambda: store.get_by_key(spark, "u42").collect())
    assert [(r["url"], r["text"]) for r in rows] == [("u42", "v0-42")]
    assert n <= 1
    rows, n = jobs_in_group(sc, "gbk-absent", lambda: store.get_by_key(spark, "nope").collect())
    assert rows == [] and n <= 1
    assert store.get_by_key(spark, "nope").inputFiles() == []
    rows, n = jobs_in_group(sc, "read-tile", lambda: store.read_tile(spark, 13).collect())
    assert sorted(int(r["url"][1:]) for r in rows) == list(range(13, 400, 29))
    assert n == 1


def test_get_by_key_reads_one_manifest(spark, tmp_path, monkeypatch):
    """A diff that lands during a lookup must not tear it: the bucket and
    the files come from the same snapshot."""
    store, s1 = _small_store(spark, tmp_path)
    # u7 moves from tile 7 (bucket 7) to tile 3 (bucket 3)
    delta = spark.createDataFrame(
        [("u7", 3, "v1-7", "upsert")], "url string, tile_id long, text string, op string"
    )
    s2 = store.apply_diff(spark, delta, row_key="url", key_col="tile_id")
    ids = iter([s1, s2, s2, s2])
    monkeypatch.setattr(store, "latest_id", lambda: next(ids))
    rows = store.get_by_key(spark, "u7").collect()
    assert [(r["tile_id"], r["text"]) for r in rows] == [(7, "v0-7")]
    monkeypatch.undo()
    rows = store.get_by_key(spark, "u7").collect()
    assert [(r["tile_id"], r["text"]) for r in rows] == [(3, "v1-7")]


def test_get_by_key_every_key_type(spark, tmp_path):
    """The driver-side index read finds keys of every accepted type,
    including null-free duplicates (boolean) and pre-epoch dates/times."""
    from tiledspark import sparkhash

    base = spark.range(40).select(
        "id", (F.col("id") % 5).alias("tile_id"), F.concat(F.lit("p"), F.col("id")).alias("p")
    )
    keys = {
        "string": F.concat(F.lit("k"), F.col("id")),
        "binary": F.concat(F.lit("k"), F.col("id")).cast("binary"),
        "boolean": F.col("id") % 2 == 0,
        "tinyint": (F.col("id") - 20).cast("tinyint"),
        "smallint": (F.col("id") * 1000 - 20000).cast("smallint"),
        "int": ((F.col("id") - 20) * 50_000_000).cast("int"),
        "bigint": (F.col("id") - 20) * 400_000_000_000_000_000,
        "date": F.date_add(F.lit("1969-12-01").cast("date"), F.col("id").cast("int")),
        "timestamp": F.timestamp_micros((F.col("id") - 20) * 86_400_000_123),
    }
    assert set(keys) == sparkhash.KEY_TYPES
    for t, key in keys.items():
        df = base.withColumn("k", key).drop("id")
        store = SnapshotStore(str(tmp_path / f"k_{t}"), n_buckets=4)
        store.commit(df, key_col="tile_id", index_key="k")
        assert store.manifest()["index_key_type"] == t
        want: dict = {}
        for r in df.collect():
            want.setdefault(r["k"], set()).add(r["p"])
        for v in list(want)[:3] + list(want)[-2:]:
            got = {r["p"] for r in store.get_by_key(spark, v).collect()}
            assert got == want[v], (t, v)


def test_read_schema_is_the_inferred_schema(spark, tmp_path):
    """The schema a manifest records is the one the parquet reader infers
    for the same files, after a commit and after a diff that moves a row."""
    from pyspark.sql.types import StructType

    store = SnapshotStore(str(tmp_path / "sstore"), n_buckets=8)
    df = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 13).alias("tile_id"),  # non-nullable in df
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit("b").alias("b")).alias("st"),
        F.create_map(F.lit("m"), F.col("id")).alias("mp"),
    )
    store.commit(df, key_col="tile_id", index_key="url")
    delta = df.where(F.col("url") == "u7").withColumn("tile_id", F.lit(3).cast("long"))
    store.apply_diff(spark, delta.withColumn("op", F.lit("upsert")), row_key="url")
    for sid in store.snapshots():
        m = store.manifest(sid)
        paths = [os.path.join(store.root, f["path"]) for f in m["files"]]
        assert store.read(spark, sid).schema == spark.read.parquet(*paths).schema
        idx = [os.path.join(store.root, f["path"]) for f in m["index_files"]]
        assert StructType.fromJson(m["index_schema"]) == spark.read.parquet(*idx).schema
    assert store.manifest()["diff"]["affected_partitions"] == ["tbucket=3", "tbucket=7"]
