"""Sharded store: incremental MERGE correctness, write amplification
bounded to touched shards, compaction, and pruned point lookups."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from feature_store_2_spark.streaming import sharded_store as ss


def grants_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, feature string, has_grant boolean"
    )


@pytest.fixture()
def store():
    return os.path.join(tempfile.mkdtemp(prefix="fs2_shard_"), "grants")


def snapshot(spark, store):
    df = ss.read_store(spark, store)
    return {
        (r.user_id, r.feature): r.has_grant
        for r in df.drop(ss.SHARD_COL).collect()
    }


def test_upsert_merges_by_key(spark, store):
    ss.upsert(
        grants_df(spark, [(1, "purchase", True), (2, "purchase", True)]),
        store, ("user_id", "feature"), "user_id",
    )
    ss.upsert(
        grants_df(spark, [(2, "purchase", False), (3, "message", True)]),
        store, ("user_id", "feature"), "user_id",
    )
    assert snapshot(spark, store) == {
        (1, "purchase"): True,
        (2, "purchase"): False,
        (3, "message"): True,
    }


def test_untouched_shards_are_not_rewritten(spark, store):
    base = grants_df(spark, [(u, "purchase", True) for u in range(200)])
    ss.upsert(base, store, ("user_id", "feature"), "user_id")
    manifest_before = ss._read_manifest(store)
    # One user -> exactly one touched shard.
    ss.upsert(
        grants_df(spark, [(7, "purchase", False)]),
        store, ("user_id", "feature"), "user_id",
    )
    manifest_after = ss._read_manifest(store)
    changed = {s for s in manifest_after if manifest_after[s] != manifest_before[s]}
    assert len(changed) == 1
    # All other shards still owned by the original version (no rewrite).
    assert all(manifest_after[s] == 0 for s in manifest_after if s not in changed)
    assert snapshot(spark, store)[(7, "purchase")] is False


def test_compaction_folds_versions_and_gcs(spark, store):
    base = grants_df(spark, [(u, "purchase", True) for u in range(200)])
    ss.upsert(base, store, ("user_id", "feature"), "user_id", compact_after=3)
    for u in (1, 2, 3, 4, 5, 6):
        ss.upsert(
            grants_df(spark, [(u, "purchase", False)]),
            store, ("user_id", "feature"), "user_id", compact_after=3,
        )
    manifest = ss._read_manifest(store)
    live = set(manifest.values())
    assert len(live) <= 3
    data_root = os.path.join(store, "data")
    on_disk = {int(d[1:]) for d in os.listdir(data_root)}
    assert on_disk == live  # GC removed unreferenced versions
    snap = snapshot(spark, store)
    assert all(snap[(u, "purchase")] is False for u in (1, 2, 3, 4, 5, 6))
    assert snap[(100, "purchase")] is True
    assert len(snap) == 200


def test_python_xxhash64_matches_spark(spark):
    """Driver-side XXH64 (bigint lane, seed 42) is bit-identical to
    F.xxhash64 on LongType — the contract that lets point lookups skip
    the hash job entirely."""
    vals = list(range(-5, 50)) + [2**40, -(2**40), 2**62, -(2**62) + 1]
    df = spark.createDataFrame([(v,) for v in vals], "k long").select(
        "k", F.xxhash64("k").alias("h")
    )
    for r in df.collect():
        assert ss.xxhash64_long(r.k) == r.h, r.k


def test_python_xxhash64_utf8_matches_spark(spark):
    """Driver-side XXH64 over UTF-8 bytes is bit-identical to F.xxhash64
    on StringType: lengths 0-40 cross the 4-byte tail, 8-byte lane and
    32-byte stripe boundaries; multi-byte text checks the byte encoding."""
    vals = ["".join(chr(97 + i % 26) for i in range(n)) for n in range(41)]
    vals += ["é", "user-7", "日本語テキスト", "Ünïcödé-" * 5, "🙂" * 9]
    df = spark.createDataFrame([(v,) for v in vals], "k string").select(
        "k", F.xxhash64("k").alias("h")
    )
    for r in df.collect():
        assert ss.xxhash64_utf8(r.k) == r.h, r.k


def test_point_lookup_string_key_uses_stored_dtype(spark, store):
    """Non-bigint shard keys still land on the right shard: the lookup
    hashes with the column's stored dtype (a long-cast would hash a
    different byte layout and read the wrong shard)."""
    df = spark.createDataFrame(
        [(f"user-{i}", i % 2 == 0) for i in range(60)],
        "uid string, has_grant boolean",
    )
    ss.upsert(df, store, ("uid",), "uid")
    rows = ss.point_lookup(store, "uid", "user-7")
    assert [(r["uid"], r["has_grant"]) for r in rows] == [("user-7", False)]


def test_point_lookup_reads_one_shard(spark, store):
    base = grants_df(spark, [(u, "purchase", u % 2 == 0) for u in range(100)])
    ss.upsert(base, store, ("user_id", "feature"), "user_id")
    row = ss.point_lookup(store, "user_id", 42)
    assert [(r["user_id"], r["has_grant"]) for r in row] == [(42, True)]
    # Pruning: the shard-restricted read touches a strict subset.
    shard = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(42).cast("long")), F.lit(ss.N_SHARDS)).alias("s"))
        .collect()[0]["s"]
    )
    pruned = ss.read_store(spark, store, shards={int(shard)})
    full = ss.read_store(spark, store)
    assert pruned.count() < full.count()


def test_time_travel_reads_retained_versions(spark, store):
    """retain_versions keeps earlier manifests readable: VERSION AS OF
    semantics on the manifest log (each manifest is an immutable
    shard->version map)."""
    base = grants_df(spark, [(u, "purchase", True) for u in range(50)])
    ss.upsert(base, store, ("user_id", "feature"), "user_id", retain_versions=3)
    ss.upsert(
        grants_df(spark, [(7, "purchase", False)]),
        store, ("user_id", "feature"), "user_id", retain_versions=3,
    )
    v0 = ss.read_store(spark, store, at_version=0)
    assert [r.has_grant for r in v0.filter("user_id = 7").collect()] == [True]
    v1 = ss.read_store(spark, store, at_version=1)
    assert [r.has_grant for r in v1.filter("user_id = 7").collect()] == [False]
    with pytest.raises(ValueError):
        ss.read_store(spark, store, at_version=9)


def test_delete_keys_rewrites_only_touched_shards(spark, tmp_path):
    """MERGE-DELETE: deleted keys gone, survivors byte-identical, and
    the rewrite touches only the shards that contained a deleted key."""
    from feature_store_2_spark.streaming import sharded_store

    path = str(tmp_path / "store")
    rows = [(i, f"feat{i % 2}", i % 3 == 0) for i in range(200)]
    df = spark.createDataFrame(rows, "user_id long, feature string, has_grant boolean")
    sharded_store.upsert(df, path, ("user_id", "feature"), "user_id")
    before = sharded_store.snapshot(spark, path).collect()

    doomed = spark.createDataFrame(
        [(i, f"feat{i % 2}") for i in range(0, 200, 50)], "user_id long, feature string"
    )
    n_shards = sharded_store.delete_keys(
        doomed, path, ("user_id", "feature"), "user_id"
    )
    assert 0 < n_shards <= 4  # 4 distinct keys => at most 4 shards rewritten

    after = {(r.user_id, r.feature): r.has_grant for r in sharded_store.snapshot(spark, path).collect()}
    doomed_keys = {(i, f"feat{i % 2}") for i in range(0, 200, 50)}
    assert doomed_keys.isdisjoint(after.keys())
    for r in before:
        k = (r.user_id, r.feature)
        if k not in doomed_keys:
            assert after[k] == r.has_grant
    assert len(after) == len(before) - len(doomed_keys)

    # deleting nothing is a no-op (no new version, no shard rewrites)
    v = sharded_store.current_version(path)
    none = spark.createDataFrame([], "user_id long, feature string")
    assert sharded_store.delete_keys(none, path, ("user_id", "feature"), "user_id") == 0
    assert sharded_store.current_version(path) == v


def test_upsert_is_idempotent_on_replay(spark, tmp_path):
    """foreachBatch recovery contract: if a batch is REPLAYED after a
    failure between store-commit and checkpoint-commit, re-MERGEing the
    identical delta must leave the snapshot unchanged (keyed upsert =
    at-least-once delivery -> exactly-once state)."""
    from feature_store_2_spark.streaming import sharded_store

    path = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [(i, "purchase", i % 2 == 0) for i in range(100)],
        "user_id long, feature string, has_grant boolean",
    )
    sharded_store.upsert(batch, path, ("user_id", "feature"), "user_id")
    first = sorted(map(tuple, sharded_store.snapshot(spark, path).collect()))
    sharded_store.upsert(batch, path, ("user_id", "feature"), "user_id")  # replay
    second = sorted(map(tuple, sharded_store.snapshot(spark, path).collect()))
    assert first == second


def _parquet_inventory(root):
    import glob

    return {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    }


def test_one_key_upsert_rewrites_one_shard_file_on_disk(spark, tmp_path):
    """The MERGE scaling claim, proven at the filesystem level: a 1-key
    upsert into a 64-shard store writes parquet under exactly ONE shard
    partition directory (the key's shard), and every data file of the
    previous version is left byte-untouched — write amplification is
    O(keys touched), never O(table size)."""
    path = str(tmp_path / "store")
    base = grants_df(spark, [(u, "purchase", True) for u in range(2000)])
    ss.upsert(base, path, ("user_id", "feature"), "user_id", n_shards=64)
    v0 = os.path.join(path, "data", "v0")
    v0_before = _parquet_inventory(v0)
    assert len({d for d in os.listdir(v0) if d.startswith(ss.SHARD_COL)}) == 64

    ss.upsert(
        grants_df(spark, [(7, "purchase", False)]),
        path, ("user_id", "feature"), "user_id", n_shards=64,
    )
    v1 = os.path.join(path, "data", "v1")
    shard_dirs = [d for d in os.listdir(v1) if d.startswith(ss.SHARD_COL + "=")]
    assert shard_dirs == [f"{ss.SHARD_COL}={ss.xxhash64_long(7) % 64}"]
    assert _parquet_inventory(v0) == v0_before  # old files never rewritten
    assert snapshot(spark, path)[(7, "purchase")] is False


def test_delete_emptying_a_shard_drops_it_from_manifest(spark, tmp_path):
    """If a deletion removes EVERY row of a touched shard, the shard
    leaves the manifest (no pointer at a parquet-less partition dir) and
    the store stays fully readable."""
    path = str(tmp_path / "store")
    # Two users on distinct shards; each is its whole shard's contents.
    u1, u2 = 1, 2
    assert ss.xxhash64_long(u1) % 16 != ss.xxhash64_long(u2) % 16
    ss.upsert(
        grants_df(spark, [(u1, "purchase", True), (u2, "purchase", True)]),
        path, ("user_id", "feature"), "user_id",
    )
    n = ss.delete_keys(
        spark.createDataFrame([(u1, "purchase")], "user_id long, feature string"),
        path, ("user_id", "feature"), "user_id",
    )
    assert n == 1
    manifest = ss._read_manifest(path)
    assert ss.xxhash64_long(u1) % 16 not in manifest
    assert snapshot(spark, path) == {(u2, "purchase"): True}


def test_delete_key_on_absent_shard_is_noop(spark, tmp_path):
    """Keys hashing to shards the store never wrote must cost zero
    rewrites (and not crash on read_store returning None)."""
    path = str(tmp_path / "store")
    ss.upsert(
        grants_df(spark, [(1, "purchase", True)]),
        path, ("user_id", "feature"), "user_id",
    )
    target_shard = ss.xxhash64_long(1) % 16
    absent_user = next(
        u for u in range(2, 1000) if ss.xxhash64_long(u) % 16 != target_shard
    )
    v = ss.current_version(path)
    n = ss.delete_keys(
        spark.createDataFrame(
            [(absent_user, "purchase")], "user_id long, feature string"
        ),
        path, ("user_id", "feature"), "user_id",
    )
    assert n == 0
    assert ss.current_version(path) == v
    assert snapshot(spark, path) == {(1, "purchase"): True}


def test_delete_everything_then_upsert_continues_version_chain(spark, tmp_path):
    """Purging the whole store leaves a committed EMPTY manifest; the
    next upsert must continue the version chain (not restart at v0) and
    the store must serve the new rows."""
    path = str(tmp_path / "store")
    ss.upsert(
        grants_df(spark, [(1, "purchase", True), (2, "purchase", True)]),
        path, ("user_id", "feature"), "user_id",
    )
    ss.delete_keys(
        spark.createDataFrame(
            [(1, "purchase"), (2, "purchase")], "user_id long, feature string"
        ),
        path, ("user_id", "feature"), "user_id",
    )
    assert ss._read_manifest(path) == {}
    assert ss.read_store(spark, path) is None
    v_after_purge = ss.current_version(path)
    ss.upsert(
        grants_df(spark, [(3, "message", True)]),
        path, ("user_id", "feature"), "user_id",
    )
    assert ss.current_version(path) == v_after_purge + 1
    assert snapshot(spark, path) == {(3, "message"): True}


def test_txn_stamp_read_and_carry_forward(spark, tmp_path):
    """The Delta txnAppId/txnVersion surface: a txn stamp commits
    atomically with the manifest, later commits WITHOUT a stamp carry
    it forward (upsert and delete_keys both), and apps are
    independent."""
    path = str(tmp_path / "store")
    ss.upsert(
        grants_df(spark, [(1, "message", True)]),
        path, ("user_id", "feature"), "user_id", txn=("app_a", 0),
    )
    assert ss.read_txn(path, "app_a") == 0
    assert ss.read_txn(path, "app_b") is None

    ss.upsert(  # no txn: app_a's stamp must survive
        grants_df(spark, [(2, "message", True)]),
        path, ("user_id", "feature"), "user_id",
    )
    assert ss.read_txn(path, "app_a") == 0

    ss.upsert(
        grants_df(spark, [(1, "message", False)]),
        path, ("user_id", "feature"), "user_id", txn=("app_a", 3),
    )
    ss.upsert(
        grants_df(spark, [(3, "message", True)]),
        path, ("user_id", "feature"), "user_id", txn=("app_b", 7),
    )
    assert ss.read_txn(path, "app_a") == 3
    assert ss.read_txn(path, "app_b") == 7

    ss.delete_keys(  # delete commits a manifest too — stamps survive
        spark.createDataFrame([(3, "message")], "user_id long, feature string"),
        path, ("user_id", "feature"), "user_id",
    )
    assert ss.read_txn(path, "app_a") == 3
    assert ss.read_txn(path, "app_b") == 7
    assert snapshot(spark, path) == {(1, "message"): False, (2, "message"): True}
