"""Serving lookup: ``has_grant`` answers from a driver-local Arrow read of
one shard and launches no Spark job.

Parity is checked against the store's own Spark snapshot; the freshness
tests pin that a commit, and a commit whose GC races the read, never
yield a stale or failed answer."""

from __future__ import annotations

import os
import shutil

import pytest

from feature_store_2_spark.sources.tables import load_table
from feature_store_2_spark.streaming import (
    grants_snapshot,
    has_grant,
    run_grants_pipeline_merge,
)
from feature_store_2_spark.streaming import sharded_store as ss

KEYS = ("user_id", "feature")


def grants_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, feature string, has_grant boolean"
    )


@pytest.fixture(scope="module")
def merged_store(spark, sf_dir, tmp_path_factory):
    """Grants store built by the streaming MERGE pipeline over the test
    corpus, with its Spark snapshot as {(user, feature): grant}."""
    root = tmp_path_factory.mktemp("lookup")
    events_dir, grants_dir = str(root / "events"), str(root / "grants")
    load_table(spark, "events", sf_dir).write.parquet(events_dir)
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, str(root / "notes"), str(root / "ckpt")
    )
    snap = {
        (r.user_id, r.feature): r.has_grant
        for r in grants_snapshot(spark, grants_dir).collect()
    }
    return grants_dir, snap


def test_has_grant_matches_snapshot(spark, merged_store):
    grants_dir, snap = merged_store
    assert set(snap.values()) == {True, False}  # both answers exercised
    for (user, feature), grant in snap.items():
        assert has_grant(spark, grants_dir, user, feature) is grant, (user, feature)
    users = {u for u, _ in snap}
    features = {f for _, f in snap}
    unknown_user = max(users) + 1_000_000
    assert has_grant(spark, grants_dir, unknown_user, next(iter(features))) is True
    assert has_grant(spark, grants_dir, next(iter(users)), "no_such_feature") is True
    revoked_user, revoked_feature = next(k for k, g in snap.items() if not g)
    assert (
        has_grant(spark, grants_dir, revoked_user, revoked_feature, circuit_open=True)
        is True
    )


def test_has_grant_launches_no_spark_job(spark, merged_store, jobs_launched):
    """No Spark job is launched across 20 lookups."""
    grants_dir, snap = merged_store
    keys = list(snap)

    def lookups():
        for i in range(20):
            user, feature = keys[i % len(keys)]
            has_grant(spark, grants_dir, user, feature)

    assert jobs_launched(lookups)[0] == 0


def test_has_grant_defaults_true_on_shard_emptied_by_delete(spark, tmp_path):
    path = str(tmp_path / "grants")
    u1, u2 = 1, 2  # each is its own shard's only user
    assert ss.xxhash64_long(u1) % ss.N_SHARDS != ss.xxhash64_long(u2) % ss.N_SHARDS
    ss.upsert(
        grants_df(spark, [(u1, "message", False), (u2, "message", False)]),
        path, KEYS, "user_id",
    )
    assert has_grant(spark, path, u1, "message") is False
    ss.delete_keys(
        spark.createDataFrame([(u1, "message")], "user_id long, feature string"),
        path, KEYS, "user_id",
    )
    assert ss.xxhash64_long(u1) % ss.N_SHARDS not in ss._read_manifest(path)
    assert has_grant(spark, path, u1, "message") is True
    assert has_grant(spark, path, u2, "message") is False


def test_lookup_sees_upsert_that_flips_a_grant(spark, tmp_path):
    path = str(tmp_path / "grants")
    ss.upsert(
        grants_df(spark, [(u, "message", True) for u in range(40)]),
        path, KEYS, "user_id",
    )
    assert has_grant(spark, path, 7, "message") is True
    ss.upsert(grants_df(spark, [(7, "message", False)]), path, KEYS, "user_id")
    assert has_grant(spark, path, 7, "message") is False
    ss.upsert(grants_df(spark, [(7, "message", True)]), path, KEYS, "user_id")
    assert has_grant(spark, path, 7, "message") is True


def _commit_during_read(spark, monkeypatch, path, rows, leave_empty_dir):
    """Make the first shard read of the next lookup race a compacting
    commit of ``rows``: the commit lands and GCs the version the lookup
    started on (optionally leaving its shard directory behind empty, as
    a GC caught mid-``rmtree`` does) before the read proceeds."""
    real_open, calls = ss._open_shard, []

    def racing_open(shard_dir, shard_key, key_value):
        calls.append(shard_dir)
        if len(calls) == 1:
            ss.upsert(grants_df(spark, rows), path, KEYS, "user_id", compact_after=1)
            assert not os.path.exists(shard_dir)  # the old version is GC'd
            if leave_empty_dir:
                os.makedirs(shard_dir)
        return real_open(shard_dir, shard_key, key_value)

    monkeypatch.setattr(ss, "_open_shard", racing_open)
    return calls


@pytest.mark.parametrize("leave_empty_dir", [False, True])
def test_lookup_starts_over_when_a_commit_gcs_the_read(
    spark, tmp_path, monkeypatch, leave_empty_dir
):
    path = str(tmp_path / "grants")
    ss.upsert(
        grants_df(spark, [(u, "message", True) for u in range(40)]),
        path, KEYS, "user_id",
    )
    calls = _commit_during_read(
        spark, monkeypatch, path, [(3, "message", False)], leave_empty_dir
    )
    assert has_grant(spark, path, 3, "message") is False
    assert len(calls) == 2  # the raced read, then one read of the new version
    assert "/v1/" in calls[1]


def test_lookup_raises_on_a_missing_shard_without_a_commit(spark, tmp_path):
    """Only a commit explains a vanished shard; on a store that did not
    move, the lookup raises instead of retrying or answering."""
    path = str(tmp_path / "grants")
    ss.upsert(grants_df(spark, [(3, "message", False)]), path, KEYS, "user_id")
    shutil.rmtree(ss._data_dir(path, 0))
    with pytest.raises(FileNotFoundError):
        ss.point_lookup(path, "user_id", 3)


def test_point_lookup_rejects_unsupported_key_dtype(spark, tmp_path):
    path = str(tmp_path / "store")
    ss.upsert(
        spark.createDataFrame([(1, True)], "uid int, has_grant boolean"),
        path, ("uid",), "uid",
    )
    with pytest.raises(TypeError):
        ss.point_lookup(path, "uid", 1)
