"""RocksDB state-store rehearsal: the 100 TB streaming-state story.

The default HDFSBackedStateStoreProvider keeps every key in executor
heap — fine at sf0.1, fatal when keyed state outgrows memory (the
reference's grants map has one entry per user,
/root/reference/services/user_feature.py:22; at 100 TB that is
billions of keys). Spark's production answer is the RocksDB provider
(state spills to local SSD, snapshot/changelog to the checkpoint), and
its jar ships with pyspark (rocksdbjni). These tests pin that the
ENTIRE grants pipeline — dropDuplicatesWithinWatermark uuid dedup (its
one stateful streaming operator, whose state RocksDB now holds) +
foreachBatch per-user aggregate MERGE — produces bit-identical grants
under RocksDB, so flipping the provider at scale is a pure config
change, not a semantics change.
"""

import glob
import os

import pytest

from feature_store_2_spark.plans.feature_pipeline import feature_grants_long
from feature_store_2_spark.sources.tables import load_table
from feature_store_2_spark.streaming import (
    grants_snapshot,
    run_grants_pipeline_merge,
)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture()
def rocksdb_conf(spark):
    prev = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, ROCKSDB)
    yield
    if prev is None:
        spark.conf.unset(_PROVIDER_CONF)
    else:
        spark.conf.set(_PROVIDER_CONF, prev)


def test_grants_pipeline_identical_under_rocksdb(
    spark, sf_dir, tmp_path, rocksdb_conf
):
    events_dir = str(tmp_path / "events")
    grants_dir = str(tmp_path / "grants")
    notes_dir = str(tmp_path / "notes")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, "events", sf_dir)
    events.write.parquet(events_dir)

    run_grants_pipeline_merge(spark, events_dir, grants_dir, notes_dir, ckpt)

    streamed = grants_snapshot(spark, grants_dir).orderBy("user_id", "feature")
    expected = feature_grants_long(events).orderBy("user_id", "feature")
    assert streamed.count() == expected.count() > 0
    assert [tuple(r) for r in streamed.collect()] == [
        tuple(r) for r in expected.collect()
    ]

    # Prove the provider actually took effect: RocksDB checkpoints state
    # as version zips (+ optional changelogs), never the HDFS provider's
    # per-version .delta files.
    state_root = os.path.join(ckpt, "state")
    assert os.path.isdir(state_root)
    deltas = glob.glob(os.path.join(state_root, "**", "*.delta"), recursive=True)
    zips = glob.glob(os.path.join(state_root, "**", "*.zip"), recursive=True)
    assert not deltas, deltas[:3]
    assert zips
