"""Offline state audit of the streaming grants pipeline.

At 100 TB the state behind the grants pipeline is itself a dataset
worth auditing: state-repair jobs, migration validation, and "why does
user X have this grant" forensics all need to READ it without touching
the running query. The pipeline keeps two kinds of state, and both
read back without replay:

* the uuid-dedup operator's checkpointed state, through Spark 4's state
  data source (`spark.read.format("statestore").load(checkpoint)`) —
  one row per distinct (user_id, event_id);
* the per-user accumulators (the reference's in-memory aggregate dicts,
  models/aggregate.py:41-83), which live in the sharded
  `_aggstate` store — viewed through `_aggregates_view`, they are
  value-identical to the batch `user_aggregates` plan over the same
  events, i.e. the store IS the aggregate table.
"""

from feature_store_2_spark.config import DEFAULT_CONFIG
from feature_store_2_spark.plans.feature_pipeline import user_aggregates
from feature_store_2_spark.sources.tables import load_table
from feature_store_2_spark.streaming import run_grants_pipeline_merge
from feature_store_2_spark.streaming import sharded_store as ss
from feature_store_2_spark.streaming.pipeline import _aggregates_view


def test_statestore_read_matches_batch_aggregates(spark, sf_dir, tmp_path):
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    aggstate_dir = str(tmp_path / "aggstate")
    events = load_table(spark, "events", sf_dir)
    events.write.parquet(events_dir)

    run_grants_pipeline_merge(
        spark,
        events_dir,
        str(tmp_path / "grants"),
        str(tmp_path / "notes"),
        ckpt,
        aggstate_dir,
    )

    dedup = spark.read.format("statestore").load(ckpt)
    keys = dedup.select("key.user_id", "key.event_id")
    n_distinct = events.select("user_id", "event_id").distinct().count()
    assert keys.count() == keys.distinct().count() == n_distinct > 0

    from_state = _aggregates_view(
        ss.snapshot(spark, aggstate_dir), DEFAULT_CONFIG
    ).orderBy("user_id")
    batch = user_aggregates(events).orderBy("user_id")

    assert from_state.columns == batch.columns
    got = [tuple(r) for r in from_state.collect()]
    want = [tuple(r) for r in batch.collect()]
    assert len(got) == len(want) > 0
    assert got == want
