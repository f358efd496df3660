"""Streaming-path tests (SURVEY.md §5 strategy #4): file-source stream,
availableNow trigger, fixed event-time columns instead of freezegun.

The headline assertion is batch/streaming equivalence: the streaming
pipeline over the sf0.001 events parquet must produce exactly the grants
the batch pipeline computes — the two share the rule/feature Columns, so
this pins the streaming aggregation layer (uuid dedup, aggregate-state
MERGE of distinct sets and exact cent-sums) to the batch semantics the
DuckDB oracle already checks.
"""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from feature_store_2_spark.sources.tables import load_table

from feature_store_2_spark.config import (
    DEFAULT_CONFIG,
    AggregateSpec,
    AggregateType,
    EngineConfig,
    FeatureSpec,
    RuleCondition,
    RuleOperation,
    RuleSpec,
)
from feature_store_2_spark.plans.feature_pipeline import feature_grants_long
from feature_store_2_spark.streaming import (
    grants_snapshot,
    has_grant,
    read_notifications,
    run_grants_pipeline_merge,
    serve_has_grant,
    streaming_denial_rate,
)
from feature_store_2_spark.streaming import sharded_store as ss


def _paths(tmp_path):
    return (
        str(tmp_path / "events"),
        str(tmp_path / "grants"),
        str(tmp_path / "notifications"),
        str(tmp_path / "checkpoint"),
    )


def test_streaming_grants_match_batch(spark, sf_dir, tmp_path):
    events_dir, grants_dir, notes_dir, ckpt = _paths(tmp_path)
    # Stage the driver's events through the same nanos->micros ts
    # normalization the batch source applies (sources/tables.py).
    events = load_table(spark, "events", sf_dir)
    events.write.parquet(events_dir)

    run_grants_pipeline_merge(spark, events_dir, grants_dir, notes_dir, ckpt)

    streamed = grants_snapshot(spark, grants_dir).orderBy("user_id", "feature")
    expected = feature_grants_long(events).orderBy("user_id", "feature")
    assert streamed.count() == expected.count() > 0
    assert [tuple(r) for r in streamed.collect()] == [
        tuple(r) for r in expected.collect()
    ]


TEST_CONFIG = EngineConfig(
    aggregates=(
        AggregateSpec("errors", "error", AggregateType.COUNT),
        AggregateSpec("spend", "purchase", AggregateType.SUM, "value"),
    ),
    rules=(
        RuleSpec("few_errors", ("errors",), RuleOperation.VALUE, RuleCondition.LESS_THAN, 2),
    ),
    features=(FeatureSpec("message", ("few_errors",)),),
)


T0 = dt.datetime(2026, 1, 1, 12, 0, 0)


def _write_events(spark, path, rows, mode="append", ts=T0):
    df = spark.createDataFrame(
        [(eid, ts, uid, etype, val, None) for eid, uid, etype, val in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    df.coalesce(1).write.mode(mode).parquet(path)


def test_incremental_batches_dedup_and_notifications(spark, tmp_path):
    """Two catch-up runs: duplicate uuids ignored across batches, state
    persists via the checkpoint, grant flip emits access_revoked."""
    events_dir, grants_dir, notes_dir, ckpt = _paths(tmp_path)

    def run():
        run_grants_pipeline_merge(
            spark, events_dir, grants_dir, notes_dir, ckpt, config=TEST_CONFIG
        )

    # Batch 1: user 1 has one error -> grant holds (1 < 2).
    _write_events(spark, events_dir, [(100, 1, "error", None), (101, 1, "purchase", 5.0)])
    run()
    assert has_grant(spark, grants_dir, 1, "message") is True
    assert read_notifications(spark, notes_dir).count() == 0

    # Batch 2: duplicate event 100 (ignored) + new error 102 -> 2 errors,
    # rule fails, feature revoked, notification emitted — routed to the
    # access_revoked subscriber (one row per subscriber endpoint).
    _write_events(spark, events_dir, [(100, 1, "error", None), (102, 1, "error", None)])
    run()
    assert has_grant(spark, grants_dir, 1, "message") is False
    notes = read_notifications(spark, notes_dir).collect()
    assert [(r.user_id, r.feature, r.notification, r.subscriber) for r in notes] == [
        (1, "message", "access_revoked", "https://api.example.com/event")
    ]

    # Batch 3: no new events for user 1 -> nothing changes; and a fresh
    # user's first all-True grant row emits no notification. The
    # micro-batch touches ONE user -> at most one shard is rewritten
    # (incremental MERGE, not a full-table rewrite).
    manifest_before = ss._read_manifest(grants_dir)
    _write_events(spark, events_dir, [(200, 2, "purchase", 1.0)])
    run()
    manifest_after = ss._read_manifest(grants_dir)
    rewritten = {
        s
        for s in manifest_after
        if manifest_after[s] != manifest_before.get(s)
    }
    assert len(rewritten) <= 1
    assert read_notifications(spark, notes_dir).count() == 1
    assert has_grant(spark, grants_dir, 1, "message") is False  # sticky until regrant
    assert has_grant(spark, grants_dir, 2, "message") is True

    # Point-lookup semantics (A15): unknown user defaults True; open
    # circuit fails open even for a revoked user.
    assert has_grant(spark, grants_dir, 999, "message") is True
    assert has_grant(spark, grants_dir, 1, "message", circuit_open=True) is True


def test_incremental_merge_pipeline_cross_batch(spark, tmp_path):
    """Across catch-up batches with an explicit aggregate-state path:
    uuid dedup spans batches (checkpointed dropDuplicatesWithinWatermark
    state), the aggregate-state store accumulates, flips notify, and a
    one-user micro-batch rewrites at most one shard of EACH store."""
    events_dir, grants_dir, notes_dir, ckpt = _paths(tmp_path)
    aggstate_dir = str(tmp_path / "aggstate")

    _write_events(spark, events_dir, [(100, 1, "error", None), (101, 1, "purchase", 5.0)])
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
    )
    assert has_grant(spark, grants_dir, 1, "message") is True
    assert read_notifications(spark, notes_dir).count() == 0

    # Duplicate uuid 100 arrives again (must be ignored — dedup state
    # lives in the checkpoint) + a second error -> rule fails, revoked.
    _write_events(spark, events_dir, [(100, 1, "error", None), (102, 1, "error", None)])
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
    )
    assert has_grant(spark, grants_dir, 1, "message") is False
    notes = read_notifications(spark, notes_dir).collect()
    assert [(r.user_id, r.feature, r.notification, r.subscriber) for r in notes] == [
        (1, "message", "access_revoked", "https://api.example.com/event")
    ]

    # One new user -> at most one shard rewritten in BOTH stores.
    grants_before = ss._read_manifest(grants_dir)
    aggs_before = ss._read_manifest(aggstate_dir)
    _write_events(spark, events_dir, [(200, 2, "purchase", 1.0)])
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
    )
    for path, before in ((grants_dir, grants_before), (aggstate_dir, aggs_before)):
        after = ss._read_manifest(path)
        assert len({s for s in after if after[s] != before.get(s)}) <= 1
    assert has_grant(spark, grants_dir, 1, "message") is False
    assert has_grant(spark, grants_dir, 2, "message") is True


def test_route_notifications_drops_unsubscribed_names(spark):
    """Reference send_notification early-returns when a name has no
    subscribers (services/notifications.py:17-19); the map lookup
    reproduces that, and multi-endpoint names fan out once per
    subscriber."""
    from feature_store_2_spark.streaming import route_notifications

    changes = spark.createDataFrame(
        [(1, "message", "access_revoked"), (2, "message", "access_granted"),
         (3, "message", "quota_warning")],
        "user_id long, feature string, notification string",
    )
    routed = route_notifications(
        changes,
        {
            "access_revoked": ("https://a.example/hook", "https://b.example/hook"),
            "access_granted": ("https://a.example/hook",),
            # quota_warning: no subscribers -> dropped
        },
    )
    got = sorted(
        (r.user_id, r.notification, r.subscriber) for r in routed.collect()
    )
    assert got == [
        (1, "access_revoked", "https://a.example/hook"),
        (1, "access_revoked", "https://b.example/hook"),
        (2, "access_granted", "https://a.example/hook"),
    ]



CHANGES_SCHEMA = "user_id long, feature string, notification string"


@pytest.mark.parametrize(
    "subscribers, expected",
    [
        # An empty endpoint tuple routes nowhere. (Two subscribers on one
        # name: test_route_notifications_drops_unsubscribed_names.)
        ({"access_revoked": (), "access_granted": ("a",)}, [(2, "a")]),
        ({"access_revoked": ()}, []),
        # No subscribers at all: zero rows, not an analysis error (an
        # empty map literal has no key type of its own).
        ({}, []),
    ],
)
def test_route_notifications_fan_out_edges(spark, subscribers, expected):
    from feature_store_2_spark.streaming import route_notifications

    changes = spark.createDataFrame(
        [(1, "message", "access_revoked"), (2, "message", "access_granted")],
        CHANGES_SCHEMA,
    )
    routed = route_notifications(changes, subscribers)
    assert routed.columns == ["user_id", "feature", "notification", "subscriber"]
    assert sorted((r.user_id, r.subscriber) for r in routed.collect()) == expected


def test_route_notifications_builds_without_a_spark_job(spark, jobs_launched):
    from feature_store_2_spark.streaming import route_notifications

    changes = spark.createDataFrame([(1, "message", "access_revoked")], CHANGES_SCHEMA)
    jobs, routed = jobs_launched(lambda: route_notifications(changes))
    assert jobs == 0
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Broadcast" not in plan


def _commit_entries(ckpt):
    return sorted(
        int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()
    )


def test_catch_up_runs_one_micro_batch_and_reads_without_jobs(
    spark, tmp_path, jobs_launched
):
    """Each catch-up over one landed file commits exactly one
    micro-batch (no trailing no-data batch); the store reads behind it
    carry their schema in the manifest, so building a snapshot read
    launches no Spark job, and a manifest without one raises."""
    events_dir, grants_dir, notes_dir, ckpt = _paths(tmp_path)
    aggstate_dir = str(tmp_path / "aggstate")
    for k in range(3):
        _write_events(
            spark, events_dir, [(10 * k, k, "error", None), (10 * k + 1, 1, "error", None)]
        )
        run_grants_pipeline_merge(
            spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
        )
        assert _commit_entries(ckpt) == list(range(k + 1))
    assert has_grant(spark, grants_dir, 1, "message") is False  # 4 errors

    # Three upserts per store leave more than one live version to read.
    assert len(set(ss._read_manifest(grants_dir).values())) > 1
    for path in (grants_dir, aggstate_dir):
        jobs, df = jobs_launched(lambda: ss.read_store(spark, path))
        assert jobs == 0
        assert df.count() > 0

    version = ss.current_version(grants_dir)
    manifest = os.path.join(grants_dir, f"manifest_v{version}.json")
    with open(manifest) as f:
        doc = json.load(f)
    del doc["schema"]
    with open(manifest, "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match="schema"):
        ss.read_store(spark, grants_dir)


def test_deferred_dedup_eviction_is_delayed_never_lost(spark, tmp_path):
    """Dedup-state eviction runs in data micro-batches only. With a
    1-hour watermark and catch-ups 3 hours of event time apart, a
    catch-up's keys leave the dedup state in the second catch-up after
    it (one catch-up later than a no-data batch would evict them), and
    duplicates re-landed inside the window are still dropped."""
    events_dir, grants_dir, notes_dir, ckpt = _paths(tmp_path)
    aggstate_dir = str(tmp_path / "aggstate")
    hours = dt.timedelta(hours=3)
    landings = [
        [(1, 1, "error", None), (2, 2, "error", None)],
        [(3, 1, "purchase", 1.0)],
        [(4, 2, "purchase", 2.0)],
        [(5, 1, "error", None)],
    ]
    # Duplicates re-landed with their original event time, inside the
    # window: event 1 with catch-up 1, event 3 with catch-up 2.
    duplicates = {1: ([(1, 1, "error", None)], T0), 2: ([(3, 1, "purchase", 1.0)], T0 + hours)}
    state_keys = []
    for k, rows in enumerate(landings):
        _write_events(spark, events_dir, rows, ts=T0 + k * hours)
        if k in duplicates:
            dup_rows, dup_ts = duplicates[k]
            _write_events(spark, events_dir, dup_rows, ts=dup_ts)
        run_grants_pipeline_merge(
            spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir,
            TEST_CONFIG, dedup_watermark="1 hour", shuffle_partitions=2,
        )
        state = spark.read.format("statestore").load(ckpt)
        state_keys.append(sorted(r.event_id for r in state.select("key.event_id").collect()))

    # Catch-up k holds the keys of catch-ups k-1 and k: those of k-2
    # are evicted by catch-up k's batch, whose watermark is the event
    # time of catch-up k-1 minus one hour.
    assert state_keys == [[1, 2], [1, 2, 3], [3, 4], [4, 5]]
    assert len(state_keys[2]) < len(state_keys[1])
    # Each event counted once: no duplicate re-added errors or cents.
    agg = {
        (r.user_id, r.errors, r.spend) for r in ss.snapshot(spark, aggstate_dir).collect()
    }
    assert agg == {(1, 2, 100), (2, 1, 200)}


DEDUP_CONFIG = EngineConfig(
    aggregates=(
        AggregateSpec("ks", "signup", AggregateType.DISTINCT_COUNT, "value"),
        AggregateSpec("spend", "purchase", AggregateType.SUM, "value"),
    ),
    rules=(
        RuleSpec("many_ks", ("ks",), RuleOperation.VALUE, RuleCondition.GREATER_THAN, 1),
    ),
    features=(FeatureSpec("message", ("many_ks",)),),
)


def test_streaming_distinct_and_sum_dedup_across_batches(spark, tmp_path):
    """The bounded-state path preserves the reference's exactly-once
    accounting for DISTINCT_COUNT and SUM: a uuid replayed in a later
    batch contributes neither a new distinct value nor extra cents, while
    a genuinely new uuid carrying an already-seen field value counts for
    SUM but not for DISTINCT_COUNT."""
    events_dir, grants_dir, notes_dir, ckpt = _paths(tmp_path)
    aggstate_dir = str(tmp_path / "aggstate")

    def run():
        run_grants_pipeline_merge(
            spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir,
            DEDUP_CONFIG,
        )

    # Batch 1: two signups (values 1.0, 2.0) and a 5.00 purchase.
    _write_events(
        spark,
        events_dir,
        [(1, 1, "signup", 1.0), (2, 1, "signup", 2.0), (3, 1, "purchase", 5.0)],
    )
    run()
    assert has_grant(spark, grants_dir, 1, "message") is True  # ks=2 > 1

    # Batch 2: uuid 3 replayed (must NOT re-add 5.00); uuid 4 is new with
    # a duplicate field value (counts for SUM, not for DISTINCT_COUNT);
    # uuid 5 replays signup value 1.0 under a new uuid (no new distinct).
    _write_events(
        spark,
        events_dir,
        [(3, 1, "purchase", 5.0), (4, 1, "purchase", 5.0), (5, 1, "signup", 1.0)],
    )
    run()

    # The final accumulators are the aggregate-state store itself.
    [row] = ss.snapshot(spark, aggstate_dir).collect()
    assert row.user_id == 1
    assert set(row.ks) == {1.0, 2.0}  # replay + new-uuid-dup add nothing
    assert row.spend == 1000  # cents: 5.00 (uuid 3, once) + 5.00 (uuid 4)


def test_streaming_denial_rate_window(spark, tmp_path):
    """Sliding-window breaker over a memory sink: 1 denied of 10 users
    in-window -> 10% > 5% threshold -> circuit opens."""
    events_dir = str(tmp_path / "events")
    rows = [(i, i, "purchase", 100.0 if i == 0 else 1.0) for i in range(10)]
    _write_events(spark, events_dir, rows)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(events_dir)
    rates = streaming_denial_rate(
        stream, denied=F.col("value") > 50.0, slide="5 minutes", key="event_type"
    )
    q = (
        rates.writeStream.format("memory")
        .queryName("breaker_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql(
        "select * from breaker_test where total_users = 10"
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r.denied_users == 1
        assert abs(r.denial_rate - 0.1) < 1e-9
        assert r.circuit_open is True


def test_breaker_feeds_serving_fail_open(spark, tmp_path):
    """CLOSED breaker loop (services/user_feature.py:46-55,106-126 and
    tests/test_user_feature_service.py:27-113): a denial storm opens the
    circuit and the serving path fails OPEN — a revoked user is allowed
    while the circuit is open, denied again once it is closed."""
    grants_dir = str(tmp_path / "grants")
    g = spark.createDataFrame(
        [(1, "message", False), (2, "message", True)],
        "user_id long, feature string, has_grant boolean",
    )
    ss.upsert(g, grants_dir, ("user_id", "feature"), "user_id")
    assert has_grant(spark, grants_dir, 1, "message") is False

    # Denial storm: 3 of 10 users denied -> 30% > 5% -> circuit opens.
    events_dir = str(tmp_path / "events")
    rows = [(i, i, "message", 100.0 if i < 3 else 1.0) for i in range(10)]
    _write_events(spark, events_dir, rows)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(events_dir)
    rates = streaming_denial_rate(
        stream, denied=F.col("value") > 50.0, slide="5 minutes", key="event_type"
    )
    q = (
        rates.writeStream.format("memory")
        .queryName("breaker_loop")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rates_tbl = spark.table("breaker_loop")

    # Open circuit => revoked user served True (fail-open).
    assert (
        serve_has_grant(spark, grants_dir, rates_tbl, 1, "message", key_value="message")
        is True
    )
    # Closed circuit (no breaker rows) => real grant is served.
    assert (
        serve_has_grant(spark, grants_dir, rates_tbl.limit(0), 1, "message") is False
    )
    assert (
        serve_has_grant(spark, grants_dir, rates_tbl.limit(0), 2, "message") is True
    )


def test_merge_pipeline_exactly_once_on_batch_replay(spark, tmp_path):
    """foreachBatch is at-least-once: if a crash lands AFTER the
    aggstate MERGE commit but BEFORE the streaming checkpoint commit,
    restart re-runs the same batch_id — and the delta MERGE (counters
    ADD) would double-count without the txn stamp. Simulate the exact
    crash window by deleting the checkpoint's last commit marker (the
    offsets file stays, so restart replays that batch), and pin that
    state, grants, and the notification log all converge to the
    single-apply values."""
    import os as _os

    events_dir, grants_dir, notes_dir, ckpt = _paths(tmp_path)
    aggstate_dir = str(tmp_path / "aggstate")

    def drop_commits_from(n=0):
        """Remove commit markers for batches >= n (offsets stay): the
        crash window where the work landed but the checkpoint commit
        didn't. Restart then re-executes those batch ids. Checksum
        siblings (.N.crc, ..N.<uuid>.tmp.crc) must go with their files
        or Spark 4's checksum manager flags a concurrent writer."""
        import re as _re

        commits = _os.path.join(ckpt, "commits")
        for f in _os.listdir(commits):
            m = _re.match(r"\.{0,2}(\d+)", f)
            if m and int(m.group(1)) >= n:
                _os.remove(_os.path.join(commits, f))

    def agg_state():
        return {
            (r.user_id, r.errors, r.spend)
            for r in ss.snapshot(spark, aggstate_dir).collect()
        }

    # Batch 0: one error (rule errors<2 passes -> granted), one purchase.
    _write_events(
        spark, events_dir, [(100, 1, "error", None), (101, 1, "purchase", 5.0)]
    )
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
    )
    state_once = agg_state()
    assert state_once == {(1, 1, 500)}  # errors=1, spend=500 cents
    assert has_grant(spark, grants_dir, 1, "message") is True

    # Crash window replay from batch 0: WITHOUT the txn guard this
    # double-adds (errors=2) and silently revokes the grant.
    drop_commits_from(0)
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
    )
    assert agg_state() == state_once
    assert has_grant(spark, grants_dir, 1, "message") is True
    notes = read_notifications(spark, notes_dir)  # no phantom revoke
    assert notes is None or notes.count() == 0

    # Batch 1: second error -> genuine revoke, exactly one notification.
    _write_events(spark, events_dir, [(102, 1, "error", None)])
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
    )
    assert has_grant(spark, grants_dir, 1, "message") is False
    assert read_notifications(spark, notes_dir).count() == 1

    # Replay the WHOLE history after the revoke batch: the revoke must
    # not double-append and no counter may re-add.
    drop_commits_from(0)
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
    )
    assert agg_state() == {(1, 2, 500)}
    assert has_grant(spark, grants_dir, 1, "message") is False
    assert read_notifications(spark, notes_dir).count() == 1

    # And the pipeline keeps moving: new data after a replay applies.
    _write_events(spark, events_dir, [(103, 2, "purchase", 1.0)])
    run_grants_pipeline_merge(
        spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir, TEST_CONFIG
    )
    assert has_grant(spark, grants_dir, 2, "message") is True
    assert agg_state() == {(1, 2, 500), (2, 0, 100)}


CENTS_CONFIG = EngineConfig(
    aggregates=(
        AggregateSpec("spend", "purchase", AggregateType.SUM, "value"),
    ),
    rules=(
        RuleSpec("has_spend", ("spend",), RuleOperation.VALUE,
                 RuleCondition.GREATER_THAN, 0),
    ),
    features=(FeatureSpec("member", ("has_spend",)),),
)


def test_streaming_sum_cents_slicing_independent(spark, tmp_path):
    """Fixture class 11a pins for the r10 verdict's #1 find: the
    streaming SUM path must convert EACH value to cents (HALF_UP on the
    shortest decimal rendering, the batch plan's
    try_cast(DECIMAL(18,2))) BEFORE accumulating — never sum raw floats
    and round once per micro-batch. Three consequences pinned here on
    non-cent-aligned amounts:
      (a) stream == batch: three 0.004 purchases are 0+0+0 = 0 cents in
          both (the pre-r11 float path said round(1.2) = 1 cent and
          GRANTED has_spend);
      (b) slicing independence: one-file-per-trigger replay equals the
          single-batch replay row-for-row (the float path gave
          slicing-dependent cents for the same events); each one-row
          micro-batch MERGEs its cents delta into the aggregate-state
          store, so this pins the cross-batch cents accumulation;
      (c) exactness past 2^53 cents: a (9e13, 1e16)-band amount plus a
          sub-cent amount accumulate exactly in int64 (float cents lose
          ulps there), again equal to batch.
    """
    batch_rows = [
        # user 1: three sub-cent purchases -> 0 cents, NO grant
        (1, 1, "purchase", 0.004),
        (2, 1, "purchase", 0.004),
        (3, 1, "purchase", 0.004),
        # user 2: half-up boundary family -> 1 + 62 + 268 = 331 cents
        (4, 2, "purchase", 0.005),
        (5, 2, "purchase", 0.615),
        (6, 2, "purchase", 2.675),
        # user 3: big-band magnitude + sub-cent follower (the float
        # path's ulp-loss shape); stored double of the literal is
        # 98000000000000.06 -> 9800000000000006 cents + 0
        (7, 3, "purchase", 98000000000000.07),
        (8, 3, "purchase", 0.004),
        # user 4: 0.0045 rounds HALF_UP at scale 2 on the SHORTEST
        # RENDERING '0.0045' -> 0.00 (not the two-step 0.005 -> 0.01)
        (9, 4, "purchase", 0.0045),
    ]

    def run(slice_files: bool, sub: str):
        root = tmp_path / sub
        events_dir, grants_dir, notes_dir, ckpt = (
            str(root / "events"), str(root / "grants"),
            str(root / "notifications"), str(root / "checkpoint"),
        )
        if slice_files:
            # one row per file, ascending mtimes -> one-row micro-batches
            import os as _os
            import time as _time
            for k, row in enumerate(batch_rows):
                _write_events(spark, events_dir, [row])
            parts = sorted(
                p for p in _os.listdir(events_dir) if p.startswith("part-")
            )
            base = int(_time.time())
            for k, p in enumerate(parts):
                fp = _os.path.join(events_dir, p)
                _os.utime(fp, (base + k, base + k))
        else:
            _write_events(spark, events_dir, batch_rows)
        aggstate_dir = str(root / "aggstate")
        run_grants_pipeline_merge(
            spark, events_dir, grants_dir, notes_dir, ckpt, aggstate_dir,
            CENTS_CONFIG,
            shuffle_partitions=4,
            max_files_per_trigger=1 if slice_files else 1 << 20,
        )
        snap = grants_snapshot(spark, grants_dir).orderBy("user_id", "feature")
        cents = {r.user_id: r.spend for r in ss.snapshot(spark, aggstate_dir).collect()}
        return [tuple(r) for r in snap.collect()], cents, events_dir

    got_sliced, cents_sliced, events_dir = run(True, "sliced")
    got_single, cents_single, _ = run(False, "single")
    assert got_sliced == got_single  # (b) slicing independence
    # ... down to the stored cents accumulators, exact past 2^53 (c)
    assert cents_sliced == cents_single == {
        1: 0, 2: 331, 3: 9800000000000006, 4: 0
    }

    batch = [
        tuple(r)
        for r in feature_grants_long(
            spark.read.parquet(events_dir), CENTS_CONFIG
        ).orderBy("user_id", "feature").collect()
    ]
    assert got_sliced == batch  # (a)+(c) stream == batch
    grants = {u: g for u, _f, g in got_sliced}
    assert grants[1] is False   # 0.004*3 -> 0 cents, not > 0
    assert grants[4] is False   # 0.0045 -> 0.00
    assert grants[2] is True and grants[3] is True
