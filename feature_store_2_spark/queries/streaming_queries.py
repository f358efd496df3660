"""Streaming-path query entries for the driver contract.

``stream_feature_grants`` runs the REAL Structured Streaming pipeline
(file source -> watermarked uuid dedup -> foreachBatch aggregate-state
MERGE + grants store) over the sf_dir events and returns the resulting
grants snapshot. Its oracle is the SAME SQL as the batch
``fs_feature_grants`` — so the correctness gate proves batch/stream
equivalence end-to-end, not just "rows came out": the streaming path
must reproduce the declarative pipeline exactly (uuid dedup, distinct
sets, cent-exact sums).

``stream_denial_rate`` exercises the watermarked sliding-window breaker
(A16/A17) with EXACT distinct users (r10): two chained stateful
aggregations in append mode replace the old HLL++ update-mode form, so
only watermark-closed windows emit and the result is exactly
oracle-checkable (the r8 verdict ask). The HLL++ serving-cadence
variant survives as ``streaming_denial_rate`` in streaming/breaker.py.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

from feature_store_2_spark.queries import register
from feature_store_2_spark.queries.feature_store import _AGG_CTE
from feature_store_2_spark.sources.tables import load_table
from feature_store_2_spark.streaming import (
    grants_snapshot,
    read_notifications,
    run_grants_pipeline_merge,
    streaming_denial_rate_exact,
)

_GRANTS_ORACLE = (
    _AGG_CTE
    + """
, wide AS (
    SELECT user_id,
           too_many_distinct_ks AND click_to_purchase_ratio AS purchase_grant,
           cannot_error_message AS message_grant
    FROM rules
)
SELECT user_id, 'purchase' AS feature, purchase_grant AS has_grant FROM wide
UNION ALL
SELECT user_id, 'message' AS feature, message_grant AS has_grant FROM wide
"""
)


# Bytes of staged source per state partition: with AQE off in
# streaming, EVERY micro-batch (including availableNow's no-data tail,
# in the entries that run one) pays one state-store commit per partition per
# stateful operator whether the partition holds 60 keys or 60k —
# profiled at ~200-300 ms summed commit time per partition on empty
# deltas (tools/stream_tail_profile.py receipts in OPTIMIZATION_r12.md).
# 256 KiB/partition puts the sf0.1 backlog (2 MB) at 8 partitions —
# measured best of {16, 8, 4} on 3 of the 4 stateful bench entries
# (interleaved min-of-3; the 4th is flat) — and saturates at the
# r7-measured 16-partition cap by ~4 MB of backlog, i.e. every
# rehearsal-scale run keeps the exact prior behavior. A real deployment
# sizes this to events-per-batch / executor count instead (the
# run_grants_pipeline_merge doc), which the explicit parameter still
# allows.
_STREAM_STATE_BYTES_PER_PART = 256 * 1024
_STREAM_PARTS_CAP = 16


def _stream_parts(events_path: str | None = None, cap: int = _STREAM_PARTS_CAP) -> int:
    """Stateful-operator partition count for a streaming entry: derived
    from the staged source's on-disk size (driver-side listing, no
    job), clamped to [4, cap]; unknown sizes return the cap (the old
    constant). Partitioning steers state-commit parallelism only —
    values are key-hashed and identical at any count. The env override
    (SPARK_GRAFT_STREAM_PARTS_OVERRIDE) lets the commit cost be
    A/B-measured without editing entries (tools/stream_tail_profile.py)."""
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTS_OVERRIDE")
    if env:
        return int(env)
    if events_path is None:
        return cap
    try:
        total = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(events_path, followlinks=True)
            for f in fs
        )
    except OSError:
        return cap
    if total <= 0:
        return cap
    return max(4, min(cap, -(-total // _STREAM_STATE_BYTES_PER_PART)))


@contextmanager
def _stream_shuffle(spark, n: int | str = 16):
    """Right-size stateful-operator partitions for the duration of a
    streaming run: AQE is off in streaming, so each state partition pays
    a per-batch state-store commit regardless of size — a driver session
    at the 200-partition default turns a 10k-event micro-batch into 200
    commits (measured 3x wall-clock at 100k events from 64 -> 16). The
    count bakes into the checkpoint on first batch; restored after.
    ``n``: an explicit count, or a staged-source path to derive one
    from its size (_stream_parts)."""
    parts = _stream_parts(n) if isinstance(n, str) else _stream_parts(None, cap=n)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _stage_events(spark, sf_dir: str) -> str:
    """Return a fresh per-run root whose ``events/`` subdir is the
    (ts-normalized) events table — the batch parquet stands in for the
    Kafka topic.

    The staged parquet is a pure function of the immutable sf_dir, so
    it is written ONCE per process per sf_dir (storage.py's
    commit-after-write ``_STAGING_CACHE`` protocol — the r5 verdict
    found every streaming entry paying a full corpus rewrite per
    invocation, the dominant cost of the two slowest bench queries).
    Each call still gets a brand-new run root — checkpoint/sink dirs
    must never be reused across runs — with ``events`` symlinked to
    the cached copy (read-only to every consumer)."""
    from feature_store_2_spark.queries.storage import (
        _commit_staging,
        _staged_root,
    )

    src_root, ready = _staged_root("stream_events", sf_dir)
    if not ready:
        load_table(spark, "events", sf_dir).write.parquet(
            os.path.join(src_root, "events")
        )
        _commit_staging("stream_events", sf_dir, src_root)
    run_root = tempfile.mkdtemp(prefix="fs2_stream_")
    os.symlink(
        os.path.join(src_root, "events"), os.path.join(run_root, "events")
    )
    return run_root


def _run_grants(spark, sf_dir: str) -> str:
    """Stage sf_dir's events, run the streaming grants pipeline over them
    in one availableNow catch-up, and return the run root (``grants/``,
    ``notifications/`` and ``checkpoint/`` live under it)."""
    root = _stage_events(spark, sf_dir)
    run_grants_pipeline_merge(
        spark,
        events_path=os.path.join(root, "events"),
        grants_path=os.path.join(root, "grants"),
        notifications_path=os.path.join(root, "notifications"),
        checkpoint_path=os.path.join(root, "checkpoint"),
        # One stateful op (uuid dedup) over ~100k events/batch:
        # per-partition state-store commit overhead dominates once
        # partitions are thin (see run_grants_pipeline_merge doc and
        # _stream_parts) — count derived from the staged backlog size,
        # capped at the r7-measured 16.
        shuffle_partitions=_stream_parts(os.path.join(root, "events")),
    )
    return root


# Decorators apply bottom-up: stream_feature_grants registers first and
# precedes this alias in the catalog.
@register(
    "stream_grants_incremental_merge",
    _GRANTS_ORACLE,
    doc="END-TO-END STREAMING, named for its strategy: foreachBatch "
    "incremental MERGE (micro-batch conditional-agg deltas merged into "
    "a sharded aggregate-state store — counters add, sets union, cent "
    "sums add), zero Python per event. The same function as "
    "stream_feature_grants, kept under both catalog names",
)
@register(
    "stream_feature_grants",
    _GRANTS_ORACLE,
    doc="END-TO-END STREAMING: uuid dedup + per-user aggregate MERGE + "
    "grants foreachBatch, oracle-checked against the batch grants SQL",
)
def stream_feature_grants(spark, sf_dir):
    root = _run_grants(spark, sf_dir)
    return grants_snapshot(spark, os.path.join(root, "grants"))


@register(
    "stream_dedup_events",
    """
SELECT user_id, event_id, min(event_type) AS event_type
FROM events
GROUP BY user_id, event_id
""",
    doc="streaming uuid-dedup via dropDuplicatesWithinWatermark (state "
    "bounded by the watermark — the scale path for A5/A7's exact sets)",
)
def stream_dedup_events(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_id"]
    )
    name = "fs2_stream_dedup"
    with _stream_shuffle(spark):
        q = (
            deduped.select("user_id", "event_id", "event_type")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_grant_notifications",
    _AGG_CTE
    + """
, wide AS (
    SELECT user_id,
           too_many_distinct_ks AND click_to_purchase_ratio AS purchase_grant,
           cannot_error_message AS message_grant
    FROM rules
),
long AS (
    SELECT user_id, 'purchase' AS feature, purchase_grant AS has_grant FROM wide
    UNION ALL
    SELECT user_id, 'message' AS feature, message_grant AS has_grant FROM wide
)
SELECT user_id, feature, 'access_revoked' AS notification,
       'https://api.example.com/event' AS subscriber
FROM long WHERE NOT has_grant
""",
    doc="A18 change-notification sink, oracle-checked: a cold-start "
    "streaming run notifies exactly the revoked rows (default grant is "
    "True), each routed to its subscriber endpoint. Assumes the staged "
    "events land in one availableNow micro-batch (no rate limits "
    "configured), so the flip log equals the final revoked set",
)
def stream_grant_notifications(spark, sf_dir):
    root = _run_grants(spark, sf_dir)
    return read_notifications(spark, os.path.join(root, "notifications"))


@register(
    "stream_static_join_enrich",
    """
SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.event_type
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
    doc="stream-static join: the event stream enriched against the "
    "static customer table per micro-batch — stateless (append mode), "
    "the standard dimension-enrichment shape. The static side is NOT "
    "force-broadcast: customer is scale-factor-sized, so the planner "
    "picks broadcast per batch only when it measures small (a forced "
    "hint would OOM every micro-batch at 100 TB).",
)
def stream_static_join_enrich(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    joined = stream.join(cust, "user_id").select(
        "event_id", "user_id", "segment", "event_type"
    )
    name = "fs2_stream_static_join"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_SESSIONIZE_STREAM_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w <= 1800000000
                THEN 0 ELSE 1 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id,
           CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS session_end_us,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM agg
WHERE session_end_us + 1800000000 <= (SELECT max(epoch_us(ts)) FROM events)
"""


@register(
    "stream_sessionize",
    _SESSIONIZE_STREAM_ORACLE,
    doc="STREAMING session windows (F.session_window, 30-min gap, append "
    "mode): oracle = the batch lag+cumsum sessionization restricted to "
    "sessions CLOSED by the final watermark — pins the merge semantics "
    "(a gap of exactly 30 min merges) and the append-emission rule "
    "(window end <= watermark emits), both measured",
)
def stream_sessionize(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))
    gap_us = 30 * 60 * 1_000_000
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            # session_window.end = last event ts + gap; subtract the gap
            # to report the last-event time the batch oracle computes.
            (F.unix_micros("w.end") - F.lit(gap_us)).alias("session_end_us"),
            "n_events",
        )
    )
    name = "fs2_stream_sessionize"
    with _stream_shuffle(spark, os.path.join(root, "events")):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_introspection",
    "SELECT CAST(count(*) AS BIGINT) AS num_input_rows FROM events",
    doc="A19 introspection (the reference's GET /queue-size, app.py:47-60): "
    "rows drained off the stream, summed over StreamingQuery progress "
    "events — oracle = the staged event count, proving the progress "
    "accounting is lossless. The full health view (input/processed "
    "rates, batch durations, keyed-state size) is "
    "streaming/introspection.query_metrics, pytest-covered",
)
def stream_introspection(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))
    name = "fs2_stream_introspect"
    with _stream_shuffle(spark):
        q = (
            stream.groupBy("event_type")
            .count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    total = sum(int(p["numInputRows"]) for p in q.recentProgress)
    return spark.createDataFrame([(total,)], "num_input_rows long")


@register(
    "stream_stream_join",
    """
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
""",
    doc="STREAM-STREAM interval join: purchases joined to the same "
    "user's clicks within the preceding 30 minutes, both sides "
    "watermarked so the join state is range-bounded (each side retains "
    "only rows inside watermark + interval; at 100 TB/day state is "
    "~interval-sized per key, not unbounded). Inner join emits each "
    "match the micro-batch both rows exist — the final table equals "
    "the batch interval join, which is the oracle. Watermark delay "
    "covers the staged corpus span so a multi-batch catch-up run "
    "drops nothing (production tunes it to real lateness)",
)
def stream_stream_join(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    path = os.path.join(root, "events")
    purchases = (
        spark.readStream.schema(schema)
        .parquet(path)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "35 days")
    )
    clicks = (
        spark.readStream.schema(schema)
        .parquet(path)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "35 days")
    )
    joined = purchases.join(
        clicks,
        [
            purchases.user_id == clicks.user_id,
            F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"),
            F.col("c_ts") <= F.col("p_ts"),
        ],
        "inner",
    ).select(
        purchases.user_id.alias("user_id"),
        "purchase_id",
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    name = "fs2_stream_stream_join"
    with _stream_shuffle(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


_DENIAL_ORACLE = """
WITH mx AS (SELECT max(ts) AS m FROM events),
ex AS (
    -- each event belongs to 2 sliding windows (10-min size / 5-min
    -- slide): starts at floor(ts/5min)*5min and one slide earlier —
    -- the same assignment Spark's window() makes. Floor via the
    -- positive-mod identity, NOT '//': DuckDB's integer '//'
    -- truncates toward zero (-7 // 3 = -2) while Spark's window
    -- assignment floors, so a bare '//' mis-buckets pre-epoch
    -- timestamps (r10 timestamp-pathology find).
    SELECT user_id, event_type, value,
           epoch_us(ts)
             - ((epoch_us(ts) % 300000000) + 300000000) % 300000000
             - g.k * 300000000 AS ws_us
    FROM events, (SELECT unnest([0, 1]) AS k) g
),
f AS (
    -- append-mode emission rule: a window emits exactly when the
    -- terminal watermark (max ts - 10-min delay) passes its end —
    -- the same rule stream_sessionize / stream_topk_trending pin
    SELECT ex.* FROM ex, mx
    WHERE ws_us + 600000000 <= epoch_us(mx.m) - 600000000
      -- Spark's event-time watermark INITIALIZES at epoch 0, so a
      -- window that is already expired at the first batch (end <= 0,
      -- i.e. wholly pre-1970) is dropped as late data and never
      -- emitted (r10 timestamp-pathology find, pinned by
      -- test_stream_denial_rate_ts_pathology_pin)
      AND ws_us + 600000000 > 0
),
agg AS (
    SELECT CAST(ws_us AS BIGINT) AS window_start_us, event_type,
           count(DISTINCT user_id) AS total_users,
           count(DISTINCT CASE WHEN value < 2.0 THEN user_id END)
               AS denied_users
    FROM f GROUP BY 1, 2
)
SELECT window_start_us, event_type, total_users, denied_users,
       denied_users / nullif(total_users, 0) AS denial_rate,
       denied_users / nullif(total_users, 0) > 0.05 AS circuit_open
FROM agg
"""


@register(
    "stream_denial_rate",
    _DENIAL_ORACLE,
    doc="watermarked 10-min/5-min sliding-window denial rate over the "
    "event stream (A16/A17) with EXACT distinct users — rows-only no "
    "more (r10, the r8 verdict ask): count(DISTINCT) is unsupported "
    "in a streaming agg, so it runs as two chained stateful "
    "aggregations (collapse to (window, key, user) with bool_or of "
    "denied, then count collapsed rows) in append mode, where only "
    "watermark-closed windows emit. That emission rule is what makes "
    "the stream exactly oracle-checkable: the batch oracle expands "
    "each event into its 2 sliding windows and keeps windows whose "
    "end precedes the terminal watermark. The HLL++ update-mode "
    "variant (streaming_denial_rate) remains the serving-cadence / "
    "unbounded-cardinality trade; this is the auditable twin.",
)
def stream_denial_rate(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))
    rates = streaming_denial_rate_exact(
        stream, denied=F.col("value") < 2.0, slide="5 minutes"
    )
    name = "fs2_stream_denial_rate"
    with _stream_shuffle(spark):
        q = (
            rates.select(
                F.unix_micros("window_start").alias("window_start_us"),
                "event_type",
                "total_users",
                "denied_users",
                "denial_rate",
                "circuit_open",
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_topk_trending",
    """
WITH mx AS (SELECT max(ts) AS m FROM events),
w AS (
    SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n_events
    FROM events GROUP BY ws, event_type),
f AS (SELECT ws, event_type, n_events FROM w, mx
      WHERE ws + INTERVAL 1 HOUR <= mx.m),
r AS (SELECT epoch_us(ws) AS window_start_us, event_type, n_events,
             CAST(row_number() OVER (PARTITION BY ws
                 ORDER BY n_events DESC, event_type) AS BIGINT) AS rk
      FROM f)
SELECT window_start_us, event_type, n_events, rk FROM r WHERE rk <= 2
""",
    doc="STREAMING trending top-k: tumbling 1-hour event-type counts "
    "(watermarked, append mode — only watermark-closed windows emit, "
    "same emission rule stream_sessionize pins), then top-2 per window "
    "ranked over the materialized completed windows. The streaming agg "
    "holds only open-window state; ranking runs on the closed-window "
    "output, which is the correct split at scale (per-window top-k "
    "over the sink, not a global sort in-stream). Oracle = batch "
    "hourly counts restricted to windows closed by the final "
    "watermark.",
)
def stream_topk_trending(spark, sf_dir):
    from pyspark.sql import Window as W

    root = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    name = "fs2_stream_topk_trending"
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    closed = spark.table(name)
    rk = F.row_number().over(
        W.partitionBy("window_start_us").orderBy(F.desc("n_events"), "event_type")
    )
    return (
        closed.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 2)
        .select("window_start_us", "event_type", "n_events", "rk")
    )


@register(
    "stream_grants_multibatch",
    _GRANTS_ORACLE,
    doc="END-TO-END STREAMING, multi-micro-batch: the incremental-MERGE "
    "grants pipeline with events staged as FOUR time-range files and "
    "maxFilesPerTrigger=1, so availableNow processes four sequential "
    "micro-batches with state carried across them (uuid-dedup state, "
    "sharded aggregate MERGEs). The single-drain entries prove the "
    "pipeline once; this proves the property that matters in "
    "production — incremental convergence: any batching of the input "
    "reaches the same final grants because the state merge is "
    "commutative and associative (counters add, sets union, cent sums "
    "add) — PROVIDED cross-batch disorder stays inside the dedup "
    "watermark (35 days): a slice replayed more than the watermark "
    "behind an already-processed one is late data and is evicted, the "
    "explicit trade every watermarked system makes "
    "(tests/test_adversarial_fixtures.py pins the drop). The file "
    "source replays files in modification-time order, so the entry "
    "stamps ascending mtimes on the time-slice files to fix the "
    "backlog replay order deterministically. Same oracle as the batch "
    "grants SQL.",
)
def stream_grants_multibatch(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="fs2_stream_mb_")
    events_dir = os.path.join(root, "events")
    # Four time-range files: each micro-batch covers a contiguous time
    # slice (the Kafka-backlog shape). Convergence does not depend on
    # the slicing, but the replay ORDER must not be left to task-finish
    # mtime races: FileStreamSource orders by modification time, and a
    # late slice surfacing first would advance the dedup watermark past
    # the earlier slices (their rows would be evicted as late data on a
    # corpus spanning more than the 35-day watermark). Stamp mtimes
    # ascending in range order — part file order IS ts order under
    # repartitionByRange.
    load_table(spark, "events", sf_dir).repartitionByRange(4, "ts").write.parquet(
        events_dir
    )
    part_files = sorted(
        f
        for f in os.listdir(events_dir)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    base_mtime = 1_600_000_000
    for i, fname in enumerate(part_files):
        p = os.path.join(events_dir, fname)
        os.utime(p, (base_mtime + i, base_mtime + i))
    run_grants_pipeline_merge(
        spark,
        events_path=events_dir,
        grants_path=os.path.join(root, "grants"),
        notifications_path=os.path.join(root, "notifications"),
        checkpoint_path=os.path.join(root, "checkpoint"),
        shuffle_partitions=_stream_parts(events_dir),
        max_files_per_trigger=1,
    )
    n_batches = len(os.listdir(os.path.join(root, "checkpoint", "offsets")))
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"
    return grants_snapshot(spark, os.path.join(root, "grants"))


_HALF_FILTER = (
    "FROM events WHERE epoch_us(ts) < "
    "(SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 FROM events)"
)

_VDIFF_ORACLE = f"""
WITH old_g AS (
    SELECT * FROM ({_GRANTS_ORACLE.replace("FROM events", _HALF_FILTER)}) og
),
new_g AS (
    SELECT * FROM ({_GRANTS_ORACLE}) ng
)
SELECT n.user_id, n.feature,
       coalesce(o.has_grant, TRUE) AS old_has_grant,
       n.has_grant AS new_has_grant
FROM new_g n LEFT JOIN old_g o
  ON n.user_id = o.user_id AND n.feature = o.feature
WHERE coalesce(o.has_grant, TRUE) <> n.has_grant
"""


@register(
    "fs_grants_version_diff",
    _VDIFF_ORACLE,
    doc="CDC over the versioned grants store (Delta Change-Data-Feed "
    "analog): events are ingested in two halves (split at the midpoint "
    "timestamp, integer-micros so both engines agree), each half one "
    "pipeline run MERGEd into the store; the entry time-travels to the "
    "post-first-half manifest (read_store(at_version=...)) and diffs "
    "it against the final snapshot — per-key (old, new) grant changes, "
    "absent-old = default-True exactly like the serving path. Oracle "
    "recomputes both grant states from raw events. Makes the store's "
    "version retention driver-visible (previously pytest-only).",
)
def fs_grants_version_diff(spark, sf_dir):
    from feature_store_2_spark.streaming import sharded_store

    root = tempfile.mkdtemp(prefix="fs2_vdiff_")
    events_dir = os.path.join(root, "events")
    grants_path = os.path.join(root, "grants")
    ev = load_table(spark, "events", sf_dir)
    # Staging orchestration only (not operator dataflow): one scalar
    # split point to write the two file sets the two runs ingest.
    mid = ev.selectExpr(
        "(unix_micros(min(ts)) + unix_micros(max(ts))) div 2 AS m"
    ).collect()[0]["m"]
    ev.filter(F.unix_micros("ts") < mid).write.parquet(events_dir)
    kwargs = dict(
        events_path=events_dir,
        grants_path=grants_path,
        notifications_path=os.path.join(root, "notifications"),
        checkpoint_path=os.path.join(root, "checkpoint"),
        shuffle_partitions=_stream_parts(events_dir),
        retain_versions=8,
    )
    run_grants_pipeline_merge(spark, **kwargs)
    v_old = sharded_store.current_version(grants_path)
    ev.filter(F.unix_micros("ts") >= mid).write.mode("append").parquet(events_dir)
    run_grants_pipeline_merge(spark, **kwargs)  # same checkpoint: resumes
    old = sharded_store.read_store(spark, grants_path, at_version=v_old).drop(
        sharded_store.SHARD_COL
    )
    new = sharded_store.read_store(spark, grants_path).drop(sharded_store.SHARD_COL)
    o = old.select(
        F.col("user_id").alias("o_uid"),
        F.col("feature").alias("o_feat"),
        F.col("has_grant").alias("o_grant"),
    )
    return (
        new.join(
            o,
            (new.user_id == o.o_uid) & (new.feature == o.o_feat),
            "left",
        )
        .select(
            "user_id",
            "feature",
            F.coalesce("o_grant", F.lit(True)).alias("old_has_grant"),
            F.col("has_grant").alias("new_has_grant"),
        )
        .filter(F.col("old_has_grant") != F.col("new_has_grant"))
    )


_FORGET_ORACLE = f"""
SELECT * FROM ({_GRANTS_ORACLE}) g WHERE g.user_id % 37 <> 0
"""


@register(
    "fs_grants_forget_users",
    _FORGET_ORACLE,
    doc="right-to-be-forgotten over the grants store (Delta DELETE "
    "WHERE analog): after the full streaming pipeline, a deletion "
    "batch (user_id % 37 = 0) is MERGE-DELETEd via "
    "sharded_store.delete_keys — only shards containing a forgotten "
    "user are rewritten (k users => <= k shard rewrites, never a "
    "full-table rewrite), the deletion commits its own manifest "
    "version, and retention is the compliance knob (retain_versions=1 "
    "purges old data files immediately). Forgotten users revert to the "
    "serving default (grant=True), exactly the reference's "
    "unknown-user semantics. Oracle = batch grants SQL minus the "
    "forgotten users.",
)
def fs_grants_forget_users(spark, sf_dir):
    from feature_store_2_spark.streaming import sharded_store
    from feature_store_2_spark.streaming.grants_store import GRANT_KEYS

    grants_path = os.path.join(_run_grants(spark, sf_dir), "grants")
    stored = sharded_store.snapshot(spark, grants_path)
    forget = stored.filter(F.col("user_id") % 37 == 0).select("user_id", "feature")
    sharded_store.delete_keys(forget, grants_path, GRANT_KEYS, "user_id")
    return grants_snapshot(spark, grants_path)


_LOCF_ORACLE = """
SELECT event_id, user_id, ts,
       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_purchase_value
FROM events
"""


@register(
    "stream_locf_last_purchase",
    _LOCF_ORACLE,
    doc="STREAMING stateful forward fill: every event annotated with "
    "the user's most recent purchase value, carried across "
    "micro-batches in keyed state (applyInPandasWithState holds ONE "
    "double per user — bounded, volume-independent). Within a batch "
    "the user's events are sorted by (ts, event_id) and filled with "
    "numpy; the carry-over seeds the next batch. Oracle = the batch "
    "LOCF window (window_locf_forward_fill), proving the stateful "
    "stream reproduces the unbounded-frame window exactly.",
)
def stream_locf_last_purchase(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    root = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))

    state_schema = T.StructType([T.StructField("carry", T.DoubleType())])
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("last_purchase_value", T.DoubleType()),
        ]
    )

    def fill(key, pdfs, state: GroupState):
        carry = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        vals = pdf["value"].where(pdf["event_type"] == "purchase")
        filled = vals.ffill()
        if carry is not None:
            filled = filled.fillna(carry)
        last = vals.dropna()
        if len(last):
            carry = float(last.iloc[-1])
        state.update((carry,))
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "ts": pdf["ts"],
                "last_purchase_value": filled,
            }
        )

    annotated = (
        stream.select("event_id", "ts", "user_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fill, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    name = "fs2_stream_locf"
    with _stream_shuffle(spark):
        q = (
            annotated.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_stream_left_outer",
    """
WITH mx AS (
    SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'click')) AS m),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
j AS (
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           epoch_us(p.ts) AS p_ts_us, c.event_id AS click_id
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts)
SELECT purchase_id, user_id, p_ts_us, click_id,
       click_id IS NOT NULL AS matched
FROM j, mx
WHERE p_ts_us < epoch_us(m)
""",
    doc="STREAM-STREAM LEFT OUTER interval join — the null-padded half "
    "the inner entry (stream_stream_join) can't show: purchases with "
    "no click in the preceding 30 minutes still emit, padded null, "
    "once the watermark passes the end of their match window and the "
    "join state is evicted. State stays range-bounded exactly as in "
    "the inner form; the outer rows ride the state EVICTION path "
    "(emitted by the closing no-data micro-batch), which is the part "
    "of the state machine inner joins never exercise. Oracle = batch "
    "left interval join; both sides exclude purchases at or past the "
    "TERMINAL QUERY WATERMARK = least(max purchase ts, max click ts) "
    "(multipleWatermarkPolicy min, the default): rows at that boundary "
    "are exactly the state a finished run never evicts, so their outer "
    "result is not yet determined when the stream stops.",
)
def stream_stream_left_outer(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    path = os.path.join(root, "events")
    purchases = (
        spark.readStream.schema(schema)
        .parquet(path)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    clicks = (
        spark.readStream.schema(schema)
        .parquet(path)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "0 seconds")
    )
    joined = purchases.join(
        clicks,
        [
            purchases.user_id == clicks.user_id,
            F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"),
            F.col("c_ts") <= F.col("p_ts"),
        ],
        "left_outer",
    ).select(
        "purchase_id",
        purchases.user_id.alias("user_id"),
        F.unix_micros("p_ts").alias("p_ts_us"),
        "click_id",
        F.col("click_id").isNotNull().alias("matched"),
    )
    name = "fs2_stream_stream_left_outer"
    with _stream_shuffle(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    ev = load_table(spark, "events", sf_dir)
    mx = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        ).alias("m")
    ).select(F.unix_micros("m").alias("mx_us"))
    out = spark.table(name)
    return (
        out.crossJoin(F.broadcast(mx))
        .filter(F.col("p_ts_us") < F.col("mx_us"))
        .select("purchase_id", "user_id", "p_ts_us", "click_id", "matched")
    )


@register(
    "stream_stream_full_outer",
    """
WITH mx AS (
    SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'click')) AS m),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
j AS (
    SELECT p.event_id AS purchase_id,
           COALESCE(p.user_id, c.user_id) AS user_id,
           epoch_us(p.ts) AS p_ts_us,
           c.event_id AS click_id,
           epoch_us(c.ts) AS c_ts_us
    FROM p FULL JOIN c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts)
SELECT purchase_id, user_id, p_ts_us, click_id, c_ts_us,
       CASE WHEN purchase_id IS NOT NULL AND click_id IS NOT NULL
                 THEN 'both'
            WHEN click_id IS NULL THEN 'purchase_only'
            ELSE 'click_only' END AS side
FROM j, mx
WHERE (p_ts_us IS NOT NULL AND p_ts_us < epoch_us(m))
   OR (p_ts_us IS NULL AND c_ts_us + 1800000000 < epoch_us(m))
""",
    doc="STREAM-STREAM FULL OUTER interval join — both null-padded "
    "halves at once: purchases with no click in the preceding 30 "
    "minutes AND clicks that preceded no purchase in the following "
    "30 each emit padded once the watermark passes their match "
    "window (the state-eviction path on BOTH sides of the state "
    "machine, which inner and left outer only half exercise). Same "
    "range-bounded state as the inner form. Determinism cut at the "
    "TERMINAL QUERY WATERMARK mx = least(max purchase ts, max click "
    "ts): purchase-side rows need p_ts < mx (no click with c_ts <= "
    "p_ts can still arrive), click-only rows need c_ts + 30min < mx "
    "(no purchase can still match) — rows past the cut are exactly "
    "the state a finished run never evicts, filtered identically "
    "from the Spark output and the batch full-join oracle.",
)
def stream_stream_full_outer(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    path = os.path.join(root, "events")
    purchases = (
        spark.readStream.schema(schema)
        .parquet(path)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    clicks = (
        spark.readStream.schema(schema)
        .parquet(path)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "0 seconds")
    )
    joined = purchases.join(
        clicks,
        [
            purchases.p_user == clicks.c_user,
            F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"),
            F.col("c_ts") <= F.col("p_ts"),
        ],
        "full_outer",
    ).select(
        "purchase_id",
        F.coalesce("p_user", "c_user").alias("user_id"),
        F.unix_micros("p_ts").alias("p_ts_us"),
        "click_id",
        F.unix_micros("c_ts").alias("c_ts_us"),
        F.when(
            F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull(),
            "both",
        )
        .when(F.col("click_id").isNull(), "purchase_only")
        .otherwise("click_only")
        .alias("side"),
    )
    name = "fs2_stream_stream_full_outer"
    with _stream_shuffle(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    ev = load_table(spark, "events", sf_dir)
    mx = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        ).alias("m")
    ).select(F.unix_micros("m").alias("mx_us"))
    out = spark.table(name)
    determined = (
        F.col("p_ts_us").isNotNull() & (F.col("p_ts_us") < F.col("mx_us"))
    ) | (
        F.col("p_ts_us").isNull()
        & (F.col("c_ts_us") + 1_800_000_000 < F.col("mx_us"))
    )
    return (
        out.crossJoin(F.broadcast(mx))
        .filter(determined)
        .select(
            "purchase_id", "user_id", "p_ts_us", "click_id", "c_ts_us",
            "side",
        )
    )


@register(
    "stream_kafka_shaped_ingest",
    """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
    doc="Kafka-SHAPED ingest path (no broker in this container — the "
    "wire format is real, the transport is a staged file stream): the "
    "events table is re-staged in Kafka's exact record schema (key "
    "binary, value binary, topic string, partition int, offset long, "
    "timestamp) with value = the JSON a producer would publish, "
    "key = the user id bytes, partition = pmod(hash(key), 4) as a "
    "keyed producer partitions. The query then runs the UNCHANGED "
    "consumer pipeline a real `spark.readStream.format('kafka')` "
    "deployment uses — cast value to string, from_json against the "
    "event schema, aggregate — so swapping in a broker changes ONE "
    "line (the source format), which is the honest claim for an "
    "env-blocked connector. Oracle = batch aggregation of the same "
    "events.",
)
def stream_kafka_shaped_ingest(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="fs2_kafka_")
    topic_dir = os.path.join(root, "topic_events")
    ev = load_table(spark, "events", sf_dir)
    value_json = F.to_json(
        F.struct("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    key = F.col("user_id").cast("string")
    (
        ev.select(
            key.cast("binary").alias("key"),
            value_json.cast("binary").alias("value"),
            F.lit("events").alias("topic"),
            F.pmod(F.hash(key), F.lit(4)).cast("int").alias("partition"),
            F.row_number()
            .over(
                Window.partitionBy(F.pmod(F.hash(key), F.lit(4))).orderBy(
                    "ts", "event_id"
                )
            )
            .cast("long")
            .alias("offset"),
            F.col("ts").alias("timestamp"),
        ).write.parquet(topic_dir)
    )
    stream = spark.readStream.schema(
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp"
    ).parquet(topic_dir)
    event_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    parsed = stream.select(
        F.from_json(F.col("value").cast("string"), event_schema).alias("e")
    ).select("e.*")
    name = "fs2_kafka_shaped"
    with _stream_shuffle(spark):
        q = (
            parsed.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # Exact distinct runs on the materialized sink (unsupported in
    # streaming aggs); the in-stream agg form is covered by
    # stream_denial_rate / stream_topk_trending.
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@register(
    "stream_python_datasource",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(user_id) AS BIGINT) AS sum_users
FROM events GROUP BY event_type
""",
    doc="Python STREAMING Data Source (new Spark 4 surface, "
    "SimpleDataSourceStreamReader): a custom source written in pure "
    "Python with the full streaming contract — initialOffset, "
    "read(start) -> (rows, nextOffset), replayable readBetweenOffsets "
    "— serving the events table in deterministic 2500-row offset "
    "ranges (ordered by event_id, so recovery/replay is exact). The "
    "complete-mode aggregate over however many micro-batches the "
    "engine schedules must equal the batch oracle: convergence under "
    "ANY batching, the property that makes offset-based sources "
    "restartable. This is the plug point for bespoke feeds (internal "
    "queue APIs) when no JVM connector exists.",
)
def stream_python_datasource(spark, sf_dir):
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    path = os.path.join(sf_dir, "events.parquet")

    class _EvReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self._path = options["path"]
            self._chunk = 2500

        def initialOffset(self):
            return {"pos": 0}

        def _table(self):
            import pyarrow.parquet as pq

            t = pq.read_table(
                self._path, columns=["event_id", "user_id", "event_type"]
            )
            return t.sort_by("event_id")

        def _rows(self, t, lo, hi):
            chunk = t.slice(lo, hi - lo)
            return iter(
                list(
                    zip(
                        chunk.column("event_id").to_pylist(),
                        chunk.column("user_id").to_pylist(),
                        chunk.column("event_type").to_pylist(),
                    )
                )
            )

        def read(self, start):
            t = self._table()
            lo = start["pos"]
            hi = min(lo + self._chunk, t.num_rows)
            if lo >= hi:
                return iter([]), {"pos": lo}
            return self._rows(t, lo, hi), {"pos": hi}

        def readBetweenOffsets(self, start, end):
            return self._rows(self._table(), start["pos"], end["pos"])

    class _EvStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "fs2_events_stream_py"

        def schema(self):
            return "event_id bigint, user_id bigint, event_type string"

        def simpleStreamReader(self, schema):
            return _EvReader(self.options)

    spark.dataSource.register(_EvStreamSource)
    stream = (
        spark.readStream.format("fs2_events_stream_py")
        .option("path", path)
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("user_id").cast("long").alias("sum_users"),
    )
    name = "fs2_stream_pyds"
    with _stream_shuffle(spark):
        # Python micro-batch streams don't support Trigger.AvailableNow
        # (falls back to ONE batch); processAllAvailable drives batches
        # until the reader's offset stops advancing, then we stop.
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_cdc_upsert_apply",
    """
WITH ops AS (
    SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t, event_id,
           CASE WHEN event_type = 'signup' THEN 'U' ELSE 'D' END AS op,
           value
    FROM events WHERE event_type IN ('signup', 'error')),
last AS (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY t DESC, event_id DESC) AS rn
    FROM ops)
SELECT user_id, t AS last_ts_us, event_id AS version_id, value AS attr
FROM last WHERE rn = 1 AND op = 'U'
""",
    doc="streaming CDC changelog apply — the Debezium-shaped workload: "
    "signup events are keyed UPSERTs, error events are DELETEs, and "
    "the stream folds them into a last-writer-wins keyed table via "
    "foreachBatch merge (batch delta reduced to one winner per key by "
    "max(struct(ts, event_id, ...)), then merged with the store the "
    "same way). The merge is COMMUTATIVE-ASSOCIATIVE by construction "
    "— max over (ts, id) — so the final state is independent of "
    "micro-batch slicing, proven by forcing multiple batches "
    "(maxFilesPerTrigger) against a batch-window oracle: the "
    "exactly-once-effect idiom without sink transactions. Tombstones "
    "stay in-store so a late pre-delete upsert can't resurrect a "
    "deleted key (the classic CDC bug); output filters them. At "
    "100 TB foreachBatch MERGEs into the sharded store "
    "(streaming/sharded_store.py) instead of rewriting one dir.",
)
def stream_cdc_upsert_apply(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    state_dir = os.path.join(root, "cdc_state")
    winner = F.max(
        F.struct("t", "event_id", "op", "value")
    ).alias("w")

    def reduce_ops(df):
        return df.groupBy("user_id").agg(winner).select(
            "user_id",
            F.col("w.t").alias("t"),
            F.col("w.event_id").alias("event_id"),
            F.col("w.op").alias("op"),
            F.col("w.value").alias("value"),
        )

    def apply_batch(batch, _bid):
        ops = batch.filter(
            F.col("event_type").isin("signup", "error")
        ).select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            "event_id",
            F.when(F.col("event_type") == "signup", "U")
            .otherwise("D")
            .alias("op"),
            "value",
        )
        delta = reduce_ops(ops)
        sp = batch.sparkSession
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            cur = sp.read.parquet(state_dir)
            merged = reduce_ops(cur.unionByName(delta))
        else:
            merged = delta
        # Rewrite via a temp dir: the source of the union is the dir
        # being replaced, so materialize first.
        tmp = state_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        out = sp.read.parquet(tmp)
        out.write.mode("overwrite").parquet(state_dir)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 8)  # force several micro-batches
        .parquet(os.path.join(root, "events"))
    )
    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(state_dir)
        .filter(F.col("op") == "U")
        .select(
            "user_id",
            F.col("t").alias("last_ts_us"),
            F.col("event_id").alias("version_id"),
            F.col("value").alias("attr"),
        )
    )


_STREAM_THROTTLE_ORACLE = """
WITH mx AS (SELECT max(ts) AS m FROM events),
ranked AS (
    SELECT user_id, event_id,
           epoch_us(ts) // 600000000 AS w,
           row_number() OVER (
               PARTITION BY user_id, epoch_us(ts) // 600000000
               ORDER BY ts, event_id) AS rk,
           count(*) OVER (
               PARTITION BY user_id, epoch_us(ts) // 600000000) AS n
    FROM events
)
SELECT user_id,
       CAST(w * 600000000 AS BIGINT) AS win_start_us,
       event_id AS kept_event_id,
       CAST(n - 1 AS INT) AS n_suppressed
FROM ranked, mx
WHERE rk = 1 AND (w + 1) * 600000000 <= epoch_us(mx.m)
"""


@register(
    "stream_throttle_first_per_window",
    _STREAM_THROTTLE_ORACLE,
    doc="streaming rate limiter — the stream twin of "
    "rate_limit_throttle: a watermarked 10-minute tumbling-window "
    "aggregation keeps the earliest (ts, event_id) per user-window "
    "as min(struct(ts, event_id)) and counts the suppressed rest. "
    "Deterministic REGARDLESS of arrival order (the min-struct "
    "aggregate is commutative, unlike streaming dropDuplicates "
    "whose keeper depends on processing order — that is why this "
    "is the correct streaming throttle shape), so the batch SQL is "
    "an exact oracle over watermark-closed windows (same emission "
    "rule stream_topk_trending pins). State per key is one struct + "
    "one count, evicted at the watermark; at 100 TB/day the state "
    "store holds only the open windows, not history.",
)
def stream_throttle_first_per_window(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.min(F.struct("ts", "event_id")).alias("first"),
            F.count("*").alias("n"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("win_start_us"),
            F.col("first.event_id").alias("kept_event_id"),
            (F.col("n") - 1).cast("int").alias("n_suppressed"),
        )
    )
    name = "fs2_stream_throttle"
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


_STREAM_BITMAP_ORACLE = """
WITH anchor AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
days AS (
    SELECT DISTINCT user_id,
           date_diff('day', (SELECT d0 FROM anchor), CAST(ts AS DATE))
               AS day_idx
    FROM events
)
SELECT user_id,
       bit_or(CAST(1 AS BIGINT) << day_idx) AS mask,
       CAST(bit_count(bit_or(CAST(1 AS BIGINT) << day_idx)) AS INT)
           AS n_active_days,
       CAST(min(day_idx) AS INT) AS first_day,
       CAST(max(day_idx) AS INT) AS last_day
FROM days GROUP BY user_id
"""


@register(
    "stream_activity_bitmap",
    _STREAM_BITMAP_ORACLE,
    doc="STREAMING activity bitmaps — the stream twin of "
    "agg_activity_bitmap: per-user active-day masks accumulate as "
    "bit_or keyed state (with min/max day), complete-mode output. "
    "bit_or is commutative AND idempotent, so the state is "
    "arrival-order independent and re-delivery-safe without any "
    "dedup — the ideal streaming aggregate shape (n_active_days is "
    "derived as bit_count(mask) AFTER aggregation, because "
    "streaming countDistinct is unsupported — the bitmap IS the "
    "distinct set). The corpus epoch anchor comes from the static "
    "side via a stream-static broadcast join, the deployment shape "
    "(epoch is config, not stream state). State per user is three "
    "words, horizon-bounded by the word-array scale form the batch "
    "twin documents.",
)
def stream_activity_bitmap(spark, sf_dir):
    root = _stage_events(spark, sf_dir)
    anchor = load_table(spark, "events", sf_dir).agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(os.path.join(root, "events"))
    agg = (
        stream.join(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.col("d0")).alias("day_idx"),
        )
        # Same loud 64-day horizon guard as agg_activity_bitmap:
        # shiftleft wraps shift mod 64 silently, DuckDB raises — make
        # both engines fail the same way (un-prunable assert filter).
        .filter(
            F.coalesce(
                F.assert_true(
                    F.col("day_idx") <= F.lit(63),
                    F.lit(
                        "stream_activity_bitmap: corpus spans > 64 "
                        "days — use the (user, epoch_week) word-array "
                        "form"
                    ),
                ),
                F.lit(True),
            )
        )
        .groupBy("user_id")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), day_idx)")
            ).alias("mask"),
            F.min("day_idx").alias("first_day"),
            F.max("day_idx").alias("last_day"),
        )
        .select(
            "user_id",
            "mask",
            F.bit_count("mask").cast("int").alias("n_active_days"),
            F.col("first_day").cast("int").alias("first_day"),
            F.col("last_day").cast("int").alias("last_day"),
        )
    )
    name = "fs2_stream_activity_bitmap"
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
