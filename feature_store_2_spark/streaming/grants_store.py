"""Grants store: keyed upsert table + change notifications + point lookup.

Reference parity: ``UserFeatureService._grants`` is an in-heap
``user_id -> {feature: bool}`` map with default grant True
(/root/reference/services/user_feature.py:22,75-79); flips emit
``access_granted``/``access_revoked`` notifications
(services/user_feature.py:81-96, services/notifications.py:11-25); the
serving path is a point lookup with circuit fail-open
(app.py:63-79, services/user_feature.py:46-55).

Storage is the SHARDED store (sharded_store.py):
``run_grants_pipeline_merge`` writes it and ``has_grant``/
``serve_has_grant`` read it. It is an incremental MERGE (manifest log,
touched-shard rewrites, retention/time travel), the Delta/Iceberg-shaped
path that survives 100 TB. Lookups read the key's rows of one shard
driver-side with Arrow, so serving launches no Spark job.

The package does not depend on Delta Lake; on a real deployment the
store is one ``MERGE INTO grants`` on a Delta/Iceberg table clustered by
user_id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_2_spark.streaming import sharded_store

GRANT_KEYS = ("user_id", "feature")

# Reference DEFAULT_EVENT_SUBSCRIBERS_MAP (services/notifications.py:3-6):
# notification name -> subscriber endpoints. A grant flip fans out once
# per subscriber; names absent from the map are dropped (the reference's
# ``if not subscribers: return`` early-out).
DEFAULT_SUBSCRIBERS: dict[str, tuple[str, ...]] = {
    "access_granted": ("https://api.example.com/event",),
    "access_revoked": ("https://api.example.com/event",),
}


def grant_changes(new: DataFrame, old: DataFrame | None) -> DataFrame:
    """Notification rows for grant flips (user_id, feature, notification).

    Default grant is True (services/user_feature.py:75-79), so a user's
    first-ever ``has_grant = False`` row is a revocation and an initial
    True row is NOT a grant notification — exactly the reference's flip
    detection at services/user_feature.py:32-44.
    """
    if old is None:
        changed = new.filter(~F.col("has_grant"))
    else:
        prev = old.select(
            "user_id", "feature", F.col("has_grant").alias("prev_grant")
        )
        changed = (
            new.join(prev, list(GRANT_KEYS), "left")
            .filter(F.col("has_grant") != F.coalesce(F.col("prev_grant"), F.lit(True)))
            .select("user_id", "feature", "has_grant")
        )
    return changed.select(
        "user_id",
        "feature",
        F.when(F.col("has_grant"), F.lit("access_granted"))
        .otherwise(F.lit("access_revoked"))
        .alias("notification"),
    )


def route_notifications(
    notifications: DataFrame,
    subscribers: dict[str, tuple[str, ...]] = DEFAULT_SUBSCRIBERS,
) -> DataFrame:
    """Fan each grant-change row out to its notification's subscribers
    (services/notifications.py:16-25): one lookup in a name->endpoints
    map literal, exploded to a row per (change, subscriber) — no join,
    and no Spark job to build. Unsubscribed names and empty endpoint
    lists yield no rows, mirroring ``send_notification``'s early
    return; the cast types the map even when ``subscribers`` is empty."""
    routes = F.create_map(
        *[F.lit(x) for name, subs in subscribers.items() for x in (name, list(subs))]
    ).cast("map<string,array<string>>")
    subscriber = F.explode(F.try_element_at(routes, F.col("notification")))
    return notifications.select(
        "user_id", "feature", "notification", subscriber.alias("subscriber")
    )


def ensure_notifications_log(
    path: str,
    subscribers: dict[str, tuple[str, ...]] | None = DEFAULT_SUBSCRIBERS,
) -> None:
    """Initialize an EMPTY notifications log at ``path`` if absent —
    one schema-bearing zero-row parquet file, written driver-side via
    pyarrow (no Spark job). Called at pipeline start so a run whose
    every micro-batch is empty (possible since the r11 empty-tail skip
    stopped appending zero-row frames) still leaves the same readable
    first-run layout the pre-skip pipeline created: external readers
    of the path see an empty dataset, never a missing directory
    (ADVICE r11)."""
    if os.path.isdir(path):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [
        pa.field("user_id", pa.int64()),
        pa.field("feature", pa.string()),
        pa.field("notification", pa.string()),
    ]
    if subscribers is not None:
        fields.append(pa.field("subscriber", pa.string()))
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({f.name: pa.array([], f.type) for f in fields}),
        os.path.join(path, "part-00000-init.parquet"),
    )


def append_notifications(
    notifications: DataFrame,
    path: str,
    subscribers: dict[str, tuple[str, ...]] | None = DEFAULT_SUBSCRIBERS,
) -> None:
    """Fan-out sink (stubbed-HTTP in the reference,
    services/notifications.py:16-25) -> append-only parquet log carrying
    one row per (grant change, subscriber); a real deployment points
    this at Kafka/webhooks via the same foreachBatch. ``subscribers=None``
    skips routing and logs the raw change rows."""
    if subscribers is not None:
        notifications = route_notifications(notifications, subscribers)
    notifications.write.mode("append").parquet(path)


def read_notifications(spark: SparkSession, path: str) -> DataFrame | None:
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)


def has_grant(
    spark: SparkSession,
    grants_path: str,
    user_id: int,
    feature: str,
    circuit_open: bool = False,
) -> bool:
    """Point lookup (A15, app.py:63-79) against the SHARDED grants store
    the streaming pipeline maintains: a dict lookup over the user's rows
    from ``sharded_store.point_lookup``, which hashes the key to one
    shard of the newest committed version and reads the key's rows
    driver-side with Arrow. Launches no Spark job; ``spark`` is accepted
    for callers that pass it. Open circuit => fail-open allow
    (services/user_feature.py:49-52); unknown user or feature => default
    True (services/user_feature.py:75-79)."""
    if circuit_open:
        return True
    rows = sharded_store.point_lookup(grants_path, "user_id", user_id)
    grants = {r["feature"]: r["has_grant"] for r in rows}
    return bool(grants.get(feature, True))


def latest_circuit_open(
    rates: DataFrame, key_value: str | None = None, key: str = "event_type"
) -> bool:
    """Current circuit state from a denial-rate table (the output of
    streaming/breaker.py's ``streaming_denial_rate``): the most recent
    window's verdict — the reference's per-feature ``_circuits`` dict as
    refreshed by its 15 s evaluation loop
    (services/user_feature.py:106-126). No rows yet => circuit closed."""
    if key_value is not None:
        rates = rates.filter(F.col(key) == key_value)
    row = (
        rates.orderBy(F.col("window_start").desc())
        .select("circuit_open")
        .limit(1)
        .collect()
    )
    return bool(row[0][0]) if row else False


def serve_has_grant(
    spark: SparkSession,
    grants_path: str,
    rates: DataFrame,
    user_id: int,
    feature: str,
    key_value: str | None = None,
) -> bool:
    """CLOSED breaker loop (services/user_feature.py:46-55): the live
    denial-rate stream's verdict feeds the serving decision —
    ``has_access = circuit_open OR grant`` — so a storm of denials
    fails the feature open exactly as the reference does."""
    return has_grant(
        spark,
        grants_path,
        user_id,
        feature,
        circuit_open=latest_circuit_open(rates, key_value),
    )
