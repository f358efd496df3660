"""Structured Streaming path — the reference's true shape (SURVEY.md §7 Phase 3).

The reference is an event-driven service: HTTP ingest -> asyncio queue ->
consumer tasks updating per-user state -> rule/feature evaluation ->
grant upserts + notifications, plus a 15-second circuit-breaker loop
(/root/reference/app_builder.py:134-187). Here that whole lifecycle is
three Structured Streaming constructs:

  * ``read_event_stream``  — file-source readStream (the queue, A1/A3)
  * ``run_grants_pipeline_merge`` — bounded uuid dedup feeding a
    foreachBatch sink that MERGEs per-user aggregate deltas into a
    sharded state store, upserts the grants store and emits
    grant-change notifications (A5-A14, A18)
  * ``streaming_denial_rate``  — watermarked sliding-window denial-rate /
    circuit-breaker aggregation (A16/A17)
"""

from feature_store_2_spark.streaming.pipeline import (
    read_event_stream,
    run_grants_pipeline_merge,
)
from feature_store_2_spark.streaming.breaker import (
    streaming_denial_rate,
    streaming_denial_rate_exact,
)
from feature_store_2_spark.streaming.grants_store import (
    has_grant,
    latest_circuit_open,
    read_notifications,
    route_notifications,
    serve_has_grant,
)
from feature_store_2_spark.streaming.sharded_store import snapshot as grants_snapshot

__all__ = [
    "read_event_stream",
    "run_grants_pipeline_merge",
    "streaming_denial_rate",
    "streaming_denial_rate_exact",
    "read_notifications",
    "route_notifications",
    "has_grant",
    "latest_circuit_open",
    "serve_has_grant",
    "grants_snapshot",
]
