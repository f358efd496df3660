"""Streaming introspection — the ``GET /queue-size`` analog (A19).

The reference exposes its queue depth over HTTP
(/root/reference/app.py:47-60). A Structured Streaming pipeline's
equivalents live on StreamingQuery progress: rows behind the source
(backlog), input/processed rates, batch durations, and state-store size.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Any

from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryListener


def query_metrics(query: StreamingQuery) -> dict[str, Any]:
    """Flatten the latest progress into the reference's health view."""
    p = query.lastProgress or {}
    sources = p.get("sources") or [{}]
    state = (p.get("stateOperators") or [{}])[0]
    return {
        "query_id": str(query.id),
        "is_active": query.isActive,
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),          # ~ queue intake
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "processed_rows_per_second": p.get("processedRowsPerSecond"),
        "batch_duration_ms": p.get("batchDuration"),
        "source_description": sources[0].get("description"),
        "state_rows": state.get("numRowsTotal"),          # keyed-state size
        "state_memory_bytes": state.get("memoryUsedBytes"),
    }


class StateMetricsListener(StreamingQueryListener):
    """Session-wide progress recorder: every micro-batch's progress (one
    JSON blob per batch, every query on the session) accumulates in
    ``self.progress``. This is the per-round state-size observability
    hook — a state-retention regression (e.g. a watermark dropped from a
    stateful op) shows up as numRowsTotal growing past its key-count
    bound, visible here without instrumenting any individual entry."""

    def __init__(self) -> None:
        self.progress: list[dict[str, Any]] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def state_rows(self) -> dict[str, int]:
        """Max keyed-state rows observed per stateful OPERATOR, keyed
        ``<query-name>#op<i>`` (unnamed queries key by id) — a pipeline
        with two chained stateful operators reports two entries, each
        the number that must stay bounded by its own key space, never
        grow with total rows ingested."""
        out: dict[str, int] = {}
        for p in self.progress:
            qkey = p.get("name") or p.get("id")
            for i, op in enumerate(p.get("stateOperators") or []):
                n = op.get("numRowsTotal")
                if n is not None:
                    key = f"{qkey}#op{i}"
                    out[key] = max(out.get(key, 0), int(n))
        return out


@contextmanager
def capture_progress(spark, settle_secs: float = 5.0, quiet_secs: float = 0.5):
    """Attach a StateMetricsListener for the duration of a block that
    runs streaming queries; detach afterwards. Listener delivery is
    asynchronous, so on exit we poll until the progress list is
    QUIESCENT — no new events for ``quiet_secs`` after at least one has
    landed — bounded by ``settle_secs`` overall. Polling only until the
    first event (the previous behavior) dropped progress for later
    batches of multi-batch / multi-query blocks, under-reporting
    state_rows() and making bound assertions flaky (r4 advisor
    finding)."""
    listener = StateMetricsListener()
    spark.streams.addListener(listener)
    try:
        yield listener
        deadline = time.monotonic() + settle_secs
        last_n = -1
        quiet_since = time.monotonic()
        while time.monotonic() < deadline:
            n = len(listener.progress)
            if n != last_n:
                last_n = n
                quiet_since = time.monotonic()
            elif n > 0 and time.monotonic() - quiet_since >= quiet_secs:
                break
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
