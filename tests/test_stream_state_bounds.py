"""Suite-wide streaming state observability (round-4 item): run EVERY
stream_* catalog entry under a progress listener and assert keyed-state
sizes stay bounded. A retention regression — a watermark dropped from a
stateful op, dedup state never evicting, join state accumulating — shows
up here as numRowsTotal blowing past the input-row bound, per round,
with no per-entry instrumentation.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_store_2_spark.queries import CATALOG
from feature_store_2_spark.streaming.introspection import capture_progress

STREAM_ENTRIES = [q for q in CATALOG if q.name.startswith("stream")]


def test_all_stream_entries_report_progress_and_bounded_state(spark, sf_dir):
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    n_events = events.count()
    # State may legitimately reach per-(key, window) granularity (a
    # sliding window holds each event in ~2 windows; interval-join state
    # retains both sides within the watermark) but must NEVER exceed a
    # small multiple of rows ingested in the unexpired horizon. At
    # availableNow over one staged source, 2x input rows + slack is that
    # ceiling; unbounded retention across the multibatch entries would
    # multiply past it.
    ceiling = 2 * n_events + 64

    per_entry: dict[str, dict[str, int]] = {}
    for q in STREAM_ENTRIES:
        with capture_progress(spark) as cap:
            q.fn(spark, sf_dir)
        assert cap.progress, f"{q.name}: no streaming progress captured"
        per_entry[q.name] = cap.state_rows()

    stateful = {k: v for k, v in per_entry.items() if v}
    # The suite's stateful core must actually surface state metrics —
    # dedup, keyed aggregation, session windows, stream-stream join,
    # sliding-window breaker all carry state stores.
    assert len(stateful) >= 6, sorted(per_entry)

    offenders = {
        entry: rows
        for entry, rows in stateful.items()
        for _q, n in rows.items()
        if n > ceiling
    }
    assert not offenders, (ceiling, offenders)


@pytest.mark.parametrize(
    "entry", ["stream_feature_grants", "stream_dedup_events"]
)
def test_keyed_state_tracks_keys_not_rows(spark, sf_dir, entry):
    """Tighter per-semantics bound: uuid-dedup state is one row per
    distinct event uuid (= n_events, all unique in testdata) and may not
    scale with replayed/duplicate rows. The grants pipeline's per-user
    accumulators live in its sharded aggregate store, not in streaming
    state, so both entries carry exactly this one stateful operator."""
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    n_events = events.count()
    q = next(x for x in CATALOG if x.name == entry)
    with capture_progress(spark) as cap:
        q.fn(spark, sf_dir)
    rows = cap.state_rows()
    assert rows, f"{entry}: no state metrics"
    assert len(rows) == 1, rows
    assert max(rows.values()) <= n_events + 64, rows
