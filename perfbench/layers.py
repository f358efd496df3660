"""Per-layer metrics of a traced run, from spans, the event log, the
streaming listener and the store directories on disk.

Times and counts are reported per unit of the workload (one catalog
pass, one serving round), over the traced units only.
"""

from __future__ import annotations

import bisect
import os
import statistics

from eventlog import EventLog
from spans import Span, self_time_by_layer, union_len

# name -> (unit, better); the order is the order printed.
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "queries.construct_s": ("s", "lower"),
    "queries.construct_jobs": ("count", "lower"),
    "queries.plan_s": ("s", "lower"),
    "queries.exec_s": ("s", "lower"),
    "queries.exec_jobs": ("count", "lower"),
    "sources.self_s": ("s", "lower"),
    "sources.scan_bytes": ("B", "lower"),
    "operators.self_s": ("s", "lower"),
    "operators.jobs": ("count", "lower"),
    "plans.self_s": ("s", "lower"),
    "plans.jobs": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.rows_in": ("count", "higher"),
    "streaming.trigger_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.state_commit_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.log_commit_s": ("s", "lower"),
    "sharded_store.upsert_s": ("s", "lower"),
    "sharded_store.upsert_calls": ("count", "lower"),
    "sharded_store.read_store_s": ("s", "lower"),
    "sharded_store.bytes_written": ("B", "lower"),
    "sharded_store.files_written": ("count", "lower"),
    "sharded_store.write_amp": ("ratio", "lower"),
    "sharded_store.write_amp_base_bytes": ("B", "lower"),
    "grants_store.has_grant_s": ("s", "lower"),
    "grants_store.lookup_jobs": ("count", "lower"),
    "exec.task_s": ("s", "lower"),
    "exec.cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.python_task_s": ("s", "lower"),
    "exec.shuffle_read_bytes": ("B", "lower"),
    "exec.shuffle_write_bytes": ("B", "lower"),
    "exec.spill_bytes": ("B", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "host.load1_before": ("load", "lower"),
    "host.load1_after": ("load", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.coverage_frac": ("ratio", "higher"),
}


class SpanIndex:
    """Closed spans sorted by start, for attributing a point in time to
    the innermost span that covers it."""

    def __init__(self, spans: list[Span]) -> None:
        self.spans = spans
        self.closed = sorted((s for s in spans if s.end > 0), key=lambda s: s.start)
        self.starts = [s.start for s in self.closed]
        self.max_dur = max((s.dur for s in self.closed), default=0.0)

    def innermost(self, t: float) -> Span | None:
        """Most deeply nested span covering ``t`` (latest start wins):
        jobs started from the streaming thread carry no caller job
        group, so attribution is by time window, not by group."""
        i = bisect.bisect_right(self.starts, t) - 1
        while i >= 0 and self.closed[i].start >= t - self.max_dur:
            s = self.closed[i]
            if s.end >= t:
                return s
            i -= 1
        return None


def _dir_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
    return n_bytes, n_files


def store_write_hook(written: dict[str, float]):
    """Post-call hook for ``sharded_store.upsert``: list the version
    directory the call just committed and add its size to ``written``."""

    def hook(span, args, kwargs) -> None:
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        try:
            with open(os.path.join(path, "_LATEST")) as f:
                version = int(f.read().strip())
        except (OSError, ValueError, TypeError):
            return
        b, n = _dir_bytes_files(os.path.join(path, "data", f"v{version}"))
        written["bytes"] += b
        written["files"] += n

    return hook


def compute(
    spans: list[Span],
    log: EventLog | None,
    progress: list[dict],
    traced_units: list[tuple[float, float]],
    n_units: float,
    store_written: dict[str, float],
    input_bytes: int,
) -> dict[str, float]:
    """Layer metrics over the traced units. ``progress`` holds the
    streaming progress reports of queries started in traced units."""
    n_units = n_units or 1.0
    idx = SpanIndex(spans)
    out: dict[str, float] = {}

    def in_units(t: float) -> bool:
        return any(a <= t <= b for a, b in traced_units)

    unit_spans = [s for s in spans if s.end > 0 and in_units(s.start)]
    self_s = self_time_by_layer(unit_spans)
    for layer in ("sources", "operators", "plans"):
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0) / n_units

    def total(name: str) -> float:
        return sum(s.dur for s in unit_spans if s.name == name)

    out["queries.construct_s"] = total("queries.construct") / n_units
    out["queries.plan_s"] = total("queries.plan") / n_units
    out["queries.exec_s"] = total("queries.exec") / n_units
    upserts = [s for s in unit_spans if s.name == "streaming.sharded_store.upsert"]
    out["sharded_store.upsert_s"] = sum(s.dur for s in upserts) / n_units
    out["sharded_store.upsert_calls"] = len(upserts) / n_units
    out["sharded_store.read_store_s"] = total("streaming.sharded_store.read_store") / n_units
    out["sharded_store.bytes_written"] = store_written["bytes"] / n_units
    out["sharded_store.files_written"] = store_written["files"] / n_units
    out["sharded_store.write_amp_base_bytes"] = input_bytes / n_units
    out["sharded_store.write_amp"] = store_written["bytes"] / input_bytes if input_bytes else 0.0
    lookups = [s.dur for s in unit_spans if s.name == "streaming.grants_store.has_grant"]
    out["grants_store.has_grant_s"] = statistics.median(lookups) if lookups else 0.0

    # Spark jobs, attributed to the innermost span covering their start.
    jobs_by: dict[str, int] = {}
    exec_totals = dict.fromkeys(
        ("task_s", "cpu_s", "gc_s", "python_task_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "stages", "tasks"), 0.0
    )
    scan_bytes = 0
    seen_stages: set[int] = set()
    for _, submitted, stage_ids in (log.jobs if log else []):
        if not in_units(submitted):
            continue
        span = idx.innermost(submitted)
        if span is not None:
            jobs_by[span.layer] = jobs_by.get(span.layer, 0) + 1
            chain = span
            while chain is not None:
                jobs_by["@" + chain.name] = jobs_by.get("@" + chain.name, 0) + 1
                chain = spans[chain.parent] if chain.parent is not None else None
        for sid in stage_ids:  # a stage shared by jobs counts once
            st = log.stages.get(sid)
            if sid in seen_stages or st is None or st.tasks == 0:
                continue
            seen_stages.add(sid)
            exec_totals["task_s"] += st.run_s
            exec_totals["cpu_s"] += st.cpu_s
            exec_totals["gc_s"] += st.gc_s
            exec_totals["python_task_s"] += st.run_s if st.python else 0.0
            exec_totals["shuffle_read_bytes"] += st.shuffle_read_bytes
            exec_totals["shuffle_write_bytes"] += st.shuffle_write_bytes
            exec_totals["spill_bytes"] += st.spill_bytes
            exec_totals["stages"] += 1
            exec_totals["tasks"] += st.tasks
            scan_bytes += st.input_bytes
    lookup_jobs = jobs_by.get("@streaming.grants_store.has_grant", 0)
    out["queries.construct_jobs"] = jobs_by.get("@queries.construct", 0) / n_units
    out["queries.exec_jobs"] = jobs_by.get("@queries.exec", 0) / n_units
    out["operators.jobs"] = jobs_by.get("operators", 0) / n_units
    out["plans.jobs"] = jobs_by.get("plans", 0) / n_units
    out["grants_store.lookup_jobs"] = lookup_jobs / len(lookups) if lookups else 0.0
    out["sources.scan_bytes"] = scan_bytes / n_units
    for k, v in exec_totals.items():
        out[f"exec.{k}"] = v / n_units

    data = [p for p in progress if p["rows"] > 0]
    out["streaming.batches"] = len(data) / n_units
    out["streaming.rows_in"] = sum(p["rows"] for p in data) / n_units
    out["streaming.trigger_s"] = sum(p["trigger_ms"] for p in progress) / 1e3 / n_units
    out["streaming.add_batch_s"] = sum(p["add_batch_ms"] for p in progress) / 1e3 / n_units
    out["streaming.state_commit_s"] = sum(p["commit_ms"] for p in progress) / 1e3 / n_units
    out["streaming.log_commit_s"] = sum(p["log_ms"] for p in progress) / 1e3 / n_units
    out["streaming.state_rows"] = max((p["state_rows"] for p in progress), default=0)

    # Share of the traced wall time the top-level spans account for.
    wall = sum(b - a for a, b in traced_units)
    top = [(s.start, s.end) for s in unit_spans if s.parent is None]
    out["trace.coverage_frac"] = union_len(top) / wall if wall else 0.0
    return out
