"""The benchmark's workloads.

Each workload is a closed loop with one client thread. ``start`` builds
the seeded inputs and a warm session (the set-up, timed as ``setup_s``),
``measure`` repeats the workload's unit until ``--seconds`` have passed
and ``min_reports`` reporting units are done, ``check`` verifies every output outside the timed region, and ``report``
turns the samples into metrics.

End-to-end metrics carry the same names on every workload; what the
operation and the result are differs per workload (see README.md):

=================  ======================  ==========================
metric             catalog_sf0.01          grants_serve
=================  ======================  ==========================
result_s           sum of entry medians    median freshness
throughput_per_s   entries run per second  events + lookups / s
latency_p50_ms     median entry median     median has_grant lookup
=================  ======================  ==========================
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import layers
from spans import Tracer

# The catalog workload's entries, pinned here so an edit to any other
# list cannot change the workload. A renamed or removed entry fails the
# run at set-up.
CATALOG_ENTRIES = (
    "q1_pricing_summary",
    "window_running_spend",
    "fs_purchase_allowlist",
    "udf_model_score_linear",
    "doc_token_counts",
    "join_bucketed_fact_fact",
)

SERVE_EVENTS_PER_ROUND = 8
UNIT_TIMEOUT_S = 60.0  # one unit normally takes under 10 s
FRESH_USER_BASE = 1 << 32  # users that appear only in landed files
UNKNOWN_USER_BASE = 1 << 40  # users that never appear in any input
FEATURES = ("purchase", "message")


@dataclass
class Context:
    root: str
    work: str
    seed: int
    sf: float
    seconds: float
    trace: bool
    eventlog_dir: str
    t_process_start: float  # epoch seconds; set-up is timed from here


class ProgressListener:
    """Collects streaming progress reports, tagged with the benchmark
    unit during which their query started."""

    def __init__(self, workload: "Workload") -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.run_unit: dict[str, int | None] = {}
        self.reports: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (Spark API)
                outer.run_unit[str(event.runId)] = workload.unit

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                d = p.durationMs
                outer.reports.append(
                    {
                        "unit": outer.run_unit.get(str(p.runId)),
                        "rows": p.numInputRows,
                        "trigger_ms": d.get("triggerExecution", 0),
                        "add_batch_ms": d.get("addBatch", 0),
                        "log_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                        "commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.listener = _L()

    def settle(self, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
        """Wait until no report has arrived for ``quiet_s``: the
        listener bus delivers progress after the query returns."""
        deadline = time.time() + limit_s
        n = -1
        while n != len(self.reports) and time.time() < deadline:
            n = len(self.reports)
            time.sleep(quiet_s)


class Workload:
    """Shared set-up, timing loop and reporting."""

    units_per_report = 1  # layer metrics are per this many units
    min_reports = 1  # reporting units a run makes however long they take

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.tracer = Tracer()
        self.unit: int | None = None
        self.units: list[tuple[float, float, bool]] = []  # (start, end, traced)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.store_written = {"bytes": 0.0, "files": 0.0}
        self.input_bytes = 0
        self.data = os.path.join(ctx.work, "data")
        os.makedirs(self.data)

    # -- set-up -------------------------------------------------------
    def start(self):
        import feature_store_2_spark  # noqa: F401 — fails loudly without the engine
        from feature_store_2_spark.queries import CATALOG
        from feature_store_2_spark.session import get_spark

        self.catalog = {q.name: q for q in CATALOG}
        if self.ctx.trace:
            self.tracer.hooks["streaming.sharded_store.upsert"] = layers.store_write_hook(
                self.store_written
            )
            self.tracer.install()
        t0 = time.time()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.time() - t0
        if self.ctx.trace:
            self.listener = ProgressListener(self)
            self.spark.streams.addListener(self.listener.listener)
        self.make_inputs()
        t1 = time.time()
        self.warm_up()
        self.warmup_s = time.time() - t1
        self.t_setup_end = time.time()
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def make_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def run_unit(self, traced: bool) -> None:
        raise NotImplementedError

    def is_traced(self, i: int) -> bool:
        """Traced runs trace every other unit; the rest give the
        untraced times ``trace.overhead_frac`` compares against."""
        return i % 2 == 0

    # -- timing loop --------------------------------------------------
    def measure(self) -> None:
        t_end = time.time() + self.ctx.seconds
        i = 0
        # Stop only after whole reporting units (a full catalog pass), so
        # every entry has the same number of samples.
        # A traced run needs an untraced unit too, for overhead_frac.
        min_reports = max(self.min_reports, 2) if self.ctx.trace else self.min_reports
        min_units = min_reports * self.units_per_report
        while i < min_units or time.time() < t_end or i % self.units_per_report:
            traced = self.ctx.trace and self.is_traced(i)
            self.unit = i
            self.tracer.op = i
            self.tracer.enabled = traced
            a = time.time()
            # A unit still running after UNIT_TIMEOUT_S has its Spark
            # jobs cancelled; the unit then fails and counts as an error.
            watchdog = threading.Timer(UNIT_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
            watchdog.start()
            try:
                self.run_unit(traced)
            finally:
                watchdog.cancel()
            self.units.append((a, time.time(), traced))
            self.tracer.enabled = False
            i += 1
        self.unit = None
        self.loop_wall_s = self.units[-1][1] - self.units[0][0]
        if self.ctx.trace:
            self.listener.settle()

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        self.problems.append(f"{what}: {msg}"[:400])

    def check(self) -> None:
        raise NotImplementedError

    # -- reporting ----------------------------------------------------
    def e2e(self) -> dict[str, float]:
        """result_s, throughput_per_s and latency_p50_ms."""
        raise NotImplementedError

    def report(self, peak_rss_mb: float, load_before: float, load_after: float) -> dict:
        if self.ctx.trace:
            metrics = self.layer_metrics(load_before, load_after)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": self.t_setup_end - self.ctx.t_process_start,
                "peak_rss_mb": peak_rss_mb,
                **self.e2e(),
            }
            units = E2E_UNITS
        for p in self.problems:
            print("problem:", p, file=sys.stderr)
        print("samples:", self.samples_summary(), file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k][0]} for k in units},
        }

    def layer_metrics(self, load_before: float, load_after: float) -> dict[str, float]:
        import eventlog

        traced = [(a, b) for a, b, t in self.units if t]
        traced_ids = {i for i, (_, _, t) in enumerate(self.units) if t}
        progress = [p for p in self.listener.reports if p["unit"] in traced_ids]
        out = layers.compute(
            self.tracer.spans,
            eventlog.parse(self.ctx.eventlog_dir),
            progress,
            traced,
            len(traced) / self.units_per_report,
            self.store_written,
            self.input_bytes * len(traced),
        )
        out.update({n: 0.0 for n in PER_LAYER if n.startswith("catalog.")})
        out.update(self.extra_layer_metrics())
        out["session.start_s"] = self.session_start_s
        out["session.warmup_s"] = self.warmup_s
        out["host.load1_before"] = load_before
        out["host.load1_after"] = load_after
        out["trace.overhead_frac"] = self.overhead_frac()
        return out

    def extra_layer_metrics(self) -> dict[str, float]:
        return {}

    def samples_summary(self) -> str:
        """The raw samples behind ``result_s``, for reading a run."""
        raise NotImplementedError

    def overhead_frac(self) -> float:
        """Traced versus untraced unit time, from the interleaved units."""
        on = [b - a for a, b, t in self.units if t]
        off = [b - a for a, b, t in self.units if not t]
        if not on or not off:
            return 0.0
        return statistics.median(on) / statistics.median(off) - 1.0


E2E_UNITS = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "result_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
}
PER_LAYER = {
    **layers.PER_LAYER,
    **{f"catalog.{n}_s": ("s", "lower") for n in CATALOG_ENTRIES},
}


# ---------------------------------------------------------------------------
# catalog: the pinned entries, build + noop execute, cache cleared per entry
# ---------------------------------------------------------------------------


class CatalogWorkload(Workload):
    units_per_report = len(CATALOG_ENTRIES)  # one pass
    # The first timed pass still runs slower than later ones (the JIT is
    # not done), so a run that stopped after it on a busy host would
    # read high; two passes keep every run's median alike.
    min_reports = 2

    def make_inputs(self) -> None:
        missing = [n for n in CATALOG_ENTRIES if n not in self.catalog]
        if missing:
            raise KeyError(f"catalog entries not found (renamed or removed?): {missing}")
        datagen.generate(self.data, self.ctx.sf, self.ctx.seed)
        self.samples: dict[str, list[float]] = {n: [] for n in CATALOG_ENTRIES}
        self.traced_samples: dict[str, list[float]] = {n: [] for n in CATALOG_ENTRIES}
        self.untraced_samples: dict[str, list[float]] = {n: [] for n in CATALOG_ENTRIES}

    def _run_entry(self, name: str, traced: bool) -> float:
        spark, tr = self.spark, self.tracer
        fn = self.catalog[name].fn
        with tr.span("bench.clear_cache", "bench"):
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tr.span("queries.construct", "queries"):
            df = fn(spark, self.data)
        if traced:
            with tr.span("queries.plan", "queries"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("queries.exec", "queries"):
            df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        # One untimed pass pays the per-process staging caches (bucketed
        # tables, staged event streams) and most of the JIT. It collects
        # each entry's rows, which ``check`` compares with the oracle.
        self.outputs = {}
        for name in CATALOG_ENTRIES:
            self.spark.catalog.clearCache()
            try:
                self.outputs[name] = self.catalog[name].fn(self.spark, self.data).toPandas()
            except Exception as e:  # noqa: BLE001 — reported as a failed check
                self.outputs[name] = e

    def is_traced(self, i: int) -> bool:
        # Alternate per pass too, so every entry gets traced and
        # untraced samples.
        n = len(CATALOG_ENTRIES)
        return (i % n + i // n) % 2 == 0

    def run_unit(self, traced: bool) -> None:
        name = CATALOG_ENTRIES[self.unit % len(CATALOG_ENTRIES)]
        self.attempted += 1
        try:
            dt = self._run_entry(name, traced)
        except Exception as e:  # noqa: BLE001 — one entry costs only its sample
            self.fail(name, e)
            return
        self.samples[name].append(dt)
        (self.traced_samples if traced else self.untraced_samples)[name].append(dt)

    def check(self) -> None:
        sys.path.insert(0, os.path.join(self.ctx.root, "tools"))
        from check_oracle import compare, duck_connection

        con = duck_connection(self.data)
        try:
            for name, got in self.outputs.items():
                self.attempted += 1
                oracle = self.catalog[name].oracle
                try:
                    if isinstance(got, Exception):
                        raise got
                    if oracle is None:  # rows-only entry: producing rows is the check
                        continue
                    want = con.execute(oracle).fetchdf()
                except Exception as e:  # noqa: BLE001
                    self.fail(f"check {name}", e)
                    continue
                problems = compare(name, got, want)
                if problems:
                    self.fail(f"check {name}", "; ".join(problems))
        finally:
            con.close()

    def e2e(self) -> dict[str, float]:
        # The latency median is over the entries' medians, so each entry
        # counts once.
        meds = [statistics.median(v) for v in self.samples.values() if v]
        n_runs = sum(len(v) for v in self.samples.values())
        return {
            "result_s": sum(meds),
            "throughput_per_s": n_runs / self.loop_wall_s,
            "latency_p50_ms": statistics.median(meds) * 1e3,
        }

    def samples_summary(self) -> str:
        return " ".join(f"{n}={[round(x, 3) for x in v]}" for n, v in self.samples.items())

    def extra_layer_metrics(self) -> dict[str, float]:
        return {
            f"catalog.{n}_s": statistics.median(v) if v else 0.0
            for n, v in self.traced_samples.items()
        }

    def overhead_frac(self) -> float:
        # Per entry, over the entries with both kinds of sample.
        both = [
            n for n in CATALOG_ENTRIES if self.traced_samples[n] and self.untraced_samples[n]
        ]
        if not both:
            return 0.0
        on = sum(statistics.median(self.traced_samples[n]) for n in both)
        off = sum(statistics.median(self.untraced_samples[n]) for n in both)
        return on / off - 1.0


# ---------------------------------------------------------------------------
# grants_serve: helpers
# ---------------------------------------------------------------------------


def _expected_grants(oracle_sql: str, event_files: list[str]) -> dict[tuple[int, str], bool]:
    import duckdb

    con = duckdb.connect()
    try:
        files = ", ".join(f"'{f}'" for f in event_files)
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
        rows = con.execute(oracle_sql).fetchall()
    finally:
        con.close()
    return {(int(u), f): bool(g) for u, f, g in rows}


def _snapshot_grants(spark, grants_path: str) -> dict[tuple[int, str], bool]:
    from feature_store_2_spark.streaming import grants_snapshot

    snap = grants_snapshot(spark, grants_path)
    if snap is None:
        return {}
    return {
        (int(r["user_id"]), r["feature"]): bool(r["has_grant"])
        for r in snap.select("user_id", "feature", "has_grant").collect()
    }


def _stage_file(table: pa.Table, out_dir: str, mtime: int) -> str:
    """Land ``table`` as one parquet file with modification time
    ``mtime`` (the file source replays a backlog in mtime order), written
    aside and renamed in so a reader never sees it half-written."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"part-{mtime:012d}.parquet")
    tmp = os.path.join(os.path.dirname(out_dir), f".landing-{mtime}.parquet")
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)
    return path


def _pipeline(spark, root: str, events_dir: str) -> None:
    from feature_store_2_spark.streaming import run_grants_pipeline_merge

    run_grants_pipeline_merge(
        spark,
        events_path=events_dir,
        grants_path=os.path.join(root, "grants"),
        notifications_path=os.path.join(root, "notifications"),
        checkpoint_path=os.path.join(root, "checkpoint"),
    )


# ---------------------------------------------------------------------------
# grants_serve: rounds of (land B events, catch up, B lookups)
# ---------------------------------------------------------------------------


class ServeWorkload(Workload):
    def make_inputs(self) -> None:
        self.rng = np.random.default_rng(self.ctx.seed)
        n_events = int(1_000_000 * self.ctx.sf)
        self.n_users = max(int(15_000 * self.ctx.sf), 15)
        base = datagen.event_rows(self.rng, n_events, self.n_users, 0, 0, datagen.EVENTS_SPAN_US)
        self.store = os.path.join(self.ctx.work, "store")
        self.events_dir = os.path.join(self.data, "events")
        self.files = [_stage_file(base, self.events_dir, 1_600_000_000)]
        self.next_event_id = n_events
        self.next_ts_us = datagen.EVENTS_SPAN_US
        self.landed: list[str] = []  # files landed by rounds, in order
        self.lookups: list[tuple[int, int, str, bool]] = []  # (round, user, feature, answer)
        self.freshness_s: list[float] = []
        self.latencies_ms: list[float] = []
        self.round_events = 0
        self.prev_user = 0

    def warm_up(self) -> None:
        # Building the store is the first streaming query (pays its JIT);
        # a few unrecorded lookups warm the lookup path.
        from feature_store_2_spark.streaming import has_grant

        _pipeline(self.spark, self.store, self.events_dir)
        grants = os.path.join(self.store, "grants")
        self.setup_grants = _snapshot_grants(self.spark, grants)
        for user in (0, UNKNOWN_USER_BASE, 1):
            has_grant(self.spark, grants, user, "message")

    def _round_file(self, fresh_user: int) -> pa.Table:
        """B events: 3 ``error`` events for a never-seen user (its
        ``message`` grant must flip to False: total_error_flags < 3
        fails), the rest random events for corpus users."""
        b = SERVE_EVENTS_PER_ROUND
        span = 1_000_000  # 1 s of event time per round, after the corpus
        t = datagen.event_rows(
            self.rng, b - 3, self.n_users, self.next_event_id + 3, self.next_ts_us,
            self.next_ts_us + span,
        )
        base_us = t.column("ts")[0].value
        flips = pa.table(
            {
                "event_id": pa.array(np.arange(self.next_event_id, self.next_event_id + 3)),
                "ts": pa.array([base_us] * 3, pa.timestamp("us")),
                "user_id": pa.array([fresh_user] * 3, pa.int64()),
                "event_type": pa.array(["error"] * 3),
                "value": pa.array([1.0] * 3),
                "props": pa.array(['{"k": 0}'] * 3),
            },
            schema=datagen.EVENT_SCHEMA,
        )
        self.next_event_id += b
        self.next_ts_us += span
        return pa.concat_tables([flips, t])

    def _lookup(self, rnd: int, user: int, feature: str) -> bool:
        from feature_store_2_spark.streaming import has_grant

        self.attempted += 1
        t0 = time.perf_counter()
        ans = has_grant(self.spark, os.path.join(self.store, "grants"), user, feature)
        self.latencies_ms.append((time.perf_counter() - t0) * 1e3)
        self.lookups.append((rnd, user, feature, ans))
        return ans

    def _next_user(self) -> int:
        r = self.rng.random()
        if r < 0.25:
            return self.prev_user
        if r < 0.625:
            return int(self.rng.integers(0, self.n_users))
        return UNKNOWN_USER_BASE + int(self.rng.integers(0, 1 << 20))

    def run_unit(self, traced: bool) -> None:
        rnd = len(self.landed)
        fresh = FRESH_USER_BASE + rnd
        table = self._round_file(fresh)
        t_land = time.perf_counter()
        with self.tracer.span("bench.land", "bench"):
            self.landed.append(_stage_file(table, self.events_dir, 1_600_000_001 + rnd))
        self.attempted += 1
        try:
            with self.tracer.span("bench.catch_up", "bench"):
                _pipeline(self.spark, self.store, self.events_dir)
            with self.tracer.span("bench.lookup", "bench"):
                flipped = not self._lookup(rnd, fresh, "message")
            self.freshness_s.append(time.perf_counter() - t_land)
            if not flipped:
                self.fail(f"round {rnd}", f"user {fresh} message grant did not flip")
            self.prev_user = fresh
            for _ in range(SERVE_EVENTS_PER_ROUND - 1):
                user = self._next_user()
                feature = FEATURES[int(self.rng.integers(0, 2))]
                with self.tracer.span("bench.lookup", "bench"):
                    self._lookup(rnd, user, feature)
                self.prev_user = user
        except Exception as e:  # noqa: BLE001
            self.fail(f"round {rnd}", e)
        self.round_events += table.num_rows
        self.input_bytes = os.path.getsize(self.landed[-1])

    def check(self) -> None:
        """Every lookup against the expected grant: the batch grants SQL
        over the corpus plus the files landed up to that round (the
        set-up snapshot plus the injected flips); unknown users default
        to True. The set-up snapshot is checked against the same SQL."""
        # The batch grants SQL the streaming entries are checked against.
        oracle = self.catalog["stream_grants_multibatch"].oracle
        self.attempted += 1
        if self.setup_grants != _expected_grants(oracle, self.files):
            self.fail("set-up snapshot", "differs from the batch grants SQL")
        wrong = check_lookups(
            self.lookups,
            lambda rnd: _expected_grants(oracle, self.files + self.landed[: rnd + 1]),
        )
        if wrong:
            self.fail("lookups", f"{wrong} of {len(self.lookups)} answers differ")
            self.failed += wrong - 1

    def samples_summary(self) -> str:
        return f"freshness_s={[round(x, 3) for x in self.freshness_s]}"

    def e2e(self) -> dict[str, float]:
        n_lookups = len(self.latencies_ms)
        return {
            "result_s": statistics.median(self.freshness_s),
            "throughput_per_s": (self.round_events + n_lookups) / self.loop_wall_s,
            "latency_p50_ms": statistics.median(self.latencies_ms),
        }


def check_lookups(lookups, expected_at) -> int:
    """Number of lookups whose answer differs from ``expected_at(round)``
    (a dict of (user, feature) -> grant; absent means default True)."""
    wrong = 0
    cache: dict[int, dict] = {}
    for rnd, user, feature, ans in lookups:
        if rnd not in cache:
            cache[rnd] = expected_at(rnd)
        if cache[rnd].get((user, feature), True) != ans:
            wrong += 1
    return wrong


@dataclass(frozen=True)
class Spec:
    cls: type
    sf: float


WORKLOADS = {
    "catalog_sf0.01": Spec(CatalogWorkload, 0.01),
    "grants_serve": Spec(ServeWorkload, 0.01),
}
