"""Plan audit: dump formatted physical plans for the headline queries and
flag anti-patterns a 100 TB run can't afford.

Checks per plan:
  * parquet scans carry PushedFilters / pruned ReadSchema when the query
    filters/projects (pushdown reached the source)
  * small dims join via BroadcastHashJoin (no shuffle of the fact side)
  * no CartesianProduct unless the operator is intentionally pairwise
  * Python row UDFs (BatchEvalPython) never appear — Arrow/builtin only
  * no Window with an empty partition spec (a global-ordered window
    funnels the whole input through ONE task — the doc_pack_token_budget
    r3 lesson) unless the entry is on the documented allowlist

Usage: python tools/explain_audit.py [query ...]
       python tools/explain_audit.py --all      # full catalog, not just AUDIT
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_store_2_spark.queries import CATALOG
from feature_store_2_spark.session import get_spark

# Queries where a cartesian/BNLJ pair join is the intended algorithm.
PAIRWISE_OK = {"dedup_embedding_cosine", "dedup_simhash_pairs", "emb_cosine_topk",
               # MRL stage-1 prefix scoring is the brute-force shape by
               # design (the win is 4x-cheaper dots / prefix-only I/O,
               # not candidate bucketing) — query set broadcast as in
               # emb_cosine_topk.
               "emb_matryoshka_rerank",
               # ground-truth side broadcasts the 10% query SAMPLE
               # against the corpus (the emb_cosine_topk shape) — the
               # sampled-audit recipe, not an accidental cartesian; the
               # ANN side under audit is the banded equi-join.
               "eval_ann_recall_at_k",
               # (emb_lsh_ann_topk left this list in r9: the adaptive
               # promotion made it a banded equi-join like its six
               # siblings — broadcast hash, never BNLJ.)
               "join_cross_region_nation", "join_range_event_pairs",
               # 1-row broadcast scalar subqueries (threshold / n_docs /
               # global max / total): the BNLJ build side is a single
               # aggregate row, which is the collect-free way to apply a
               # global scalar at any scale.
               "q22_idle_customers", "doc_tfidf_top_terms",
               "q11_important_parts",
               "q15_top_supplier", "agg_heavy_hitters",
               "rolling_7d_active_users", "hist_equidepth_price",
               "anomaly_daily_event_volume",
               # broadcast k x dim centroid tables (IVF cells / k-means
               # assignment): the BNLJ build side is k rows, which is the
               # broadcast-small-dim plan, not an accidental cartesian.
               "emb_ivf_topk", "emb_centroid_assign", "emb_kmeans_fit",
               # 1-row n_docs scalar broadcast (TF-salience df join)
               "doc_salient_terms",
               # 1-row scalar broadcasts: n_min (temperature rate) /
               # corpus total (domain share)
               "doc_mixture_temperature_sample", "doc_domain_quality_profile",
               # 1-row totals broadcast (skew diagnostic)
               "stats_key_skew_profile",
               # 1-row forecast x 1-row actual crossJoin
               "stats_join_size_forecast",
               # 1-row max-date anchor crossJoin (aging snapshot)
               "dq_open_order_aging",
               # 1-row grand-total crossJoin (percent-of-parent denominator)
               "agg_share_of_parent",
               # centroid broadcast + 1-row totals broadcast
               "emb_ivf_cell_stats",
               # 1-row audit-aggregate x 1-row uniqueness-aggregate join
               "dq_constraint_audit",
               # 5-row threshold-spine broadcast BNLJ (candidate fan-out
               # over the sweep cuts; build side is the constant spine)
               "dedup_threshold_sweep",
               # 1-row (L, N) corpus-scalar broadcast (BM25 normalizer)
               "search_bm25_topk",
               # |event_types| choose 2 pair spine (bounded metadata
               # theta self-join of the distinct-type list)
               "sketch_kmv_set_ops",
               # 1-row global max-date anchor broadcast (RFM recency)
               "rfm_segmentation",
               # 1-row corpus-vocab scalar broadcast (add-one smoothing V)
               "lm_bigram_logprob",
               # 1-row digit-total scalar broadcast (Benford shares)
               "stats_benford_distribution",
               # 1-row n_docs scalar broadcast (df floor + PMI denominator)
               "doc_term_pmi_collocations",
               # 1-row corpus-start-date scalar broadcast (bitmap anchor)
               "agg_activity_bitmap",
               # 1-row doc-count scalar broadcast (decile denominator)
               "doc_vocab_growth_curve",
               # 1-row token-total scalar broadcast (ppm denominator)
               # applied to the FIFTY TakeOrdered top-term rows
               "doc_zipf_rank_frequency",
               # 5-row threshold-spine broadcast (ROC sweep)
               "eval_roc_points",
               # 1-row corpus-count scalar broadcast (ntile/percent_rank
               # denominator applied to the two-phase global row number)
               "window_ntile_percentrank",
               # 1-row grand-total scalar broadcast (equi-depth bucket
               # denominator applied to the two-phase cumulative)
               "stats_equidepth_histogram",
               # 1-row max-date split scalar broadcast (IVM delta cut)
               "mv_incremental_maintenance",
               # 1-row session-count scalar broadcast (support denominator)
               "assoc_rules_session_pairs",
               # 1-row motif-total scalar broadcast (share denominator)
               "seq_frequent_motifs",
               # query-workload broadcast (first 20 vectors), same shape
               # as emb_cosine_topk; label-mismatch theta join is the
               # documented exact-twin form
               "emb_hard_negative_mining",
               # 1-row global-mean scalar broadcast (all-missing-user
               # imputation fallback)
               "feat_mean_impute",
               # 1-row (n_a, n_b) sample-size scalar broadcast (KS
               # cross-multiplication denominators)
               "stats_ks_test",
               # 1-row observed-stat / threshold / verdict-count scalar
               # broadcasts (randomization-test comparisons)
               "stats_permutation_test",
               # 1-row grand-total scalar broadcast (ABC cumulative-share
               # denominator) / 1-row purchase-count scalar broadcast
               # (attribution share denominator)
               "abc_xyz_part_classes", "attribution_first_last_touch",
               # 1-row corpus high-water-mark broadcast (freshness lag)
               "dq_freshness_lag",
               # 1-row midpoint-cut scalar broadcast (snapshot split)
               "fs_grant_flip_audit",
               # pairwise theta self-join over the DAILY AGGREGATE
               # (calendar-bounded metadata) + 1-row scalar broadcasts
               "stats_mann_kendall",
               # 1-row corpus-midpoint + 1-row pooled-theta scalar
               # broadcasts (CUPED pre/post cut and adjustment)
               "stats_cuped_adjustment",
               # broadcast k x dim centroid table (the
               # emb_centroid_assign shape) — a(i)/b(i) need every
               # vector x centroid distance by definition
               "eval_silhouette_simplified",
               # metadata-only coalition algebra: 12-row literal map x
               # 8-row segment table x 3-row channel table broadcasts
               # (theta joins on bitmasks); the one corpus-scale join
               # is the user-grain exposure equi-join
               "attribution_shapley",
               # 1-row scalar broadcasts (conformal k / q_hat /
               # calibration totals / coverage counts) — the
               # collect-free way to apply global scalars
               "eval_conformal_interval"}

# Entries whose single-partition window is the documented intent:
# window_ntile_percentrank is the global-order ranking-family demo (its
# doc says so); doc_pack_token_budget's global window runs over the
# per-shard totals METADATA table (one row per shard, W-tuned to ~1e5
# rows at 100 TB), never the corpus — its corpus-side cumsum stays
# partitioned by shard. Nothing else may appear here without a
# docstring reason.
# doc_tokenize_to_ids: its global window assigns dense ids over the
# DISTINCT-TERM vocabulary (metadata-scale, and a one-time artifact at
# 100 TB — its docstring says so), never the corpus.
# doc_vocab_growth_curve: its global cumulative window runs over the
# TEN decile rows (metadata by construction — its docstring says so),
# never the corpus.
# stats_ks_test: its global ECDF running sum runs over the micro-unit
# VALUE HISTOGRAM (bounded distinct-value domain, the agg_gini_spend
# move — its docstring says so), never the row count; scale path is
# range-partitioned partials + broadcast prefix offsets.
# eval_auc_exact: global cumulative over the SCORE HISTOGRAM (<= 65536
# distinct 16-bit scores by construction — its docstring says so).
# stats_chi2_independence: marginal windows over the |seg|x|prio|
# CONTINGENCY GRID (25 rows — its docstring says so), never the fact.
# stats_equidepth_histogram: cumulative over the micro-unit VALUE
# HISTOGRAM (same bounded domain as stats_ks_test — docstring says so).
# stats_mann_kendall: day-index anchor + slope-median rank windows run
# over the DAILY AGGREGATE and its pair spine (calendar-bounded
# metadata, ~66k pair rows at a century — its docstring says so).
# doc_zipf_rank_frequency: rank + cumulative windows run over the
# FIFTY TakeOrdered top-term rows (metadata by construction — its
# docstring says so), never the vocabulary or the corpus.
GLOBAL_WINDOW_OK = {"doc_pack_token_budget",
                    # window_ntile_percentrank / stats_ks_test /
                    # stats_equidepth_histogram / eval_conformal_interval
                    # were exempt here until round 8d; they now run on
                    # the two-phase prefix (operators/global_window.py)
                    # and are CHECKED again — global_windows() skips
                    # only the operator's own <= n_buckets-row offsets
                    # window (recognized by its _gw_ columns), so a
                    # revert to a corpus-grain single-task window flags.
                    "doc_tokenize_to_ids", "doc_vocab_growth_curve",
                    "eval_auc_exact",
                    "stats_chi2_independence",
                    "stats_mann_kendall",
                    "doc_zipf_rank_frequency",
                    # month-grain lag: the window input is one row per
                    # calendar month (bounded metadata scale by
                    # construction), not the fact table
                    "stats_revenue_price_volume_decomp",
                    }

_WINDOW_EXECS = {"WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"}


def _walk(node):
    yield node
    # AdaptiveSparkPlanExec exposes no children() — the whole query lives
    # in its initialPlan. Without this descent the audit passes vacuously
    # under AQE (which is on everywhere in this repo).
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        yield from _walk(node.initialPlan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))
    subqueries = node.subqueries()
    for i in range(subqueries.size()):
        yield from _walk(subqueries.apply(i))


def global_windows(df) -> int:
    """Count physical Window operators with an empty partition spec.

    The two-phase prefix operator's OFFSETS window (a running sum over
    its <= n_buckets-row bucket-totals table) is unpartitioned by
    design and metadata-bounded by construction; it is recognized by
    the operator's internal `_gw_` column names and skipped, so
    consumers of operators/global_window.py are checked like everyone
    else and a revert to a corpus-grain global window still flags."""
    plan = df._jdf.queryExecution().executedPlan()
    n = 0
    for node in _walk(plan):
        if node.getClass().getSimpleName() in _WINDOW_EXECS:
            if node.partitionSpec().isEmpty():
                if "_gw_" in node.simpleString(10000):
                    continue
                n += 1
    return n


# ---------------------------------------------------------------------------
# Forced-broadcast lint (r4 verdict weak-spot #1, generalized).
#
# `F.broadcast(x)` OVERRIDES AQE's size check: on an input whose
# cardinality grows with the data (vocabulary, per-user aggregates,
# SF-growing TPC-H tables, data-dependent candidate sets) it trades a
# graceful shuffle join for a driver/executor OOM at 100 TB. The rule:
# a forced broadcast is only allowed on a PROVABLY BOUNDED input —
# fixed-cardinality dims (nation=25, region=5), 1-row scalar
# aggregates, k-row centroid/bucket/counter tables, bounded domains,
# and bounded external sets (eval suites, subscription maps, query
# workloads documented as small).
#
# Every allowed site is registered below as (relative file, first
# identifier inside the call). Adding a new F.broadcast anywhere else
# fails the lint (and the pytest wrapping it) until it is justified
# here with a boundedness reason.
BROADCAST_ALLOWLIST: dict[tuple[str, str], str] = {
    ("queries/relational.py", "nation"): "fixed dim (25 rows)",
    ("queries/relational.py", "region"): "fixed dim (5 rows)",
    ("queries/relational2.py", "cn"): "nation alias (25 rows)",
    ("queries/relational2.py", "sn"): "nation alias (25 rows)",
    ("queries/relational2.py", "nation"): "fixed dim (25 rows)",
    ("queries/relational2.py", "n"): "fixed dim (25 rows)",
    ("queries/relational2.py", "r"): "fixed dim (5 rows)",
    ("queries/relational2.py", "reg"): "region rollup (5 rows)",
    ("queries/relational2.py", "tot"): "1-row scalar aggregate",
    ("queries/tpch_deep.py", "cn"): "nation alias (25 rows)",
    ("queries/tpch_deep.py", "sn"): "nation alias (25 rows)",
    ("queries/tpch_deep.py", "reg"): "fixed dim (5 rows)",
    ("queries/tpch_deep.py", "thr"): "1-row scalar aggregate",
    ("queries/tpch_complete.py", "tot"): "1-row scalar aggregate",
    ("queries/tpch_deep.py", "mx"): "1-row scalar aggregate",
    ("queries/behavior.py", "tot"): "1-row scalar aggregate",
    ("queries/behavior.py", "mx"): "1-row scalar aggregate",
    ("queries/behavior.py", "med"): "1-row scalar aggregate",
    ("queries/behavior.py", "mad"): "1-row scalar aggregate",
    ("queries/behavior.py", "stats"): "1-row scalar aggregate",
    ("queries/behavior.py", "item"): "item-count table (|event_types| rows)",
    ("queries/behavior.py", "nsess"): "1-row session-count scalar",
    ("queries/quality.py", "uniq"): "1-row scalar aggregate",
    ("queries/quality.py", "tot"): "1-row scalar aggregate",
    ("queries/quality.py", "act"): "1-row scalar aggregate",
    ("queries/quality.py", "thr"): "5-row ROC threshold spine",
    ("queries/quality.py", "anchor"): "1-row max-date scalar aggregate",
    ("queries/quality.py", "g"): "1-row high-water-mark scalar aggregate",
    ("queries/sketches.py", "gk"): (
        "per-group GK value table (one row per l_returnflag, <= 3 rows)"
    ),
    ("queries/feature_store.py", "bounds"): (
        "1-row midpoint-cut scalar aggregate (integer-micros corpus split)"
    ),
    ("queries/llm_text.py", "n"): "1-row n_docs aggregate",
    ("queries/llm_text.py", "shard_prefix"): "shard-totals prefix (1 row/shard, W-tuned ~1e5)",
    ("queries/windows_setops.py", "b"): "equi-depth bucket bounds (k rows)",
    ("queries/setops_misc.py", "b"): "mktsegment domain distinct (~5 rows)",
    ("queries/sketches.py", "counters"): "Count-Min d x w counter table",
    ("operators/dedup.py", "a1"): (
        "per-doc shingle-hash arrays, entered ONLY under the"
        " _verify_fits_broadcast size gate (<= 32 MB docs estimate;"
        " past the gate the AllPairs expansion path runs instead)"
    ),
    ("operators/dedup.py", "a2"): (
        "same gated shingle-hash array table as a1 (doc2 side)"
    ),
    ("queries/sketches.py", "words"): "Bloom word table (m/32 rows, bytes-sized)",
    ("queries/storage.py", "dim"): "day dimension (bounded calendar)",
    ("queries/storage.py", "mx"): "1-row max-date split scalar",
    ("operators/curation.py", "bench"): "eval-suite shingles (MB-scale)",
    ("operators/dedup.py", "va"): (
        "vector-attach table (n x ~600 B quantized rows); hint applied "
        "only when callers prove n <= SRP_ATTACH_BROADCAST_MAX (1M) — "
        "above that the partitioned attach is the right plan"
    ),
    ("operators/dedup.py", "vb"): "vector-attach twin of va (same gate)",
    ("operators/dedup.py", "qbands"): (
        "query-side band keys (|queries| x bands rows, metadata-sized); "
        "hint applied only on the broadcast_queries query-set top-k "
        "path where |queries| << |corpus|"
    ),
    ("operators/curation.py", "n_docs"): "1-row scalar aggregate",
    ("operators/global_window.py", "offsets"): (
        "bucket-offset metadata (<= |partition values| x n_buckets rows "
        "by construction — the two-phase prefix's bounded side)"
    ),
    ("queries/windows_setops.py", "tot"): "1-row scalar aggregate",
    ("queries/feature_eng.py", "tot"): (
        "per-group totals (|event_types| / |priorities| rows)"
    ),
    ("queries/stats_inference.py", "tot"): "1-row scalar aggregate",
    ("operators/similarity.py", "qry"): "query workload (documented small)",
    ("operators/similarity.py", "probes"): "query workload x nprobe cells",
    ("operators/similarity.py", "cents"): "k x dim centroid table",
    ("operators/similarity.py", "centroids"): "k x dim centroid table",
    ("queries/streaming_queries.py", "mx"): "1-row terminal-watermark aggregate",
    ("queries/streaming_queries.py", "anchor"): "1-row corpus-epoch scalar (stream-static)",
    ("queries/training_data.py", "mn"): "1-row min-source-count aggregate",
    ("queries/training_data.py", "tot"): "1-row scalar aggregate",
    ("queries/llm_similarity.py", "cb"): "PQ codebook (m x k = 64 rows)",
    ("queries/llm_similarity.py", "lut"): "ADC lookup table (n_q x m x k = 640 rows)",
    ("queries/llm_similarity.py", "tot"): "1-row totals aggregate",
    ("queries/llm_similarity.py", "cent"): "k x dim centroid table",
    ("queries/timeseries.py", "v"): "coalition-value table (<= 8 rows)",
    ("queries/timeseries.py", "seg"): "exposure-segment table (<= 8 rows)",
    ("queries/llm_text.py", "spine"): "threshold spine (5 constant rows)",
    ("queries/sketches.py", "sk"): "bottom-k sketches (<= k x |event_types| rows)",
    ("queries/training_data.py", "qterms"): "query-term spine (NQ=5 rows)",
    ("queries/training_data.py", "scal"): "1-row (L, N) corpus scalar",
    ("queries/llm_text.py", "voc"): "1-row corpus-vocab scalar aggregate",
    ("queries/llm_text.py", "nd"): "1-row n_docs scalar aggregate",
    ("queries/llm_text.py", "mx"): "1-row doc-count scalar aggregate",
    ("queries/llm_text.py", "tot"): "1-row token-total scalar aggregate",
    ("queries/llm_similarity.py", "qry"): "query workload (first 20 vectors)",
    ("queries/timeseries.py", "n"): "fixed dim (25 rows)",
    ("queries/timeseries.py", "r"): "fixed dim (5 rows)",
    ("queries/timeseries.py", "anchor"): "1-row max-date scalar aggregate",
    ("queries/timeseries.py", "tot"): (
        "per-type / per-cohort-week totals (domain- or calendar-bounded)"
    ),
    ("queries/timeseries.py", "tots"): "per-region totals (5 rows)",
    ("queries/feature_eng.py", "glob"): "1-row global-mean scalar aggregate",
    ("queries/feature_eng.py", "cat"): "category table (|event_types| rows)",
    ("queries/feature_eng.py", "n"): "1-row sample-sizes scalar aggregate",
    ("queries/feature_eng.py", "thr"): "per-group threshold table (|o_orderpriority| = 5 rows)",
    ("queries/feature_eng.py", "mu"): "per-type calibration-mean table (|event_types| rows)",
    ("queries/feature_eng.py", "k"): "1-row conformal rank scalar",
    ("queries/feature_eng.py", "q"): "1-row conformal quantile scalar",
    ("queries/feature_eng.py", "g"): "1-row calibration-totals scalar",
    ("queries/feature_eng.py", "cov"): "1-row coverage-counts scalar",
    ("queries/stats_inference.py", "obs"): "1-row observed-stat aggregate",
    ("queries/stats_inference.py", "verdicts"): "1-row verdict-count aggregate",
    ("queries/stats_inference.py", "sen"): "1-row median-slope aggregate",
    ("queries/stats_inference.py", "ties"): "1-row tie-term aggregate",
    ("queries/stats_inference.py", "n"): "1-row day-count aggregate",
    ("queries/stats_inference.py", "mid"): "1-row corpus-midpoint scalar",
    ("queries/stats_inference.py", "th"): "1-row CUPED theta aggregate",
}

_BROADCAST_RE = None  # compiled lazily


def broadcast_lint() -> list[str]:
    """Return violations: forced broadcasts not in BROADCAST_ALLOWLIST."""
    import re
    from pathlib import Path

    global _BROADCAST_RE
    if _BROADCAST_RE is None:
        _BROADCAST_RE = re.compile(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)")
    pkg = Path(__file__).resolve().parents[1] / "feature_store_2_spark"
    out: list[str] = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        for i, line in enumerate(f.read_text().splitlines(), 1):
            for m in _BROADCAST_RE.finditer(line):
                if (rel, m.group(1)) not in BROADCAST_ALLOWLIST:
                    out.append(
                        f"{rel}:{i}: F.broadcast({m.group(1)}...) not in "
                        "BROADCAST_ALLOWLIST — prove boundedness or drop the hint"
                    )
    return out


AUDIT = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_region_revenue",
    "q7_nation_volume", "q10_returned_revenue", "q4_order_priority",
    "fs_purchase_allowlist", "fs_windowed_denial_rate",
    "agg_rollup_lineitem", "window_running_spend",
    "dedup_minhash_lsh", "emb_cosine_topk", "sessionize_events",
    "dedup_embedding_ann_pairs", "dedup_ngram_jaccard",
    "dedup_simhash_pairs", "doc_corpus_curation",
    "join_salted_skew", "scan_date_partitioned", "doc_train_split",
    # round-3 additions
    "q8_market_share", "q13_customer_distribution", "q18_large_volume_customers",
    "join_range_binned", "agg_stats_moments", "rolling_7d_active_users",
    "doc_tfidf_top_terms", "streak_longest_daily", "window_locf_forward_fill",
    "func_zorder_key", "q22_idle_customers",
    # round-4 additions
    "doc_pack_token_budget", "emb_knn_join_ann", "dedup_fuzzy_levenshtein",
    "dq_constraint_audit", "rollup_time_hierarchy_events",
    "stats_column_profile", "join_null_safe_eq",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    lint = broadcast_lint()
    for v in lint:
        print(f"BROADCAST-LINT {v}")
    spark = get_spark("fs2-explain-audit")
    argv = [a for a in sys.argv[1:] if a != "-v"]
    if "--all" in argv:
        # Full catalog sweep: every batch entry's physical plan (streaming
        # entries execute their pipeline when called — audited separately).
        names = [q.name for q in CATALOG if not q.name.startswith("stream")]
    else:
        names = argv or AUDIT
    by_name = {q.name: q for q in CATALOG}
    problems: list[str] = []
    for name in names:
        df = by_name[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        flags = []
        if "BatchEvalPython" in plan:
            flags.append("ROW-PYTHON-UDF")
        if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and (
            name not in PAIRWISE_OK
        ):
            flags.append("UNINTENDED-CARTESIAN")
        if name not in GLOBAL_WINDOW_OK and global_windows(df):
            flags.append("GLOBAL-WINDOW")
        status = " ".join(flags) if flags else "ok"
        print(f"=== {name}: {status}")
        if "-v" in sys.argv or flags:
            print(plan)
        if flags:
            problems.append(f"{name}: {status}")
    problems.extend(lint)
    print("\n" + (f"{len(problems)} problem(s): {problems}" if problems else "all plans clean"))


if __name__ == "__main__":
    main()
