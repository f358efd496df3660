"""Scale rehearsal: measure time-vs-rows scaling exponents (r6 ask #4).

The 100x-scale claims are argued from plan shapes; this is the direct
check the sf0.1 bench can't do — replicate the fact tables 3x and 10x
(re-keyed ids, per-replica perturbed text/vectors so the dup/ANN
candidate structure stays statistically similar instead of every row
gaining 10 exact twins), run the most expensive bench entries plus the
LSH/SRP dedup-ANN path at each factor, and fit the log-log slope. A
hidden quadratic shows up as an exponent near 2; healthy distributed
plans sit near 1 (streaming entries below 1 at these sizes because a
fixed micro-batch overhead still dominates).

Replication keeps per-key cardinality constant and multiplies the KEY
population (10x more users/orders/docs/vectors) — the direction a
100 TB corpus actually grows.

Usage: python tools/scale_rehearsal.py [factor ...]   (default 1 3 10)
Writes per-factor staged dirs under /tmp/fs2_scale_<m>x (reused if
present) and prints one JSON line per (entry, factor) plus a final
summary with fitted exponents. Results belong in BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from feature_store_2_spark.session import get_spark  # noqa: E402
from feature_store_2_spark.queries import CATALOG  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
REPLICATED = ("events", "lineitem", "documents", "embeddings")
KEY_STRIDE = 100_000_000

ENTRIES = (
    "q1_pricing_summary",
    "stream_feature_grants",
    "stream_sessionize",
    "dedup_embedding_ann_pairs",
    "dedup_embedding_ann_adaptive",
    "dedup_minhash_lsh",
    # round-7b: the one new fact-scale fan-out (events x 100 replicates)
    "stats_poisson_bootstrap",
    # round-7c: the two token-fan-out corpus entries (bigram explode ->
    # token-key hash joins; linear by construction, measured to confirm)
    "lm_bigram_logprob",
    "doc_term_pmi_collocations",
    # round-7d: the wedge-join graph entry — work scales with sum(deg^2)
    # of the near-dup graph, the classic hidden superlinear; replicas
    # keep cluster sizes bounded so edges (and triangles) should grow
    # ~linearly with the corpus
    "graph_triangle_count",
    # round-7i: the covariance feed (per-chunk partials — should be
    # exactly linear) and the BFS over the kNN edge set (frontier join
    # cost tracks the kNN candidate volume)
    "emb_covariance_matrix",
    "graph_bfs_distance",
    "graph_bfs_adaptive",
    # round-8: the adaptive-sized kNN join alone — decomposes
    # graph_bfs_distance's exponent into candidate/window cost vs the
    # frontier rounds
    "emb_knn_join_ann",
    # round-7k: the Gopher rule battery (explode -> doc-keyed tf agg ->
    # per-doc agg; linear by construction, measured to confirm)
    "doc_gopher_quality_flags",
    # round-7n: DAU/MAU/YAU — one finest-grain dedup then shrinking
    # re-dedups; the dedup shuffle is the only term that grows
    "rollup_distinct_users_time",
    # round-8: ExactSubstr span census — 5-gram explode, gram-keyed
    # hash agg + join-back, per-doc bounded windows; linear by
    # construction (replicas perturb text so cross-replica gram
    # collisions stay rare), measured to confirm
    "dedup_exact_substring_spans",
    # round-8 late additions: user-grain exposure agg + metadata-only
    # coalition algebra (shapley), one corpus pass vs a broadcast
    # k x dim centroid table (silhouette), two corpus scans + a
    # residual-histogram rank-pick (conformal) — all linear by
    # construction, measured to confirm
    "attribution_shapley",
    "eval_silhouette_simplified",
    "eval_conformal_interval",
    # round-8d: the two-phase global-window promotion — the catalog
    # form (range-bucketed prefix) vs the pre-promotion single-task
    # window twin, plus the converted CDF entries (their cumulative
    # pass now range-buckets over a distinct-value domain ~ n)
    "window_max_concurrency",
    "window_max_concurrency_singletask",
    "stats_ks_test",
    "feat_quantile_normalize",
    "stats_equidepth_histogram",
    # round-8d: the inverted-index similarity family was the last
    # measured-census gap — candidate volume rides posting-list
    # lengths (sum over tokens of df^2 for the pair forms), the
    # classic hidden quadratic if a hot token slips the df cap
    "sim_token_cosine_pairs",
    "dedup_winnowing_containment",
    "search_bm25_topk",
    "dedup_fuzzy_levenshtein",
    # round-9: the promoted query-set ANN top-k (last fixed-band entry
    # onto srp_scored_params) — per-query candidates should be flat
    # (~bands x occupancy) while n grows, so total time ~the linear
    # banding pass (census receipt in BENCH_NOTES 9a)
    "emb_lsh_ann_topk",
    # round-9: the ABC/XYZ classifier — two part-grain hash aggs + the
    # two-phase global revenue-DESC running sum over replicated
    # lineitem; linear by construction, measured to confirm
    "abc_xyz_part_classes",
)


def _ann_adaptive(spark, sf_dir):
    """The fixed-band entry's production form: srp_adaptive_params sizes
    band width to the corpus so candidate volume stays ~linear (the
    r7-measured fix for the n^2/16 fixed-band candidate term)."""
    from feature_store_2_spark.operators.dedup import (
        embedding_srp_near_pairs,
        srp_adaptive_params,
    )

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = e.count()  # bounded metadata action, mirrors production sizing
    # 0.8 = the production near-dup threshold (rho ~ 0.33); the catalog
    # demo's 0.45 has rho ~ 0.62 where LSH barely beats brute force.
    n_bits, band_bits = srp_adaptive_params(n, threshold=0.8)
    return embedding_srp_near_pairs(
        e, threshold=0.8, n_bits=n_bits, band_bits=band_bits,
        broadcast_attach=n <= 1_000_000,
    )


def _bfs_adaptive(spark, sf_dir):
    """graph_bfs_distance's production form: the kNN edge set built with
    corpus-sized SRP params (the r7i-measured fix for the fixed-band
    candidate quadratic the catalog entry carries at 10x — exponent
    1.51; the entry keeps fixed params so its DuckDB oracle can rebuild
    identical edges)."""
    from feature_store_2_spark.operators.dedup import (
        embedding_srp_knn_join,
        srp_adaptive_params,
    )

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = e.count()
    n_bits, band_bits = srp_adaptive_params(n, threshold=0.8)
    knn = embedding_srp_knn_join(
        e, k=5, n_bits=n_bits, band_bits=band_bits,
        broadcast_attach=n <= 1_000_000,
    ).select("query_id", "neighbor_id")
    edges = (
        knn.select(F.col("query_id").alias("a"), F.col("neighbor_id").alias("b"))
        .unionAll(
            knn.select(F.col("neighbor_id").alias("a"), F.col("query_id").alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    seeds = (
        e.select("vec_id")
        .filter(F.col("vec_id") % 50 == 0)
        .withColumn("dist", F.lit(0))
    )
    visited, frontier = seeds, seeds.select("vec_id")
    for hop in (1, 2, 3):
        nxt = (
            edges.join(frontier.withColumnRenamed("vec_id", "a"), "a", "inner")
            .select(F.col("b").alias("vec_id"))
            .distinct()
            .join(visited.select("vec_id"), "vec_id", "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionAll(nxt.withColumn("dist", F.lit(hop)))
        frontier = nxt
    return e.select("vec_id").join(visited, "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("dist"), F.lit(-1)).cast("int").alias("hop_dist"),
    )


def _concurrency_singletask(spark, sf_dir):
    """window_max_concurrency's PRE-round-8d form: the per-type running
    sum as a plain window (5 event types = 5 sort tasks, each scanning
    ~n/5 distinct boundary timestamps sequentially) — kept here as the
    before/after twin for the two-phase global-window promotion."""
    from pyspark.sql import Window as W

    from feature_store_2_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    t = F.unix_micros("ts")
    starts = ev.select("event_type", t.alias("t"), F.lit(1).alias("d"))
    ends = ev.select(
        "event_type", (t + F.lit(1_800_000_000)).alias("t"),
        F.lit(-1).alias("d"),
    )
    net = (
        starts.unionByName(ends)
        .groupBy("event_type", "t")
        .agg(F.sum("d").alias("nd"))
    )
    wrun = (
        W.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = net.select("event_type", F.sum("nd").over(wrun).alias("conc"))
    return run.groupBy("event_type").agg(
        F.max("conc").cast("long").alias("peak_concurrency"),
        F.count("*").cast("long").alias("n_boundaries"),
    )


EXTRA_FNS = {
    "dedup_embedding_ann_adaptive": _ann_adaptive,
    "graph_bfs_adaptive": _bfs_adaptive,
    "window_max_concurrency_singletask": _concurrency_singletask,
}


def _alpha_shift(i: int) -> str:
    """Per-replica vowel substitution alphabet: shifts a large share of
    shingles so replicas are NOT near-duplicates of each other."""
    return "".join(chr(ord(c) + i) for c in "aeiou")


def stage(spark, factor: int) -> str:
    out = f"/tmp/fs2_scale_{factor}x"
    marker = os.path.join(out, "_STAGED")
    if os.path.exists(marker):
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    # Non-replicated tables: symlink straight to the sf0.1 files.
    for f in os.listdir(BASE_SF):
        name = f.split(".parquet")[0]
        if name not in REPLICATED:
            os.symlink(os.path.join(BASE_SF, f), os.path.join(out, f))
    # factor 1 goes through the SAME writer (32-file snappy layout) as
    # the replicated factors — symlinking the original single-file
    # parquet at 1x conflates file layout/scan parallelism with data
    # scale and corrupts the fitted exponent (observed: q1 at 10x
    # measured FASTER than the single-file 1x baseline).
    for name in REPLICATED:
        src = os.path.join(BASE_SF, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        base = spark.read.parquet(src)
        parts = []
        for i in range(factor):
            rep = base
            if name == "events":
                rep = rep.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * KEY_STRIDE)
                ).withColumn(
                    "user_id", F.col("user_id") + F.lit(i * KEY_STRIDE)
                )
            elif name == "lineitem":
                rep = rep.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(i * KEY_STRIDE)
                )
            elif name == "documents":
                rep = rep.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * KEY_STRIDE)
                )
                if i:
                    rep = rep.withColumn(
                        "text",
                        F.translate("text", "aeiou", _alpha_shift(i)),
                    )
            elif name == "embeddings":
                rep = rep.withColumn(
                    "vec_id", F.col("vec_id") + F.lit(i * KEY_STRIDE)
                )
                if i:
                    # Cyclic coordinate shift: decorrelates each
                    # replica from its base vector (cosine of a generic
                    # vector with its rotation is near 0) while
                    # preserving norms and the within-replica neighbor
                    # structure — so the corpus's near-dup DENSITY
                    # stays ~constant as n grows. (The first attempt,
                    # additive sin noise, left the 10 replicas of each
                    # base mutually similar: output pairs blew up
                    # 117 -> 134k at 10x, corrupting the exponent.)
                    shift = (7 * i) % 64
                    rep = rep.withColumn(
                        "embedding",
                        F.expr(
                            "transform(sequence(1, 64), j -> "
                            f"element_at(embedding, ((j - 1 + {shift})"
                            " % 64) + 1))"
                        ),
                    )
            parts.append(rep)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(32).write.mode("overwrite").parquet(dst)
    with open(marker, "w") as f:
        f.write("ok")
    return out


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> int:
    # numeric args = factors; non-numeric args = entry-name filter
    factors = [int(x) for x in sys.argv[1:] if x.isdigit()] or [1, 3, 10]
    only = {x for x in sys.argv[1:] if not x.isdigit()}
    entries = tuple(e for e in ENTRIES if not only or e in only)
    by = {d.name: d for d in CATALOG}
    spark = get_spark("fs2-scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict[int, float]] = {e: {} for e in entries}
    for m in factors:
        sf_dir = stage(spark, m)
        for entry in entries:
            fn = EXTRA_FNS.get(entry) or by[entry].fn
            tries = []
            attempts = 2
            try:
                for _ in range(attempts + 1):  # first = warm/stage
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    force(fn(spark, sf_dir))
                    tries.append(round(time.perf_counter() - t0, 3))
                best = min(tries[1:])
                results[entry][m] = best
                print(
                    json.dumps(
                        {"entry": entry, "factor": m, "sec": best,
                         "attempts": tries}
                    ),
                    flush=True,
                )
            except Exception as e:  # noqa: BLE001
                print(
                    json.dumps(
                        {"entry": entry, "factor": m,
                         "error": f"{type(e).__name__}: {e}"[:200]}
                    ),
                    flush=True,
                )
    summary = {}
    for entry, pts in results.items():
        ks = sorted(pts)
        if len(ks) >= 2:
            xs = [math.log(k) for k in ks]
            ys = [math.log(pts[k]) for k in ks]
            n = len(xs)
            mx, my = sum(xs) / n, sum(ys) / n
            slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
                (x - mx) ** 2 for x in xs
            )
            summary[entry] = {
                "times": {str(k): pts[k] for k in ks},
                "exponent": round(slope, 3),
            }
    print("SUMMARY " + json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
