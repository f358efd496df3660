"""Same-session interleaved A/B for the r11 contested optimizations.

VERDICT r11 flagged six touched paths whose driver reading regressed
while the builder's A/Bs read flat-or-better (q1_pricing_summary,
feat_quantile_normalize, stats_ks_test, graph_bfs_distance,
dedup_embedding_ann_pairs, dedup_minhash_lsh). This harness settles
each pair with the only protocol this host supports (see
OPTIMIZATION_r11.md "Methodology note"): ONE SparkSession, variants
alternated A/B/A/B with identical warm-up, cache cleared per attempt,
min-of-N per variant reported side by side.

Variant B ("revert") is produced by monkeypatching the exact r11/r12
change out of the live modules — same process, same JIT state, zero
cross-run noise. Results are printed as a table; nothing is written.

Usage: python tools/ab_contested.py [--rounds N] pair [pair ...]
       pairs: q1 quantile ks bfs ann minhash bfslazy rollup
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from feature_store_2_spark.queries import CATALOG
from feature_store_2_spark.session import get_spark


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _patches_spread_off():
    """Revert the q1/rollup conditional scan spread (322c12e)."""
    from feature_store_2_spark.queries import relational, windows_setops

    ident = lambda df, cap=None: df  # noqa: E731
    return [
        (relational, "spread_scan", ident),
        (windows_setops, "spread_scan", ident),
    ]


def _patches_old_boundaries():
    """Revert range_bucket's percentile_approx boundary collection to
    the pre-fb01ce0 df.stat.approxQuantile form (byte-for-byte the old
    boundary action; bucket expression unchanged)."""
    from feature_store_2_spark.operators import global_window as gw

    current = gw.range_bucket

    def old_range_bucket(df, range_key, n_buckets=32, nulls="first"):
        df = gw._track_persist(df)
        probs = [i / n_buckets for i in range(1, n_buckets)]
        qs = df.select(
            F.col(range_key).cast("double").alias("k")
        ).stat.approxQuantile("k", probs, 0.01)
        bounds = sorted(set(qs))
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + F.when(
                F.col(range_key).cast("double") > F.lit(b), 1
            ).otherwise(0)
        if nulls == "last":
            bucket = F.when(
                F.col(range_key).isNull(), F.lit(len(bounds) + 1)
            ).otherwise(bucket)
        return df.withColumn(gw._B, bucket), len(bounds) + 2

    assert current is not old_range_bucket
    return [(gw, "range_bucket", old_range_bucket)]


def _patches_const_parallelism():
    """Revert adaptive_partitions to the pre-497035a constant
    defaultParallelism at the SRP/shingle spread sites."""
    from feature_store_2_spark.operators import dedup, sizing

    def const_parts(df, bytes_per_task=None, floor=None, cap=None):
        return cap or df.sparkSession.sparkContext.defaultParallelism

    return [
        (dedup, "adaptive_partitions", const_parts),
        (sizing, "adaptive_partitions", const_parts),
    ]


def _patches_minhash_128k():
    """Revert minhash_signatures' 32 KiB bytes_per_task (b719e5f) to
    the shared 128 KiB default."""
    from feature_store_2_spark.operators import dedup

    orig = dedup.shingle_exploded

    def default_bpt(docs, text_col="text", id_col="doc_id", n=3,
                    bytes_per_task=None):
        return orig(docs, text_col, id_col, n, bytes_per_task=None)

    return [(dedup, "shingle_exploded", default_bpt)]


def _patches_bfs_eager():
    """Revert the r12 lazy BFS barrier to per-hop localCheckpoint."""
    from feature_store_2_spark.operators import sizing

    return [(sizing, "compact_for_lazy_iteration", lambda df: False)]


PAIRS = {
    "q1": ("q1_pricing_summary", _patches_spread_off),
    "rollup": ("agg_rollup_lineitem", _patches_spread_off),
    "quantile": ("feat_quantile_normalize", _patches_old_boundaries),
    "ks": ("stats_ks_test", _patches_old_boundaries),
    "bfs": ("graph_bfs_distance", _patches_const_parallelism),
    "ann": ("dedup_embedding_ann_pairs", _patches_const_parallelism),
    "minhash": ("dedup_minhash_lsh", _patches_minhash_128k),
    "bfslazy": ("graph_bfs_distance", _patches_bfs_eager),
}


def main() -> None:
    args = sys.argv[1:]
    rounds = 4
    if args and args[0] == "--rounds":
        rounds = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    by = {q.name: q for q in CATALOG}
    spark = get_spark("fs2-ab-contested")
    spark.sparkContext.setLogLevel("ERROR")

    for key in args:
        qname, patch_fn = PAIRS[key]
        q = by[qname]
        # Warm-up: one run of the CURRENT variant (JIT, staging caches).
        spark.catalog.clearCache()
        force(q.fn(spark, sf_dir))
        patches = patch_fn()
        saved = [(m, a, getattr(m, a)) for m, a, _ in patches]
        cur: list[float] = []
        rev: list[float] = []
        for _ in range(rounds):
            for variant, sink in (("cur", cur), ("rev", rev)):
                if variant == "rev":
                    for m, a, repl in patches:
                        setattr(m, a, repl)
                try:
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    force(q.fn(spark, sf_dir))
                    sink.append(time.perf_counter() - t0)
                finally:
                    for m, a, orig in saved:
                        setattr(m, a, orig)
        fmt = lambda xs: " ".join(f"{x:.2f}" for x in xs)  # noqa: E731
        print(
            f"{key:<8} {qname:<28} cur min={min(cur):.3f} [{fmt(cur)}] | "
            f"rev min={min(rev):.3f} [{fmt(rev)}]"
        )
    spark.stop()


if __name__ == "__main__":
    main()
