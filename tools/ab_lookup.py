"""Same-session interleaved A/B for the grants serving lookup.

Protocol of tools/ab_contested.py: ONE SparkSession, one store, variants
alternated A/B/A/B per round after an identical warm-up. Variant "cur"
is ``has_grant`` (driver-local Arrow read of the key's rows of one
shard). Variant "rev" is the previous lookup, rebuilt here:
a parquet schema read plus a filtered Spark ``limit(1).collect()`` per
call.

Set-up stages the events of SF_DIR and builds the grants store with
``run_grants_pipeline_merge``. Each round, per variant:

* freshness: land one event file whose 3 ``error`` events revoke a
  never-seen user's ``message`` grant, catch up on the same checkpoint,
  and read the revocation back with the variant's lookup (seconds from
  landing to the answer);
* latency: N timed lookups, one in four for an unknown user, the rest
  for stored (user, feature) pairs; every answer is checked against the
  store's Spark snapshot.

Prints p50/p99 lookup latency, serial lookups/s and median freshness
per variant. Everything is written under a temporary directory.

Usage: python tools/ab_lookup.py SF_DIR [--rounds N] [--lookups N]
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from feature_store_2_spark.session import get_spark
from feature_store_2_spark.sources.tables import load_table
from feature_store_2_spark.streaming import (
    grants_snapshot,
    has_grant,
    run_grants_pipeline_merge,
)
from feature_store_2_spark.streaming import sharded_store as ss

UNKNOWN_USER_BASE = 1 << 40
FRESH_USER_BASE = 1 << 41


def spark_has_grant(spark, grants_path, user_id, feature):
    """The lookup before the Arrow read: learn the key dtype from the
    parquet schema, then run a shard-pruned filtered collect."""
    manifest = ss._read_manifest(grants_path)
    if not manifest:
        return True
    any_version = next(iter(manifest.values()))
    spark.read.parquet(ss._data_dir(grants_path, any_version)).schema
    shard = ss.xxhash64_long(int(user_id)) % ss.N_SHARDS
    snap = ss.read_store(spark, grants_path, shards={shard})
    if snap is None:
        return True
    row = (
        snap.filter((F.col("user_id") == user_id) & (F.col("feature") == feature))
        .select("has_grant")
        .limit(1)
        .collect()
    )
    return bool(row[0][0]) if row else True


VARIANTS = {"cur": has_grant, "rev": spark_has_grant}


def land(events_dir: str, user: int, event_id: int, ts_us: int) -> None:
    """Three ``error`` events for ``user``, renamed into place whole."""
    table = pa.table(
        {
            "event_id": pa.array(range(event_id, event_id + 3), pa.int64()),
            "ts": pa.array([ts_us] * 3, pa.timestamp("us")),
            "user_id": pa.array([user] * 3, pa.int64()),
            "event_type": pa.array(["error"] * 3),
            "value": pa.array([1.0] * 3),
            "props": pa.array([None] * 3, pa.string()),
        }
    )
    tmp = os.path.join(os.path.dirname(events_dir), f".landing-{event_id}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(events_dir, f"part-landed-{event_id}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--lookups", type=int, default=50)
    args = ap.parse_args()

    spark = get_spark("fs2-ab-lookup")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="fs2_ab_lookup_")
    events_dir = os.path.join(work, "events")
    paths = {
        name: os.path.join(work, name)
        for name in ("grants", "notifications", "checkpoint")
    }

    def catch_up() -> None:
        run_grants_pipeline_merge(
            spark, events_dir, paths["grants"], paths["notifications"],
            paths["checkpoint"],
        )

    try:
        events = load_table(spark, "events", args.sf_dir)
        events.write.parquet(events_dir)
        max_id, max_us = events.agg(
            F.max("event_id"), F.max(F.unix_micros("ts"))
        ).collect()[0]
        next_event_id = max_id + 1
        ts_us = max_us + 86_400_000_000  # a day past the corpus: never late
        catch_up()
        truth = {
            (r.user_id, r.feature): r.has_grant
            for r in grants_snapshot(spark, paths["grants"]).collect()
        }
        stored = sorted(truth)
        features = sorted({f for _, f in stored})
        rng = random.Random(0)
        for lookup in VARIANTS.values():  # identical warm-up
            for user, feature in stored[:3]:
                lookup(spark, paths["grants"], user, feature)

        lat = {v: [] for v in VARIANTS}
        fresh = {v: [] for v in VARIANTS}
        for _ in range(args.rounds):
            for variant, lookup in VARIANTS.items():
                user = FRESH_USER_BASE + next_event_id
                t0 = time.perf_counter()
                land(events_dir, user, next_event_id, ts_us)
                next_event_id += 3
                catch_up()
                if lookup(spark, paths["grants"], user, "message") is not False:
                    raise RuntimeError(f"{variant}: revocation of {user} not visible")
                fresh[variant].append(time.perf_counter() - t0)
                truth[(user, "message")] = False
                for _ in range(args.lookups):
                    if rng.random() < 0.25:
                        user = UNKNOWN_USER_BASE + rng.randrange(1 << 20)
                        key = (user, rng.choice(features))
                    else:
                        key = rng.choice(stored)
                    t0 = time.perf_counter()
                    ans = lookup(spark, paths["grants"], *key)
                    lat[variant].append(time.perf_counter() - t0)
                    if ans is not truth.get(key, True):
                        raise RuntimeError(f"{variant}: wrong answer {ans} for {key}")

        print(f"{'variant':<8} {'p50_ms':>8} {'p99_ms':>8} {'lookups/s':>10} {'fresh_s':>8}  n")
        for variant, xs in lat.items():
            q = statistics.quantiles(xs, n=100)
            print(
                f"{variant:<8} {statistics.median(xs) * 1e3:8.2f} {q[98] * 1e3:8.2f} "
                f"{len(xs) / sum(xs):10.1f} {statistics.median(fresh[variant]):8.2f}  {len(xs)}"
            )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
