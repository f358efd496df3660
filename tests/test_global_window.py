"""Two-phase global window == single-task window, on adversarial keys.

The operator's correctness claim is boundary-independence: whatever
quantile boundaries the sketch returns, the assembled running sums and
row numbers equal the plain unpartitioned window's. Pinned here on the
distributions most likely to break a range-bucketed scheme:

  * heavy ties (a single value owning >50% of rows — boundary dedup)
  * nulls in the range key (ASC NULLS FIRST -> bucket 0)
  * constant key (every boundary collapses -> one bucket, still exact)
  * n_buckets > n_rows (empty buckets)
  * negative / mixed-sign keys
"""

import random

import pytest
from pyspark.sql import Row, Window as W
from pyspark.sql import functions as F

from feature_store_2_spark.operators import global_window as gw
from feature_store_2_spark.operators.global_window import (
    bucketed_row_number,
    bucketed_running_sum,
    ntile_from_row_number,
)


@pytest.fixture(autouse=True)
def _force_bucketed_path(monkeypatch):
    """The r12 compact-input gate routes small inputs to the plain
    window — which is this suite's REFERENCE side. Force the bucketed
    machinery so the equality assertions keep pinning it; the gate
    itself is covered by test_compact_gate_matches_bucketed."""
    monkeypatch.setattr(gw, "GW_PLAIN_WINDOW_MAX_BYTES", 0)


def _mkdf(spark, keys):
    rows = [
        Row(k=k, uid=i, v=(i % 7) - 3) for i, k in enumerate(keys)
    ]
    return spark.createDataFrame(rows)


def _keysets():
    rng = random.Random(8)
    uniform = [rng.randint(-1000, 1000) for _ in range(500)]
    heavy = [42] * 300 + [rng.randint(0, 100) for _ in range(200)]
    withnull = [None if i % 11 == 0 else rng.randint(0, 50) for i in range(400)]
    constant = [7] * 200
    tiny = [3, 1, 2]
    return {
        "uniform": uniform,
        "heavy_ties": heavy,
        "nulls": withnull,
        "constant": constant,
        "tiny_vs_buckets": tiny,
    }


@pytest.mark.parametrize("name", sorted(_keysets()))
def test_running_sum_matches_plain_window(spark, name):
    df = _mkdf(spark, _keysets()[name])
    got = bucketed_running_sum(
        df, "k", ["k", "uid"], F.col("v").cast("long"), "run", n_buckets=8
    )
    w = W.orderBy("k", "uid").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = df.select(
        "uid", F.sum(F.col("v").cast("long")).over(w).alias("run")
    )
    g = {r["uid"]: r["run"] for r in got.select("uid", "run").collect()}
    e = {r["uid"]: r["run"] for r in want.collect()}
    assert g == e


@pytest.mark.parametrize("name", ["uniform", "heavy_ties", "nulls"])
def test_row_number_and_ntile_match(spark, name):
    df = _mkdf(spark, _keysets()[name])
    n = df.count()
    got = bucketed_row_number(df, "k", ["k", "uid"], "rn", n_buckets=8)
    got = got.select(
        "uid",
        "rn",
        ntile_from_row_number(F.col("rn"), F.lit(n), 4).alias("q4"),
        ((F.col("rn") - 1).cast("double") / (n - 1)).alias("pr"),
    )
    w = W.orderBy("k", "uid")
    want = df.select(
        "uid",
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).cast("long").alias("q4"),
        F.percent_rank().over(w).alias("pr"),
    )
    g = {r["uid"]: (r["rn"], r["q4"], r["pr"]) for r in got.collect()}
    e = {r["uid"]: (r["rn"], r["q4"], r["pr"]) for r in want.collect()}
    assert g == e


def test_partitioned_running_sum_matches(spark):
    rng = random.Random(99)
    rows = [
        Row(g=rng.choice(["a", "b", "c"]), k=rng.randint(0, 40), uid=i,
            v=rng.randint(-5, 5))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows)
    got = bucketed_running_sum(
        df, "k", ["k", "uid"], F.col("v").cast("long"), "run",
        partition_cols=["g"], n_buckets=6,
    )
    w = (
        W.partitionBy("g").orderBy("k", "uid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    want = df.select(
        "uid", F.sum(F.col("v").cast("long")).over(w).alias("run")
    )
    g = {r["uid"]: r["run"] for r in got.select("uid", "run").collect()}
    e = {r["uid"]: r["run"] for r in want.collect()}
    assert g == e


def test_null_partition_keys_are_kept(spark):
    """Window.partitionBy treats NULL as an ordinary group; the offsets
    attach must too (a plain equi-join silently drops the null group —
    the round-8 review's top finding)."""
    rows = [
        Row(g="a", k=1, uid=0, v=10),
        Row(g=None, k=2, uid=1, v=20),
        Row(g=None, k=5, uid=2, v=5),
        Row(g="b", k=3, uid=3, v=7),
    ]
    df = spark.createDataFrame(rows)
    got = bucketed_running_sum(
        df, "k", ["k", "uid"], F.col("v").cast("long"), "run",
        partition_cols=["g"], n_buckets=4,
    )
    w = (
        W.partitionBy("g").orderBy("k", "uid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    want = df.select(
        "uid", F.sum(F.col("v").cast("long")).over(w).alias("run")
    )
    g = {r["uid"]: r["run"] for r in got.select("uid", "run").collect()}
    e = {r["uid"]: r["run"] for r in want.collect()}
    assert g == e
    assert len(g) == 4


def test_nulls_last_matches_desc_window(spark):
    """nulls='last' == ordering by the negated key DESC NULLS LAST —
    the DESC-via-negation case (rfm m_score on a NULL-sum monetary)."""
    rng = random.Random(5)
    rows = [
        Row(k=(None if i % 7 == 0 else rng.randint(-50, 50)), uid=i,
            v=rng.randint(1, 9))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k int, uid int, v int")
    got = bucketed_row_number(
        df, "k", ["k", "uid"], "rn", n_buckets=6, nulls="last"
    )
    w = W.orderBy(F.col("k").asc_nulls_last(), "uid")
    want = df.select("uid", F.row_number().over(w).alias("rn"))
    g = {r["uid"]: r["rn"] for r in got.select("uid", "rn").collect()}
    e = {r["uid"]: r["rn"] for r in want.collect()}
    assert g == e


def test_compact_gate_matches_bucketed(spark, monkeypatch, tmp_path):
    """GW_PLAIN_WINDOW_MAX_BYTES routes compact inputs to the plain
    window; both routes must emit identical values on the adversarial
    keysets (incl. nulls and partition columns). Each frame's analyzed
    plan shows which route it took, so a gate that sends both sides the
    same way fails here."""
    rng = random.Random(17)
    rows = [
        Row(
            g=rng.choice(["a", "b", None]),
            k=(None if i % 11 == 0 else rng.randint(-50, 50)),
            uid=i,
            v=rng.randint(-5, 5),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, k int, uid int, v int")
    # The gate reads Catalyst's size estimate, and an in-memory frame
    # has none (it reads as Long.MaxValue, i.e. unknown): the plain
    # route gets the same rows read back from parquet.
    df.write.parquet(str(tmp_path / "keys"))
    on_disk = spark.read.parquet(str(tmp_path / "keys"))
    analyzed = lambda d: d._jdf.queryExecution().analyzed().toString()  # noqa: E731
    for nulls in ("first", "last"):
        monkeypatch.setattr(gw, "GW_PLAIN_WINDOW_MAX_BYTES", 1 << 40)
        plain = gw.bucketed_running_sums(
            on_disk, "k", ["k", "uid"], [(F.col("v").cast("long"), "run")],
            partition_cols=["g"], n_buckets=6, nulls=nulls,
        )
        p = {r["uid"]: r["run"] for r in plain.select("uid", "run").collect()}
        monkeypatch.setattr(gw, "GW_PLAIN_WINDOW_MAX_BYTES", 0)
        bucketed = gw.bucketed_running_sums(
            df, "k", ["k", "uid"], [(F.col("v").cast("long"), "run")],
            partition_cols=["g"], n_buckets=6, nulls=nulls,
        )
        b = {r["uid"]: r["run"] for r in bucketed.select("uid", "run").collect()}
        assert p == b and len(p) == 500
        assert "_gw_bucket" not in analyzed(plain)
        assert "_gw_bucket" in analyzed(bucketed)


def test_ntile_closed_form_all_small_n(spark):
    """ntile_from_row_number == F.ntile for every (n, k) with n<=12,
    k in {1..6} — the boundary arithmetic (n<k, n=k, n%k edges) has no
    hidden cases left at this exhaustiveness."""
    from pyspark.sql import Row as R

    for n in range(1, 13):
        df = spark.createDataFrame([R(uid=i) for i in range(n)])
        w = W.orderBy("uid")
        for k in range(1, 7):
            both = df.select(
                "uid",
                F.ntile(k).over(w).cast("long").alias("want"),
                ntile_from_row_number(
                    F.row_number().over(w), F.lit(n), k
                ).alias("got"),
            ).collect()
            for r in both:
                assert r["got"] == r["want"], (n, k, r)
