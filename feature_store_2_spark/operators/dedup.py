"""Deduplication operators for training-data pipelines (north-star
extension): exact, n-gram Jaccard, MinHash+LSH banding, SimHash.

Everything is built-in expressions (md5/conv/bit ops/array lambdas) —
no Python row path — and every hash is md5-derived so signatures are
engine-reproducible (the DuckDB oracles compute the identical values).

Scale shapes:
  * exact dedup        — one hash-shuffle on the fingerprint.
  * shingle Jaccard    — exact values, evaluated only on prefix-filtered
                         candidates (ngram_jaccard_pairs_prefix,
                         AllPairs-style — deterministic-complete); the
                         full shingle self-join form is kept solely as
                         the reference the prefix path is tested against.
  * MinHash + banding  — the 100 TB path: fixed-width signature per doc
                         (one agg), candidates via band-key equi-join.
  * SimHash            — one 32-bit signature per doc; near-pairs via
                         exact byte-bucket candidates (pigeonhole), not
                         an all-pairs join.
"""

from __future__ import annotations

import hashlib
import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from feature_store_2_spark.functions.vector import (
    vector_exact,
    cosine_from_parts,
    qdot,
    qnorm2,
    quantize,
)
from feature_store_2_spark.operators.sizing import (
    CPU_EXPANDING_BYTES_PER_TASK,
    SRP_BYTES_PER_TASK,
    adaptive_partitions,
    plan_size_bytes,
)
from feature_store_2_spark.operators.text import tokens
from feature_store_2_spark.operators.cache import track_persist as _track_persist

N_MINHASHES = 16
N_BANDS = 4  # 4 rows per band


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>); empty when the
    document has fewer than n words."""
    toks = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_dupes, canonical_id): md5 groups; canonical =
    lowest id. The degenerate (all-unique) case still exercises the
    hash+shuffle pipeline."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col).cast("binary")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dupes"), F.min(id_col).alias("canonical_id"))
    )


def shingle_exploded(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bytes_per_task: int | None = None,
) -> DataFrame:
    # Repartition by doc id BEFORE the explode: a compact documents
    # parquet often scans as few partitions, which would serialize the
    # shingle/hash work onto a handful of cores; hashing the narrow doc
    # rows across the cluster first is one cheap shuffle. The explicit
    # partition count matters: compressed docs look tiny to AQE, which
    # would coalesce a bare repartition(col) back to ~1 partition even
    # though the post-explode CPU work is large. The count is derived
    # from input size (operators/sizing.py): small corpora stop paying
    # defaultParallelism near-empty tasks per downstream stage (the
    # persisted shingle frame pins its partition count for every
    # consumer), large corpora saturate at defaultParallelism exactly
    # as before.
    # bytes_per_task: consumers with denser per-shingle CPU (minhash's
    # md5 + 16 modular minima) pass a smaller target so the same input
    # spreads wider — measured 1.74 -> 1.26 s on dedup_minhash_lsh at
    # sf0.1 going 128K -> 32K, while the jaccard-verify consumers
    # measured best at the 128K default (interleaved min-of-3 A/B).
    n_parts = adaptive_partitions(
        docs, bytes_per_task or CPU_EXPANDING_BYTES_PER_TASK
    )
    return docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )


def _jaccard_from_common(
    common: DataFrame, sizes: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """(doc1, doc2, jaccard >= threshold) from per-pair intersection
    counts + per-doc set sizes. |∩| / (|A|+|B|-|∩|) — one integer
    division, engine-exact."""
    s1 = sizes.select(F.col(id_col).alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("doc2"), F.col("n_sh").alias("n2"))
    jac = F.col("n_common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    ).cast("double")
    return (
        common.join(s1, "doc1")
        .join(s2, "doc2")
        .select("doc1", "doc2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact pairwise Jaccard over word n-gram shingle sets, keeping
    pairs >= threshold, via the full shingle self-join. Quadratic on hot
    shingles — use ``ngram_jaccard_pairs_prefix`` beyond test scale
    (this form is kept as the reference implementation the prefix path
    is equality-tested against)."""
    # Persisted: the shingle table feeds the pair self-join twice plus
    # the per-doc size aggregate (three scans of one explode).
    sh = shingle_exploded(docs, text_col, id_col, n).transform(_track_persist)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc1"), F.col(f"b.{id_col}").alias("doc2")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_from_common(common, sizes, threshold, id_col)


# Docs-relation size gate for the broadcast verify inside
# ngram_jaccard_pairs_prefix: ~32 MB of raw text produces a few hundred
# MB of broadcast hash arrays (8 B per shingle + array framing) — the
# upper end of the guide's comfortable broadcast budget. Catalyst's
# estimate is driver-side metadata; unknown sizes fall back to the
# (always-correct) expansion path.
VERIFY_BROADCAST_MAX_DOC_BYTES = 32 << 20


def _verify_fits_broadcast(docs: DataFrame) -> bool:
    est = plan_size_bytes(docs)
    return est is not None and 0 < est <= VERIFY_BROADCAST_MAX_DOC_BYTES


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard >= threshold via PREFIX FILTERING (AllPairs/SSJoin,
    Bayardo et al. WWW'07) — deterministic-complete candidates, no
    quadratic hot-shingle self-join and no LSH recall gamble.

    Theorem: order shingles by (global doc-frequency, shingle). If
    J(A,B) >= t then |A∩B| >= t*|A∪B| >= ceil(t*|A|), so the
    intersection must touch A's prefix of its |A| - ceil(t*|A|) + 1
    rarest shingles (else |∩| <= ceil(t*|A|) - 1). Candidates are
    therefore (prefix shingle) ⋈ (full shingle table) — an equi-join in
    which globally-frequent shingles almost never appear on the prefix
    side, exactly the hot keys that made the naive self-join quadratic.

    Why not MinHash-LSH candidates here: our signatures use
    Kirsch-Mitzenmacher double hashing (one md5 per shingle), and KM
    minima are correlated across hash indices — each shingle is a line
    h1 + i*h2, so the per-i minimum is a lower envelope of lines that
    one (small-h1, small-h2) shingle can dominate entirely. Banded
    recall is then ~P(dominating shingle shared), not the independent-
    hash 1-(1-j^r)^b, and a 0.9-Jaccard pair can miss every band. Fine
    for the LSH *candidate* operator (its oracle mirrors the same
    construction) — not for reproducing an exact threshold join.
    """
    sh = shingle_exploded(docs, text_col, id_col, n).transform(_track_persist)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    rn = F.row_number().over(
        W.partitionBy(id_col).orderBy("df", "shingle")
    )
    # prefix_len = n_sh - ceil(t*n_sh) + 1; the 1e-9 nudge keeps an
    # exactly-integer t*n_sh from rounding the prefix one too short
    # (a too-long prefix is always safe, too short is not).
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + 1
    )
    pref = (
        sh.join(freq, "shingle")
        .withColumn("rn", rn)
        .join(sizes, id_col)
        .filter(F.col("rn") <= prefix_len)
        .select(
            F.col(id_col).alias("doc_a"),
            "shingle",
            F.col("rn").alias("rn_a"),
            F.col("n_sh").alias("sa"),
        )
    )
    # PREFIX x PREFIX, not prefix x full (PPJoin, Xiao et al. WWW'08):
    # take the smallest common token s* under the global (df, shingle)
    # order. If s* fell outside prefix(A), every common token would sit
    # among A's ceil(t*|A|)-1 most frequent — |A∩B| <= ceil(t*|A|)-1 <
    # t*|A∪B|, contradicting J >= t; symmetrically for B. So some
    # common token lies in BOTH prefixes and the self-join of the
    # prefix table is a complete candidate set. Census receipt on the
    # 30x rehearsal dir (BENCH_NOTES 8s): raw join volume 33.2M ->
    # 29.8M and distinct candidates 15.3M -> 12.3M for the same 7,680
    # verified pairs — a ~20% candidate cut at t=0.5 on THIS corpus
    # (near-dup families share RARE shingles, which land in both
    # prefixes regardless; the cut grows with t and with hot-token
    # mass since frequent shingles are what prefixes exclude), for
    # free — the index side shrinks, no output changes (verify is
    # exact), and the join's worst case drops from sum(pdf*df) to
    # sum(pdf^2).
    #
    # r11, POSITIONAL + LENGTH filtering ON THE JOIN ROWS (the second
    # "P" of PPJoin), map-side before the dedup exchange. Each joined
    # row knows both docs' sizes and the common token's rank in each
    # doc's full (df, shingle)-sorted list, which gives two exact
    # prune rules for J >= t  <=>  c >= alpha := ceil(t*(sa+sb)/(1+t)):
    #   * length (Arasu/Bayardo): t*max(sa,sb) <= c <= min(sa,sb) —
    #     previously applied later via two size joins, now free here;
    #   * positional (Xiao et al.): for the SMALLEST common token s*
    #     (which the prefix theorem guarantees is one of these rows),
    #     every common token is >= s* in the global order, so
    #     c <= 1 + min(sa - rn_a, sb - rn_b). A true pair therefore
    #     keeps at least its s* row; rows of spuriously-shared frequent
    #     prefix tokens fail the bound and never reach the shuffle.
    # Both bounds are upper bounds on c, so no true pair is lost
    # (candidates stay deterministic-complete; verify is exact).
    # Measured at sf0.1: 409,103 -> 124,979 distinct candidates (-69.5%).
    pref_b = pref.select(
        F.col("doc_a").alias("doc_b"),
        "shingle",
        F.col("rn_a").alias("rn_b"),
        F.col("sa").alias("sb"),
    )
    alpha = F.ceil(
        F.lit(threshold) * (F.col("sa") + F.col("sb")) / F.lit(1.0 + threshold)
        - F.lit(1e-9)
    )
    cand = (
        pref.join(pref_b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("sa", "sb").cast("double")
            >= F.lit(threshold) * F.greatest("sa", "sb") - F.lit(1e-9)
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("sa") - F.col("rn_a"), F.col("sb") - F.col("rn_b")
            )
            >= alpha
        )
        .groupBy(
            F.col("doc_a").alias("doc1"), F.col("doc_b").alias("doc2")
        )
        .agg(F.first("sa").alias("s1"), F.first("sb").alias("s2"))
    )
    # --- verify: exact |A∩B| per candidate pair -----------------------
    # The expansion below shuffles one row per (pair, expanded shingle):
    # the verify's volume term. Measured at the 100x rehearsal dir
    # (500k docs) the naive form — expand doc1's full set, string
    # shingle keys — is sum(|A|) = 3.13B rows (~125 GB pre-compression),
    # a disk-spill cliff on a single box even though the growth is
    # exactly linear (10x staged dir: 313M rows). Three classic AllPairs
    # refinements cut it ~4x without changing a single output value:
    #   1. length filter (Arasu/Bayardo): J >= t forces
    #      t*max(|A|,|B|) <= |A∩B| <= min(|A|,|B|) — prune pairs whose
    #      sizes alone rule the threshold out (25% of candidates here);
    #   2. expand the SMALLER side — intersection is symmetric, so the
    #      volume drops from sum(|A|) to sum(min(|A|,|B|)) (another 20%);
    #   3. 64-bit shingle keys — xxhash64 narrows the expanded row from
    #      a ~25-char word-trigram UTF8 payload to a long. Collisions
    #      would need two DISTINCT shingles of the SAME candidate pair
    #      to collide: P ~ |shingles|^2 / 2^64 per pair (~1e-6 across
    #      the whole 100x corpus) — far below any measurable effect and
    #      zero in every gate corpus (values verified identical).
    # r11 SIZE-GATED BROADCAST VERIFY (the big win below rehearsal
    # scale, and the scale-correct plan whenever the hashed-shingle
    # corpus fits the broadcast budget): collect each doc's 64-bit
    # shingle hashes into ONE array row, broadcast the array table to
    # both sides of the candidate pairs, and count the intersection
    # map-side with array_intersect — ZERO expansion shuffle and zero
    # verify joins on the shuffle path (guide §3.1/§2.3: replace the
    # dominant shuffle with a broadcast of keys). Values are identical
    # to the expansion path: both count |h(A) ∩ h(B)| over per-doc
    # DISTINCT shingle hashes (same xxhash64 keys, same collision
    # tolerance as refinement 3), and the Jaccard expression is the
    # exact double division of _jaccard_from_common. The gate uses
    # Catalyst's driver-side size estimate of the doc relation (no
    # job): ~32 MB of raw text ~ a few hundred MB of broadcast hash
    # arrays at the 30x rehearsal — inside the guide's "few hundred
    # MB is fine" budget; past the gate the AllPairs expansion path
    # below remains the proven 100x strategy (BENCH_NOTES 8q/8s).
    if _verify_fits_broadcast(docs):
        arrs = sh.groupBy(id_col).agg(
            F.collect_list(F.xxhash64("shingle")).alias("hs")
        )
        a1 = arrs.select(F.col(id_col).alias("doc1"), F.col("hs").alias("h1"))
        a2 = arrs.select(F.col(id_col).alias("doc2"), F.col("hs").alias("h2"))
        jac = F.col("n_common").cast("double") / (
            F.col("s1") + F.col("s2") - F.col("n_common")
        ).cast("double")
        return (
            cand.join(F.broadcast(a1), "doc1")
            .join(F.broadcast(a2), "doc2")
            .withColumn(
                "n_common", F.size(F.array_intersect("h1", "h2"))
            )
            .select("doc1", "doc2", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    sized = (
        cand.select(
            "doc1",
            "doc2",
            F.when(
                (F.col("s1") < F.col("s2"))
                | (
                    (F.col("s1") == F.col("s2"))
                    & (F.col("doc1") <= F.col("doc2"))
                ),
                F.col("doc1"),
            )
            .otherwise(F.col("doc2"))
            .alias("doc_small"),
        )
        .withColumn(
            "doc_big",
            F.when(
                F.col("doc_small") == F.col("doc1"), F.col("doc2")
            ).otherwise(F.col("doc1")),
        )
    )
    hashed = sh.select(F.col(id_col), F.xxhash64("shingle").alias("h"))
    small_sh = hashed.select(F.col(id_col).alias("doc_small"), "h")
    big_sh = hashed.select(F.col(id_col).alias("doc_big"), "h")
    # Candidate cardinality is data-dependent (adversarially near-dup
    # corpora blow it up) — no forced broadcast: AQE broadcasts the
    # pair side only when it measures small.
    #
    # Refinement 4 (r9): the expanded rows carry ONLY (doc_small,
    # doc_big, h) — 3 longs, not the 4 of the earlier (doc1, doc2,
    # doc_big, h) — because cand enforces doc1 < doc2, so the original
    # orientation is recoverable for free after the count agg as
    # doc1 = least(doc_small, doc_big), doc2 = greatest. A 25% width
    # cut on the verify's dominant shuffle (the single-box spill
    # residual at the 100x rehearsal), zero value change.
    common = (
        small_sh.join(sized.select("doc_small", "doc_big"), "doc_small")
        .join(big_sh, ["doc_big", "h"])
        .groupBy("doc_small", "doc_big")
        .agg(F.count("*").alias("n_common"))
        .select(
            F.least("doc_small", "doc_big").alias("doc1"),
            F.greatest("doc_small", "doc_big").alias("doc2"),
            "n_common",
        )
    )
    return _jaccard_from_common(common, sizes, threshold, id_col)


# 2^61 - 1 (Mersenne): modulus for the double-hashing permutation family.
MERSENNE_61 = (1 << 61) - 1


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per doc: id, h0..h{15}, band0..band3 (band = '_'-joined
    group of 4 consecutive minhashes). Single explode + single agg.

    Hashing: ONE md5 per shingle, split into two 56-bit halves (h1, h2);
    permutation i is (h1 + i*h2) mod (2^61-1) — Kirsch-Mitzenmacher
    double hashing. 16x less hash work than k independent digests,
    integer (not 32-char string) min-aggregation, and every step is
    engine-portable so the DuckDB oracle reproduces it exactly.
    h1 + 15*h2 < 2^60, so the arithmetic never overflows a BIGINT.

    Caveat (measured, not theoretical): KM minima are CORRELATED across
    i — each shingle is a line h1 + i*h2 and the signature is the lower
    envelope of lines, which a single small-(h1,h2) shingle can own
    outright. Candidate RECALL is therefore lower than the
    independent-hash 1-(1-j^r)^b formula; use these signatures where the
    consumer tolerates that (LSH candidate mining, its oracle mirrors
    the construction) and prefix filtering where exact completeness is
    required (ngram_jaccard_pairs_prefix).
    """
    sh = shingle_exploded(docs, text_col, id_col, bytes_per_task=32 * 1024)
    m = F.md5(F.col("shingle").cast("binary"))
    halves = sh.select(
        F.col(id_col),
        F.conv(F.substring(m, 1, 14), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 15, 14), 16, 10).cast("long").alias("h2"),
    )
    sig = halves.groupBy(id_col).agg(
        *[
            F.min(
                F.pmod(F.col("h1") + F.lit(seed) * F.col("h2"), F.lit(MERSENNE_61))
            ).alias(f"h{seed}")
            for seed in range(N_MINHASHES)
        ]
    )
    rows_per_band = N_MINHASHES // N_BANDS
    for band in range(N_BANDS):
        parts = [f"h{band * rows_per_band + r}" for r in range(rows_per_band)]
        sig = sig.withColumn(f"band{band}", F.concat_ws("_", *parts))
    return sig


def minhash_lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rows_per_band: int = N_MINHASHES // N_BANDS,
) -> DataFrame:
    """(doc1, doc2, n_shared_bands): pairs whose signatures collide in
    >=1 LSH band of ``rows_per_band`` consecutive minhashes. The
    equi-join on (band_idx, band_key) is the scale path — no quadratic
    shingle join. Smaller r -> higher recall at lower Jaccard (more
    candidates); the r=4 default matches the banded signature columns."""
    if N_MINHASHES % rows_per_band:
        raise ValueError(f"rows_per_band must divide {N_MINHASHES}")
    n_bands = N_MINHASHES // rows_per_band
    sig = minhash_signatures(docs, text_col, id_col)
    # Persist the banded signature table: the candidate self-join reads
    # it twice (broadcast + streamed side), and without this each side
    # re-runs the whole shingle+minhash pipeline — 2x the dominant cost.
    # At 100 TB this materialization is a real signature table written
    # to storage once and joined thereafter (n_bands narrow rows per doc).
    bands = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"h{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    ).transform(_track_persist)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc1"), F.col(f"b.{id_col}").alias("doc2")
        )
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )


SRP_BITS = 32
SRP_BAND_BITS = 4  # 8 bands of 4 bits


def srp_adaptive_params(
    n: int,
    threshold: float,
    target_occupancy: int = 64,
    recall: float = 0.9,
    max_bits: int = 256,
) -> tuple[int, int]:
    """(n_bits, band_bits) sized to the CORPUS, not a constant.

    The round-7 scale rehearsal measured the failure mode of fixed
    band width directly: with SRP_BAND_BITS=4 every band has only 16
    possible buckets, so expected candidate pairs are ~n^2/16 per band
    REGARDLESS of corpus size — a hidden quadratic invisible at sf0.1
    (time-vs-rows exponent 1.42 at 10x, BENCH_NOTES.md r7). The fix is
    standard LSH sizing: band_bits grows with log2(n/occupancy) so
    expected bucket occupancy — and with it per-vector candidate work —
    stays bounded, and the band COUNT grows to hold the recall bound
    1-(1-p^r)^b >= recall at the given cosine threshold
    (p = 1 - acos(t)/pi). Candidate volume is then ~n * occupancy *
    bands: linear in n with a log-ish band factor.

    No parameter choice makes an LSH similarity JOIN truly linear:
    theory gives ~n^(1+rho) with rho = ln(1/p1)/ln(1/p2). At the
    catalog demo threshold 0.45 (p1≈0.65) rho≈0.62 — LSH barely beats
    brute force, which is WHY production near-dup runs t >= 0.8
    (rho≈0.33) or 0.9 (rho≈0.21). ``max_bits`` caps the signature so a
    low-threshold/high-recall ask degrades recall instead of exploding
    the hyperplane matrix (bands are clamped to max_bits//band_bits).

    Since round 8 the driver-scored catalog entries ride the integer
    twin of this sizing (srp_scored_params + the lookup-CTE oracle —
    no libm in the SQL derivation); this float-parameter helper remains
    the free-threshold production entry point (used by the scale
    rehearsal; recall floor pytest-pinned at small scale)."""
    band_bits = max(
        SRP_BAND_BITS, math.ceil(math.log2(max(n, 2) / target_occupancy))
    )
    # clamp recall to the open interval: recall >= 1.0 would ask for
    # log(0) (infinite bands — max_bits caps it anyway), recall <= 0
    # for log of >= 1 (r7 advisor edge finding)
    recall = min(max(recall, 1e-12), 1.0 - 1e-12)
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    pr = p**band_bits
    if pr >= 1.0:
        bands = 1
    elif pr <= 0.0:
        # threshold = -1 gives p = 0: no band can ever collide, so any
        # finite band count misses the recall bound — degrade to the
        # max_bits cap (mirrors the pr >= 1.0 short-circuit)
        bands = max(1, max_bits // band_bits)
    else:
        # log1p: for pr near 0, log(1.0 - pr) underflows to exactly 0.0
        # (ZeroDivisionError) while log1p(-pr) == -pr; the ratio can
        # still be astronomically large (denormal pr), so cap BEFORE
        # ceil to avoid float->int overflow
        cap = max(1, max_bits // band_bits)
        ratio = math.log1p(-recall) / math.log1p(-pr)
        bands = cap if ratio > cap else max(1, math.ceil(ratio))
    bands = min(bands, max(1, max_bits // band_bits))
    return bands * band_bits, band_bits


# --- scored-entry adaptive sizing -----------------------------------------
#
# The r7 scale rehearsal measured the fixed 32/4 SRP layout quadratic
# (candidates ~n^2/16 per band, exponent 1.52 at 10x) and the verdict's
# ask is that the DRIVER-SCORED entries ride the adaptive sizing too.
# The constraint is oracle parity: DuckDB must derive the SAME params
# from the SAME corpus with no libm in the derivation. So:
#   * band width:  min k >= SRP_BAND_BITS with (1 << k) * occupancy >= n
#     — pure integer comparisons, identical in Python and SQL
#     (generate_series + a count(*) subquery);
#   * band count:  the recall bound evaluated ONCE in Python
#     (srp_scored_bands) and embedded in the oracle as an integer
#     lookup keyed by band width — SQL never touches acos/log.
SRP_SCORED_OCCUPANCY = 64
SRP_SCORED_RECALL = 0.9
SRP_SCORED_THRESHOLD = 0.45  # the demo corpus's similarity regime
SRP_SCORED_MAX_BITS = 256
SRP_SCORED_MAX_BAND_BITS = 32


def srp_scored_bands(
    band_bits: int,
    threshold: float = SRP_SCORED_THRESHOLD,
    recall: float = SRP_SCORED_RECALL,
    max_bits: int = SRP_SCORED_MAX_BITS,
) -> int:
    """Band count for a given band width: smallest b with
    1-(1-p^band_bits)^b >= recall, capped at max_bits // band_bits
    (same shape as srp_adaptive_params; shared edge handling)."""
    recall = min(max(recall, 1e-12), 1.0 - 1e-12)
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    pr = p**band_bits
    cap = max(1, max_bits // band_bits)
    if pr >= 1.0:
        return 1
    if pr <= 0.0:
        return cap
    ratio = math.log1p(-recall) / math.log1p(-pr)
    return cap if ratio > cap else max(1, math.ceil(ratio))


def srp_scored_params(n: int) -> tuple[int, int]:
    """(n_bits, band_bits) for the driver-scored ANN entries, derived
    from the corpus size with the integer logic above. Equals the fixed
    32/4-family behavior only in the sense that band_bits floors at
    SRP_BAND_BITS; the band count follows the recall bound (12 bands at
    band_bits=4), so even small corpora get the production recall."""
    band_bits = SRP_BAND_BITS
    while (
        band_bits < SRP_SCORED_MAX_BAND_BITS
        and (1 << band_bits) * SRP_SCORED_OCCUPANCY < n
    ):
        band_bits += 1
    bands = srp_scored_bands(band_bits)
    return bands * band_bits, band_bits


def srp_scored_lookup_rows() -> str:
    """The (band_bits, bands, n_bits) integer lookup embedded in the
    oracle SQL — one row per legal band width, values from
    srp_scored_bands so Python and SQL share a single source of truth."""
    return ",".join(
        f"({bb},{srp_scored_bands(bb)},{srp_scored_bands(bb) * bb})"
        for bb in range(SRP_BAND_BITS, SRP_SCORED_MAX_BAND_BITS + 1)
    )


# Vector-attach strategy bound for the scored wrappers: below this
# corpus size the (vid, quantized-vector, norm) table (~600 B/row →
# ~600 MB at the bound) broadcasts and the candidate pairs never
# reshuffle carrying vectors. Above it the table is genuinely big and
# the partitioned attach is the right plan (executors, not one JVM,
# absorb the shuffle). Found at the 30x rehearsal: 58M candidate pairs
# x 520 B attached vectors = two ~30 GB sort-merge shuffles that spilled
# — 3.4x per-candidate degradation vs the linear candidate census.
SRP_ATTACH_BROADCAST_MAX = 1_000_000

# Matrix re-rank bound: below this corpus size the exact re-rank of
# candidate pairs runs as ONE numpy gather + integer einsum per Arrow
# batch against a broadcast (vid-sorted) quantized matrix, with only
# the two candidate ids crossing the exchange — the guide §8 move
# (decide/score on lightweight proxies; never move the payload). The
# JVM higher-order form (aggregate over zip_with) is interpreted per
# element and allocates a 64-long array per pair: measured at sf0.1 on
# the 1.8M-pair scored candidate set, 1.53 s JVM vs 0.61 s matrix,
# bit-identical (int64 dot is exact under the VEC_NORM2_BOUND
# envelope; r12 equality check: 0 differing rows). 2^17 vectors keeps
# the matrix at 64 MB (x one copy per reused Python worker); past the
# bound the existing broadcast/partitioned vector attach is unchanged.
SRP_MATRIX_RERANK_MAX = 131_072


def _matrix_dot_udf(base: DataFrame, dim: int = 64):
    """Pandas UDF ``(query_vid, neighbor_vid) -> exact int64 dot`` over
    a driver-collected, vid-sorted quantized matrix broadcast to the
    Python workers. ``base`` must carry (vid, v) with every id the
    candidate pairs can reference. The collect is a bounded action at
    plan-construction time: it takes at most SRP_MATRIX_RERANK_MAX + 1
    rows and raises past the bound. A vector whose length is not
    ``dim`` raises here, and a candidate id absent from ``base`` raises
    in the UDF, rather than scoring against another row's vector."""
    from pyspark.sql.types import LongType

    rows = base.select("vid", "v").limit(SRP_MATRIX_RERANK_MAX + 1).collect()
    if len(rows) > SRP_MATRIX_RERANK_MAX:
        raise ValueError(
            f"matrix re-rank: corpus exceeds SRP_MATRIX_RERANK_MAX="
            f"{SRP_MATRIX_RERANK_MAX} vectors; use matrix_rerank=False"
        )
    bad = [r["vid"] for r in rows if len(r["v"]) != dim]
    if bad:
        raise ValueError(
            f"matrix re-rank: vectors of length != dim={dim} at vid {bad[:5]}"
        )
    vids = np.array([r["vid"] for r in rows], dtype=np.int64)
    order = np.argsort(vids)
    vids = vids[order]
    mat = np.array([r["v"] for r in rows], dtype=np.int64).reshape(
        len(rows), dim
    )[order]
    sc = base.sparkSession.sparkContext
    b_vids, b_mat = sc.broadcast(vids), sc.broadcast(mat)

    @F.pandas_udf(LongType())
    def dot_ids(q: pd.Series, nb: pd.Series) -> pd.Series:
        if len(q) == 0:
            return pd.Series([], dtype="int64")
        vv, m = b_vids.value, b_mat.value
        ids = np.concatenate([q.to_numpy(), nb.to_numpy()])
        idx = np.minimum(np.searchsorted(vv, ids), max(len(vv) - 1, 0))
        if not len(vv) or (vv[idx] != ids).any():
            raise ValueError(
                "matrix re-rank: candidate vid absent from the matrix"
            )
        qi, ni = idx[: len(q)], idx[len(q) :]
        return pd.Series(np.einsum("ij,ij->i", m[qi], m[ni]))

    return dot_ids


def embedding_srp_near_pairs_scored(
    emb: DataFrame, threshold: float = SRP_SCORED_THRESHOLD, **kw
) -> DataFrame:
    """Adaptive-sized near-pairs: one count() (bounded driver scalar —
    the same corpus-size metadata the oracle derives via count(*)),
    then the standard operator with the derived layout."""
    n = emb.count()
    n_bits, band_bits = srp_scored_params(n)
    kw.setdefault("broadcast_attach", n <= SRP_ATTACH_BROADCAST_MAX)
    kw.setdefault("matrix_rerank", n <= SRP_MATRIX_RERANK_MAX)
    return embedding_srp_near_pairs(
        emb, threshold=threshold, n_bits=n_bits, band_bits=band_bits, **kw
    )


def embedding_srp_knn_join_scored(emb: DataFrame, k: int = 5, **kw) -> DataFrame:
    """Adaptive-sized corpus x corpus k-NN join (see near_pairs twin)."""
    n = emb.count()
    n_bits, band_bits = srp_scored_params(n)
    kw.setdefault("broadcast_attach", n <= SRP_ATTACH_BROADCAST_MAX)
    kw.setdefault("matrix_rerank", n <= SRP_MATRIX_RERANK_MAX)
    return embedding_srp_knn_join(
        emb, k=k, n_bits=n_bits, band_bits=band_bits, **kw
    )


def embedding_srp_query_topk_scored(
    emb: DataFrame, query_filter: Column, k: int = 5, **kw
) -> DataFrame:
    """Adaptive-sized query-set ANN top-k: the knn-join candidate
    machinery with the band join's QUERY side restricted to
    ``query_filter`` (over the internal ``vid`` column) and broadcast —
    the "few probes against the whole corpus index" shape. Replaces the
    fixed 16-bucket hamming-1 multiprobe form on the scored path (r8
    verdict: constant ~31% corpus fraction per query); under
    srp_scored_params the per-query candidate count is ~bands x
    SRP_SCORED_OCCUPANCY, independent of corpus size, with recall held
    by the band-count bound instead of multiprobe."""
    n = emb.count()
    n_bits, band_bits = srp_scored_params(n)
    kw.setdefault("broadcast_attach", n <= SRP_ATTACH_BROADCAST_MAX)
    kw.setdefault("matrix_rerank", n <= SRP_MATRIX_RERANK_MAX)
    return embedding_srp_knn_join(
        emb,
        k=k,
        n_bits=n_bits,
        band_bits=band_bits,
        query_filter=query_filter,
        broadcast_queries=True,
        **kw,
    )


def _srp_sign(h: int, i: int) -> int:
    """Hyperplane component sign: +1 iff the ascii code of the first hex
    char of md5("h:i") is even. Chosen because DuckDB evaluates the SAME
    expression (``ascii(substr(md5(h || ':' || i), 1, 1)) % 2``), so the
    oracle rebuilds an identical hyperplane matrix from first principles
    — no literal-matrix smuggling between engines."""
    return 1 if ord(hashlib.md5(f"{h}:{i}".encode()).hexdigest()[0]) % 2 == 0 else -1


def srp_band_keys(
    qvec: Column, n_bits: int = SRP_BITS, band_bits: int = SRP_BAND_BITS, dim: int = 64
) -> Column:
    """Array of (band, bkey) structs for a quantized vector: bit h is
    sign(dot(v, r_h)) >= 0 with the md5-derived +/-1 hyperplane r_h;
    consecutive ``band_bits`` bits pack into one integer band key.
    Integer-exact on quantized vectors — bucket assignment reproduces
    across engines, retries, and layouts."""
    bits = []
    for h in range(n_bits):
        signs = F.array(*[F.lit(_srp_sign(h, i)) for i in range(1, dim + 1)])
        proj = F.aggregate(
            F.zip_with(qvec, signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"))
    bands = []
    for b in range(n_bits // band_bits):
        key = F.lit(0).cast("long")
        for j in range(band_bits):
            key = key + bits[b * band_bits + j] * F.lit(1 << j)
        bands.append(F.struct(F.lit(b).alias("band"), key.alias("bkey")))
    return F.array(*bands)


def srp_band_keys_arrow(
    n_bits: int = 0, band_bits: int = 0, dim: int = 64
):
    """Arrow-batched twin of :func:`srp_band_keys`: the same md5-parity
    hyperplanes, evaluated as ONE int64 numpy matmul per batch instead
    of a ~4k-node Catalyst expression tree. Bit-identical output
    (integer arithmetic throughout; pytest asserts equality with the
    expression form) — but plan analysis drops from seconds to
    milliseconds and the per-row compute rides BLAS. This is the
    "vectorized Pandas UDF when built-ins can't express it *well*"
    escape hatch used deliberately: 32x64 dense projections are linear
    algebra, not relational algebra.

    Returns a pandas_udf mapping array<bigint> -> array<bigint> of
    ``n_bits // band_bits`` band keys (index = band id).
    """
    from pyspark.sql.types import ArrayType, LongType

    n_bits = n_bits or SRP_BITS
    band_bits = band_bits or SRP_BAND_BITS
    signs = np.array(
        [[_srp_sign(h, i) for h in range(n_bits)] for i in range(1, dim + 1)],
        dtype=np.int64,
    )  # (dim, n_bits)
    n_bands = n_bits // band_bits

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack([np.asarray(x, dtype=np.int64) for x in v])
        bits = (m @ signs >= 0).astype(np.int64)  # (n, n_bits)
        keys = np.zeros((len(m), n_bands), dtype=np.int64)
        for b in range(n_bands):
            for j in range(band_bits):
                keys[:, b] += bits[:, b * band_bits + j] << j
        return pd.Series(list(keys))

    return band_keys


def embedding_srp_near_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    n_bits: int = SRP_BITS,
    band_bits: int = SRP_BAND_BITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    broadcast_attach: bool = False,
    matrix_rerank: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs at corpus scale: SRP-LSH band buckets
    generate candidates (equi-join on (band, band_key) — never an
    all-pairs theta join), then the exact quantized cosine re-ranks and
    keeps pairs >= threshold.

    Precision is 1.0 (exact re-rank); recall is the standard SRP band
    bound 1-(1-p^r)^b with p = 1 - acos(cos)/pi — higher thresholds and
    more bits/band prune harder AND recall more, which is why production
    near-dup (t >= 0.8) runs wider bands than this catalog demo
    threshold. The hyperplanes are md5-parity-derived, so the DuckDB
    oracle computes the identical candidate set and the entry is
    hash-gateable despite being approximate."""
    # NULL embeddings do not exist for vector math (operator contract).
    emb = emb.filter(vector_exact(F.col(vec_col)))
    # Size-derived spread (operators/sizing.py): saturates at
    # defaultParallelism on rehearsal-scale inputs, stops manufacturing
    # near-empty tasks on compact ones (the persisted base/bands frames
    # pin their partition count for every downstream stage).
    # SRP_BYTES_PER_TASK (64 KiB): the band-signature + candidate
    # self-join engine is denser per input byte than the 128 KiB text
    # default — r12 {8,16,32} A/B receipts in sizing.py.
    n_parts = adaptive_partitions(emb, bytes_per_task=SRP_BYTES_PER_TASK)
    base = (
        # Spread the (compact, few-file) corpus BEFORE the 32-projection
        # signature expression — same explicit-count repartition as the
        # shingle operators, or the whole SRP compute runs on one core.
        emb.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col).alias("vid"), quantize(F.col(vec_col)).alias("v"))
        .withColumn("n2", qnorm2(F.col("v")))
        .transform(_track_persist)  # feeds the band explode plus both re-rank sides
    )
    # Explicit partition count on the bucket key: a compact embeddings
    # parquet scans as ~1 partition and AQE would coalesce a bare
    # repartition right back, serializing the O(bucket^2) candidate
    # enumeration onto one core (measured 2.8s -> sub-second at sf0.1).
    bands = (
        # Arrow-batched signature (numpy matmul) instead of the
        # equivalent srp_band_keys expression tree: same integers,
        # ~5s less Catalyst analysis/codegen per plan (pytest asserts
        # the two paths emit identical band keys).
        base.select(
            "vid",
            F.posexplode(
                srp_band_keys_arrow(n_bits, band_bits, dim)(F.col("v"))
            ).alias("band", "bkey"),
        )
        .repartition(n_parts, "band", "bkey")
        .transform(_track_persist)  # both sides of the bucket self-join
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec1"), F.col("b.vid").alias("vec2"))
        .repartition(n_parts, "vec1", "vec2")
        .distinct()
    )
    if matrix_rerank:
        # Guide §8: score on ids, never move the vector payload — the
        # exact int64 dot runs as one numpy gather + einsum per Arrow
        # batch against the broadcast matrix (bit-identical to qdot,
        # see SRP_MATRIX_RERANK_MAX), and the attach joins carry only
        # the 8-byte norms.
        dot_ids = _matrix_dot_udf(base, dim)
        va_n = F.broadcast(
            base.select(F.col("vid").alias("vec1"), F.col("n2").alias("na"))
        )
        vb_n = F.broadcast(
            base.select(F.col("vid").alias("vec2"), F.col("n2").alias("nb"))
        )
        cos = cosine_from_parts(
            dot_ids(F.col("vec1"), F.col("vec2")), F.col("na"), F.col("nb")
        )
        return (
            cand.join(va_n, "vec1")
            .join(vb_n, "vec2")
            .select("vec1", "vec2", cos.alias("cosine"))
            .filter(F.col("cosine") >= F.lit(threshold))
        )
    va = base.select(
        F.col("vid").alias("vec1"), F.col("v").alias("va"), F.col("n2").alias("na")
    )
    vb = base.select(
        F.col("vid").alias("vec2"), F.col("v").alias("vb"), F.col("n2").alias("nb")
    )
    if broadcast_attach:
        # Map-side vector attach: without the hint the two attach joins
        # go sort-merge past the auto-broadcast threshold and the
        # candidate table reshuffles TWICE carrying ~520 B of vector
        # payload per row (measured at the 30x rehearsal: ~30 GB spills,
        # 3.4x per-candidate degradation). The vector table is n rows;
        # callers enable this only below SRP_ATTACH_BROADCAST_MAX.
        va, vb = F.broadcast(va), F.broadcast(vb)
    cos = cosine_from_parts(qdot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    return (
        cand.join(va, "vec1")
        .join(vb, "vec2")
        .select("vec1", "vec2", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def embedding_srp_knn_join(
    emb: DataFrame,
    k: int = 5,
    n_bits: int = SRP_BITS,
    band_bits: int = SRP_BAND_BITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    broadcast_attach: bool = False,
    matrix_rerank: bool = False,
    query_filter: Column | None = None,
    broadcast_queries: bool = False,
) -> DataFrame:
    """Corpus x corpus approximate k-NN JOIN: every vector's top-k
    neighbors by exact quantized cosine, candidates restricted to SRP
    band-bucket collisions — the dedup-graph / semantic-clustering
    precursor (each doc's nearest neighbors, not a broadcast query set).

    Scale shape: the ONLY join is the band-bucket equi-join (directed:
    both (a,b) and (b,a) survive, since top-k is per query side), then a
    per-query top-k window partitioned by query id — no all-pairs theta
    join anywhere, and the window never sees more rows per key than that
    key's bucket co-occupants. Precision is exact on the candidate set
    (full-precision re-rank); recall follows the SRP band bound, floor
    pytest-pinned against brute_force_topk. Same md5-parity hyperplanes
    as embedding_srp_near_pairs, so the DuckDB oracle rebuilds the
    identical candidate set and ranking.

    ``query_filter`` (a predicate over the internal ``vid`` column —
    the renamed ``id_col``) restricts the QUERY
    side of the band join — the query-set ANN top-k shape (a handful
    of probes against the full corpus index). The corpus side is
    untouched, so per-query candidate work stays ~bands x bucket
    occupancy (corpus-size-independent under adaptive sizing) instead
    of the fixed-band corpus fraction. With ``broadcast_queries`` the
    filtered query bands ship map-side and the corpus bands never
    shuffle for the candidate join at all — the right plan whenever
    |queries| << |corpus|."""
    from pyspark.sql import Window as W

    # NULL embeddings do not exist for vector math (operator contract).
    emb = emb.filter(vector_exact(F.col(vec_col)))
    # Size-derived spread (operators/sizing.py): saturates at
    # defaultParallelism on rehearsal-scale inputs, stops manufacturing
    # near-empty tasks on compact ones (the persisted base/bands frames
    # pin their partition count for every downstream stage).
    # SRP_BYTES_PER_TASK: same denser-engine sizing as near_pairs —
    # r12 {8,16,32} A/B receipts in sizing.py.
    n_parts = adaptive_partitions(emb, bytes_per_task=SRP_BYTES_PER_TASK)
    base = (
        emb.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col).alias("vid"), quantize(F.col(vec_col)).alias("v"))
        .withColumn("n2", qnorm2(F.col("v")))
        .transform(_track_persist)
    )
    bands = (
        base.select(
            "vid",
            F.posexplode(
                srp_band_keys_arrow(n_bits, band_bits, dim)(F.col("v"))
            ).alias("band", "bkey"),
        )
        .repartition(n_parts, "band", "bkey")
        .transform(_track_persist)
    )
    qbands = (
        bands.filter(query_filter) if query_filter is not None else bands
    )
    if broadcast_queries:
        # Query-set shape: the filtered query bands are |queries| x
        # bands rows (metadata-sized); shipping them map-side keeps the
        # corpus bands from shuffling for the candidate join.
        qbands = F.broadcast(qbands)
    a, b = qbands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vid") != F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("query_id"), F.col("b.vid").alias("neighbor_id"))
        .repartition(n_parts, "query_id", "neighbor_id")
        .distinct()
    )
    if matrix_rerank:
        # Guide §8 id-only re-rank — see embedding_srp_near_pairs.
        dot_ids = _matrix_dot_udf(base, dim)
        va_n = F.broadcast(
            base.select(F.col("vid").alias("query_id"), F.col("n2").alias("na"))
        )
        vb_n = F.broadcast(
            base.select(
                F.col("vid").alias("neighbor_id"), F.col("n2").alias("nb")
            )
        )
        scored = (
            cand.join(va_n, "query_id")
            .join(vb_n, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                cosine_from_parts(
                    dot_ids(F.col("query_id"), F.col("neighbor_id")),
                    F.col("na"),
                    F.col("nb"),
                ).alias("cosine"),
            )
        )
    else:
        va = base.select(
            F.col("vid").alias("query_id"),
            F.col("v").alias("va"),
            F.col("n2").alias("na"),
        )
        vb = base.select(
            F.col("vid").alias("neighbor_id"),
            F.col("v").alias("vb"),
            F.col("n2").alias("nb"),
        )
        if broadcast_attach:
            # See embedding_srp_near_pairs: keeps the candidate pairs
            # from reshuffling twice with vector payloads attached.
            va, vb = F.broadcast(va), F.broadcast(vb)
        cos = cosine_from_parts(
            qdot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")
        )
        scored = (
            cand.join(va, "query_id")
            .join(vb, "neighbor_id")
            .select("query_id", "neighbor_id", cos.alias("cosine"))
        )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


SIMHASH_BITS = 32


def _token_hash32(tok: Column) -> Column:
    """First 8 hex chars of md5 as a 32-bit int — portable across
    engines (DuckDB mirrors it with a digit-fold)."""
    return F.conv(F.substring(F.md5(tok.cast("binary")), 1, 8), 16, 10).cast("long")


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Frequency-weighted 32-bit SimHash per document: explode tokens,
    one grouped agg summing +/-1 per bit, recombine. Bit b of the
    signature is 1 iff Σ_tokens (2*bit_b(h)-1) > 0."""
    # Same pre-explode spread as shingle_exploded (explicit count so AQE
    # doesn't coalesce the small compressed input back to one partition;
    # size-derived so compact corpora don't pay near-empty tasks).
    n_parts = adaptive_partitions(docs)
    tok = docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    )
    h = _token_hash32(F.col("tok"))
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long"),
        range(SIMHASH_BITS),
        F.lit(0).cast("long"),
    )
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


SIMHASH_CHUNKS = 4  # 32-bit signature -> 4 byte-buckets


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc1, doc2, hamming) with hamming(simhash) <= max_hamming.

    Candidate generation is EXACT byte-bucketing, not all-pairs: the
    32-bit signature splits into 4 bytes, and a pair within hamming
    h < 4 differs in at most h bytes, so it shares at least one exact
    byte (pigeonhole). Exploding each signature into its 4
    (byte_idx, byte_val) rows and equi-joining on that bucket therefore
    yields a complete candidate set; the exact ``bit_count(xor)`` filter
    re-ranks. The all-pairs theta join this replaces is O(n^2) row
    *enumeration*; here enumeration is per-bucket (expected n/256 docs
    per bucket per index), the standard multi-index hamming search — and
    the join is an equi-join Spark shuffles by key instead of a
    broadcast nested loop.
    """
    if max_hamming >= SIMHASH_CHUNKS:
        # Pigeonhole guarantee needs h < number of chunks; for larger
        # radii re-chunk (e.g. 2-bit nibbles) rather than fall back to
        # all-pairs.
        raise ValueError(
            f"byte-bucketed candidate generation is exact only for "
            f"max_hamming < {SIMHASH_CHUNKS}; got {max_hamming}"
        )
    sig = simhash(docs, text_col, id_col)
    # Persisted: both sides of the bucket self-join read the exploded
    # byte table (4 narrow rows per doc; at 100 TB this is the
    # materialized signature index, written once and joined thereafter).
    buckets = sig.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * i)
                    .bitwiseAND(F.lit(0xFF))
                    .cast("int")
                    for i in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("byte_idx", "byte_val"),
    ).transform(_track_persist)
    a, b = buckets.alias("a"), buckets.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.byte_idx") == F.col("b.byte_idx"))
            & (F.col("a.byte_val") == F.col("b.byte_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc1"),
            F.col(f"b.{id_col}").alias("doc2"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # A pair sharing k exact bytes surfaces k times; candidate set is
        # tiny after the hamming filter, so the distinct is cheap.
        .distinct()
    )
