"""Query catalog: every operator the engine exposes, as (name, spark_fn,
oracle_sql) triples consumed by the driver contract (__spark_entry__.py).

Each QueryDef's ``fn(spark, sf_dir) -> DataFrame`` is the Spark-first
implementation; ``oracle`` is the equivalent ANSI SQL DuckDB runs on the
same parquet for the correctness gate (row-count + schema +
order-insensitive value hash). ``oracle=None`` marks genuinely
non-SQL-expressible operators (driver falls back to a rows-only check).

Determinism contract for oracle-matched queries:
  * every computed column is aliased identically on both sides;
  * SUM/AVG over doubles accumulate in DECIMAL (exact, order-independent)
    and cast to DOUBLE once, so hashes match bit-for-bit;
  * ORDER-sensitive outputs always carry a total tie-break key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


CATALOG: list[QueryDef] = []


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        if any(q.name == name for q in CATALOG):
            raise ValueError(f"duplicate catalog entry: {name}")
        CATALOG.append(QueryDef(name, fn, oracle, doc))
        return fn

    return deco


# The driver scores catalog entries in order and has a per-round budget
# (~the first 50). The head is DERIVED, not hand-maintained (the r4
# verdict's rotation ask): never-driver-scored entries can't silt up
# because they sort first automatically.
#
# Head construction (size _HEAD_SIZE):
#   1. REGRESSION STAPLES — core queries kept in the head every round as
#      a runtime-drift canary. Listed FIRST so they can never be pushed
#      past the driver's budget by a large batch of new entries (the
#      round-5 situation: >50 never-scored at once).
#   2. PINNED — entries whose CODE materially changed since their last
#      driver row (bug fix, algorithm swap). Scoring changed code beats
#      scoring unchanged code: a fix without a fresh driver row is
#      unverified, and a backlog of never-scored-but-unchanged entries
#      must not defer that verification a round (the r8 situation:
#      the func_array_set_ops fix and the adaptive-SRP promotion would
#      otherwise sit behind 60 never-scored entries).
#   3. NEVER-SCORED — entries with no row in any CORRECTNESS_r0*.json,
#      FIFO by first-registered round then registration order. Every new
#      entry lands here until it earns a driver row; an overflow past
#      the budget stays never-scored and auto-promotes next round, so
#      nothing can silt up — scoring is at worst deferred.
#   4. STALEST RE-SCORE — remaining head slots filled with the entries
#      whose most recent driver row is oldest (round ascending, then
#      registration order), so the whole catalog re-scores over rounds.
# Everything else keeps registration order after the head.
_HEAD_SIZE = 50

_STAPLES: tuple[str, ...] = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "fs_purchase_allowlist",
    "fs_user_aggregates",
    "stream_feature_grants",
    "dedup_minhash_lsh",
    "dedup_embedding_ann_pairs",
    "sessionize_events",
)
# (r8's one-round emb_kmeans_fit staple swap is done — its exact oracle
# earned hash-green pass(r8); demoted back to staleness rotation.)

# Entries whose LAST driver row (or no row yet) predates a material code
# change. They queue immediately AFTER the staples — ahead of the
# never-scored FIFO — so the changed code earns a driver row the same
# round it ships; remove a name once its fresh row lands.
#
# Round 10 pins. All 11 round-9 pins earned green r9 rows
# (CORRECTNESS_r09.json: 50/50 green, zero err) and are cleared. The
# head is 9 staples + the pins below + the 9 never-scored round-9
# registrations + ~25 staleness slots (the r9 verdict's ask #2: rotate
# the oldest r1-r4 green rows back through the driver). Names are
# appended here as round-10 code changes ship.
_PINNED_RESCORE: tuple[str, ...] = (
    # Round 11 pins. All 22 round-10 pins earned green r10 rows
    # (CORRECTNESS_r10.json: 48/50 green + the 2 by-design rows-only)
    # and are cleared.
    #
    # r10 verdict #1 (the streaming SUM cents contract): streaming SUMs
    # convert EACH value to cents with the batch plan's
    # try_cast(DECIMAL(18,2)) before accumulating in int64
    # (_delta_aggregates, streaming/pipeline.py) — round-then-sum,
    # slicing-independent, exact past 2^53 cents. stream_feature_grants
    # is a staple and rescores anyway; these are the other grants
    # entries sharing the contract.
    "stream_grants_multibatch",
    "stream_grants_incremental_merge",
    "stream_grant_notifications",
    # r10 verdict #4: sketch_approx_percentiles promoted from
    # rows-only to an EXACT rank-certification oracle (GK values out
    # of the output, QuantileSummaries floor/ceil rank window + an
    # in-bound boolean in). New semantics, new schema, needs its
    # first exact-gated driver row.
    "sketch_approx_percentiles",
    # r10 ADVICE (vector envelope slop): VEC_NORM2_BOUND shaved
    # 8192 -> 8191 so the strict int64 guarantee covers floor()
    # quantization slop; all vector oracles updated in lockstep.
    # Value-identical on the unit-normalized driver corpus (norms ~1)
    # — these two represent the gated family (the boundary fixtures
    # pin the 8190/8191/8192 points cross-engine).
    "dedup_embedding_cosine",
    "emb_kmeans_fit",
    # r11 fixture-class-11b scale-killer finds (1M-char single-token
    # doc): the PII email regex RFC-bounded (Java O(len^2) backtracking
    # on the unbounded greedy class — one core pegged an hour) and the
    # BPE pair expansion moved from per-position substr (UTF8String
    # prefix re-scan, O(len^2)) to split-once char-array zip, with the
    # oracle on the matching inline list_transform shape.
    "doc_pii_scan",
    "vocab_bpe_merge_step",
    # r11 fixture-class-11b cross-engine finds: single-active-day
    # event types made the OLS denominator 0 (ANSI job-killer ->
    # nullif, both sides); from_xml trims the XML whitespace class at
    # text edges (contract moved to the trimmed fixpoint); Java's $
    # matches before a final newline (alpha-word anchor moved to
    # \A..\z); the JSONL oracle moved from concatenation to DuckDB's
    # native to_json (real escaping pinned byte-identical).
    "ts_daily_trend_slope",
    "func_xml_events",
    "doc_gopher_quality_flags",
    "doc_export_jsonl",
)


def _scored_rounds() -> dict[str, int]:
    """name -> most recent round with a driver CORRECTNESS row.

    Reads CORRECTNESS_r0*.json from the repo root (two levels above this
    package). Any row counts as scored — red rows still mean the driver
    reached the entry, and staleness rotation will bring it back anyway.
    Unreadable files are skipped: a corrupt artifact must not take down
    catalog import (entries then just count as never-scored, which only
    promotes them in the head — safe direction).
    """
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            latest[name] = max(latest.get(name, -1), rnd)
    return latest


def _registered_rounds() -> dict[str, int]:
    """name -> round the entry was first registered (catalog_rounds.json,
    maintained by tools/update_catalog_rounds.py; a pytest pins that the
    file covers the whole catalog). Missing file or name -> a large
    sentinel, which only sorts the entry later — safe direction."""
    import json
    from pathlib import Path

    try:
        data = json.loads(
            (Path(__file__).parent / "catalog_rounds.json").read_text()
        )
        return {k: int(v) for k, v in data.items()}
    except (OSError, ValueError):
        return {}


def _derive_head(names_in_order: list[str]) -> list[str]:
    scored = _scored_rounds()
    order = {n: i for i, n in enumerate(names_in_order)}
    head = [s for s in _STAPLES if s in order]
    taken = set(head)
    # Changed-code pins outrank the never-scored FIFO: a shipped fix or
    # algorithm swap needs its driver row THIS round (see tier-2 note).
    head += [
        n for n in _PINNED_RESCORE if n in order and n not in taken
    ]
    taken = set(head)
    # Never-scored entries queue FIFO by the round they first appeared
    # (then registration order): a fresh round's additions must not
    # push last round's still-unscored entries past the driver budget
    # just because their module imports earlier (r6 hazard — the 33
    # round-5 entries vs this round's additions).
    reg = _registered_rounds()
    head += sorted(
        (n for n in names_in_order if n not in scored and n not in taken),
        key=lambda n: (reg.get(n, 1 << 30), order[n]),
    )
    taken = set(head)
    stale = sorted(
        (n for n in names_in_order if n not in taken),
        key=lambda n: (scored.get(n, -1), order[n]),
    )
    head += stale[: max(0, _HEAD_SIZE - len(head))]
    return head


def _load_all() -> None:
    # Import side-effect populates CATALOG. Imports are UNCONDITIONAL: a
    # module that fails to import must fail the whole catalog loudly —
    # silently dropping a family would let the correctness gate "pass"
    # on shrunken coverage (the round-1 failure mode).
    for mod in (
        "feature_store",
        "relational",
        "relational2",
        "tpch_deep",
        "tpch_complete",
        "setops_misc",
        "sketches",
        "windows_setops",
        "scalar_funcs",
        "behavior",
        "timeseries",
        "llm_text",
        "llm_curation",
        "training_data",
        "quality",
        "feature_eng",
        "stats_inference",
        "llm_similarity",
        "multimodal",
        "storage",
        "streaming_queries",
    ):
        __import__(f"feature_store_2_spark.queries.{mod}")

    by_name = {q.name: q for q in CATALOG}
    missing = [s for s in _STAPLES if s not in by_name]
    if missing:
        raise RuntimeError(f"_STAPLES names not registered: {missing}")
    missing = [s for s in _PINNED_RESCORE if s not in by_name]
    if missing:
        raise RuntimeError(f"_PINNED_RESCORE names not registered: {missing}")
    head = _derive_head([q.name for q in CATALOG])
    head_set = set(head)
    rest = [q for q in CATALOG if q.name not in head_set]
    CATALOG[:] = [by_name[n] for n in head] + rest


_load_all()
