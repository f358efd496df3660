"""Batch feature pipeline: events -> per-user aggregates -> rules -> grants.

This is the reference's whole consumer dataflow
(/root/reference/services/event_processer.py:25-66) expressed as ONE
declarative Spark plan instead of per-event Python:

  route-by-event-name (models/aggregate.py:111-114)  -> pushed-down
      event_type predicates inside conditional aggregates
  per-user accumulators (models/aggregate.py:41-83)  -> single
      groupBy("user_id") with conditional aggregation
  rule evaluation (models/rules.py:25-75)            -> Column exprs
  feature conjunction + grant upsert
      (services/event_processer.py:50-63,
       services/user_feature.py:32-44)               -> boolean AND
      columns, melted to a (user_id, feature, has_grant) grants table

Scale shape: exactly two shuffles regardless of how many aggregates /
rules / features the config declares — one to dedupe by event uuid
(exactly-once contract, SURVEY.md §2 A5/A7), one to aggregate by
user_id — then everything downstream is a codegen'd projection. Both
aggregations get map-side partial aggregation; AQE coalesces the
post-shuffle partitions. No joins: N aggregates over different event
types are N conditional aggregates in the same pass, not N self-joins.

Determinism note: SUM aggregates accumulate in DECIMAL (exact, order
independent) and cast to DOUBLE once at the end, so results are
bit-identical across partitionings, retries, and engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_store_2_spark.config import (
    DEFAULT_CONFIG,
    AggregateType,
    EngineConfig,
    RuleCondition,
    RuleOperation,
)

# Exact intake type for SUM aggregates (input doubles carry 2 decimal
# digits). DECIMAL(18,2), not wider (r10 hostile-magnitude class): both
# streaming strategies keep cents in int64 state, so the pipeline-wide
# SUM contract is "representable in DECIMAL(18,2)" (|value| < 1e16,
# cents < 1e18 — always inside int64). Spark widens the SUM accumulator
# to DECIMAL(28,2) automatically (~1e10 max-magnitude rows before a
# LOUD ANSI overflow, never a wrap); values beyond the intake envelope
# are MISSING, like NaN/Inf, on batch, the stream, and the oracle.
_SUM_DECIMAL = "decimal(18,2)"


def _field_col(field: str) -> Column:
    """Resolve an aggregate's field: a props JSON path or a column.

    Reference analog: getattr on the typed properties object
    (models/aggregate.py:72-78). Only NULL is treated as missing — a
    documented divergence from the reference's falsy-check.

    try_cast, not cast (r9 props-envelope fixture class): a
    syntactically-valid envelope whose field is a non-integer value
    ('{"k": "zip-987"}', 1.5, a nested object) sails through the A2
    quarantine, and under Spark 4's ANSI default a plain cast then
    KILLS the whole job on that one producer row. The contract is
    null-only-missing extended to malformed values: any field that is
    not a clean integer extracts as NULL, never as an error.
    """
    if field.startswith("props."):
        return F.get_json_object(
            "props", "$." + field[len("props.") :]
        ).try_cast("long")
    return F.col(field)


def user_aggregates(events: DataFrame, config: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-user aggregate table: one row per user_id, one column per
    configured aggregate.

    COUNT   -> count of distinct event uuids of the event type
               (models/aggregate.py:53-54,63-64: per-user uuid set)
    DISTINCT_COUNT(field) -> distinct field values per user
               (models/aggregate.py:59-60,65-66)
    SUM(field) -> sum over uuid-deduped events
               (models/aggregate.py:55-57,67-68 — dedupe by uuid, NOT by
               value, so this is dropDuplicates + SUM, never sum_distinct)
    """
    # Exactly-once per (user, uuid): dedupe before aggregating. groupBy
    # keeps the dedup partial-aggregatable so large inputs combine
    # map-side before the shuffle. min() (not first()) per column: if
    # corrupt input ever carries CONFLICTING payloads under one uuid, the
    # survivor is still partition/order-independent — retries and
    # re-partitionings reproduce identical results.
    field_names: dict[str, str] = {}
    for spec in config.aggregates:
        if spec.field and spec.field not in field_names:
            field_names[spec.field] = f"__f{len(field_names)}"
    deduped = (
        events.select(
            "user_id",
            "event_id",
            "event_type",
            *[_field_col(f).alias(n) for f, n in field_names.items()],
        )
        .groupBy("user_id", "event_id")
        .agg(
            F.min("event_type").alias("event_type"),
            *[F.min(n).alias(n) for n in field_names.values()],
        )
    )

    aggs = []
    for spec in config.aggregates:
        is_type = F.col("event_type") == spec.event_name
        if spec.type is AggregateType.COUNT:
            aggs.append(F.count(F.when(is_type, F.lit(1))).alias(spec.name))
        elif spec.type is AggregateType.DISTINCT_COUNT:
            fcol = F.col(field_names[spec.field])
            aggs.append(F.countDistinct(F.when(is_type, fcol)).alias(spec.name))
        else:  # SUM — exact decimal accumulation, one cast back to double
            fcol = F.col(field_names[spec.field])
            # try_cast (r10 hostile-magnitude class): a finite double
            # beyond the _SUM_DECIMAL intake envelope would crash the
            # whole job under ANSI. Contract: such a measurement is
            # MISSING, like NaN/Inf (which the cast already NULLs).
            aggs.append(
                F.sum(F.when(is_type, fcol.try_cast(_SUM_DECIMAL)))
                .cast("double")
                .alias(spec.name)
            )
    return deduped.groupBy("user_id").agg(*aggs)


def rule_columns(config: EngineConfig = DEFAULT_CONFIG) -> dict[str, Column]:
    """One boolean "abides" Column per rule, over user_aggregates output.

    VALUE  (models/rules.py:63-64): aggregate vs threshold, strict
    compare only (models/rules.py:68-75).
    DIVIDE (models/rules.py:56-62): num/denom vs threshold with the
    *intended* total semantics — denom < denom_min => abides
    (models/rules.py:58-59), denom == 0 => ratio 0 (models/rules.py:60-61;
    the literal reference raises ZeroDivisionError and drops the event).
    Missing aggregates (user never emitted that event type) count as 0.
    """
    cols: dict[str, Column] = {}
    for rule in config.rules:
        num = F.coalesce(F.col(rule.aggregates[0]), F.lit(0.0))
        if rule.operation is RuleOperation.VALUE:
            value = num
        else:
            den = F.coalesce(F.col(rule.aggregates[1]), F.lit(0.0))
            value = F.when(den == 0, F.lit(0.0)).otherwise(num / den)
        abides = (
            value > F.lit(float(rule.value))
            if rule.condition is RuleCondition.GREATER_THAN
            else value < F.lit(float(rule.value))
        )
        if rule.operation is RuleOperation.DIVIDE and rule.denom_min is not None:
            den = F.coalesce(F.col(rule.aggregates[1]), F.lit(0.0))
            abides = F.when(den < F.lit(float(rule.denom_min)), F.lit(True)).otherwise(abides)
        cols[rule.name] = abides
    return cols


def grants_wide_from_aggregates(
    aggs: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Rules + feature conjunctions over an already-built per-user
    aggregate table (one row per user_id, one column per aggregate).

    Shared by the batch pipeline below and the streaming path
    (streaming/pipeline.py), which maintains the aggregate table
    incrementally — same Column expressions, so batch and streaming
    grants are equivalent by construction."""
    rules = rule_columns(config)
    out = aggs
    for name, col in rules.items():
        out = out.withColumn(name, col)
    for feat in config.features:
        out = out.withColumn(
            feat.name + "_grant",
            reduce(lambda a, b: a & b, [F.col(r) for r in feat.rules]),
        )
    return out


def feature_grants_wide(
    events: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """user_id + one boolean column per feature (grant <=> all rules abide).

    Declarative semantics of services/event_processer.py:50-63 — the
    reference's unreachable re-grant branch makes its revocations sticky;
    we implement the conjunction it declares (SURVEY.md §2 A14).
    """
    return grants_wide_from_aggregates(user_aggregates(events, config), config)


def feature_grants_long(
    events: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Grants table (user_id, feature, has_grant) — the engine's
    materialization of UserFeatureService._grants
    (services/user_feature.py:22,75-79). Point lookups (A15) are
    filters on this table; at scale it lives in Delta, clustered by
    user_id, MERGE-updated by the streaming path."""
    return melt_grants(feature_grants_wide(events, config), config)


def melt_grants(wide: DataFrame, config: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Wide per-feature boolean columns -> long (user_id, feature, has_grant)."""
    pairs = ", ".join(f"'{f.name}', {f.name}_grant" for f in config.features)
    return wide.select(
        "user_id",
        F.expr(f"stack({len(config.features)}, {pairs}) as (feature, has_grant)"),
    )
