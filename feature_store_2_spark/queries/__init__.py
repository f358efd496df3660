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


# Catalog order is registration order: these modules in this order,
# then decorator order within each module. A module that imports
# another catalog module at import time registers that module's
# entries in the middle of its own, so such a dependency is listed
# first (sketches uses llm_text's _hex_fold).
_MODULES: tuple[str, ...] = (
    "feature_store",
    "relational",
    "relational2",
    "tpch_deep",
    "tpch_complete",
    "setops_misc",
    "llm_text",
    "sketches",
    "windows_setops",
    "scalar_funcs",
    "behavior",
    "timeseries",
    "llm_curation",
    "training_data",
    "quality",
    "feature_eng",
    "stats_inference",
    "llm_similarity",
    "multimodal",
    "storage",
    "streaming_queries",
)


def _load_all() -> None:
    # Import side-effect populates CATALOG. Imports are UNCONDITIONAL: a
    # module that fails to import must fail the whole catalog loudly —
    # silently dropping a family would let the correctness gate "pass"
    # on shrunken coverage (the round-1 failure mode).
    for mod in _MODULES:
        __import__(f"feature_store_2_spark.queries.{mod}")


_load_all()
