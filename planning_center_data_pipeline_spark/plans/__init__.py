"""Named end-to-end query plans exposed through __spark_entry__.py.

Each module contributes `QUERIES: dict[name -> fn(spark, sf_dir) -> DataFrame]`
and `ORACLES: dict[name -> ANSI SQL str]` (DuckDB-runnable over the
pre-registered test-table views).  Column names are aliased identically
on both sides — the driver sorts columns by name before hashing.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Plan modules in registry order; queries keep each module's own order.
_MODULES = (
    "relational",
    "tpch_extra",
    "analytic",
    "arrays",
    "scalars_extra",
    "pandas_ops",
    "reference",
    "streaming_batch",
    "extensions",
    "corpus",
    "lifecycle",
    "advanced",
    "wave4",
    "wave4b",
    "wave4c",
    "wave4d",
    *(f"wave{n}" for n in range(5, 53)),
)


def collect_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Aggregate queries + oracles from every plan module."""
    modules = [importlib.import_module(f"{__name__}.{m}") for m in _MODULES]
    # duplicate names across modules would silently shadow each other
    # in the dict merges below — fail loudly instead
    queries: dict[str, QueryFn] = {}
    seen: dict[str, str] = {}
    oracles: dict[str, str] = {}
    for mod in modules:
        for n, fn in mod.QUERIES.items():
            if n in seen:  # not assert: must survive python -O
                raise ValueError(
                    f"duplicate query name {n!r} in {mod.__name__} and {seen[n]}"
                )
            seen[n] = mod.__name__
            queries[n] = fn
        oracles.update(mod.ORACLES)
    missing = set(oracles) - set(queries)
    if missing:  # not assert: must survive python -O
        raise ValueError(f"oracle without query: {missing}")
    return queries, oracles
