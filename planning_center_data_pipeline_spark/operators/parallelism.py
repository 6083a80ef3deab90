"""Scan-parallelism floor for CPU-dense stages (optimization guide
§2.5 "input skew" / §4).

Parquet cannot split below a row group, so a small single-file input
scans as ONE partition; any CPU-dense per-row stage stacked on that
scan (a Python codec via mapInPandas, a wide md5 expansion, a
percentile buffer) then serializes on one core of the whole box.  The
fix is the guide's "repartition immediately after the read": hash-
repartition the (tiny) input up to the session's default parallelism
before the expensive stage.  At real scale the scan already has more
partitions than the floor and this is a structural no-op — no added
shuffle, no constant tuned to the local core count (the floor follows
SPARK_GRAFT_CPUS via defaultParallelism, so the driver's lower-core
bench runs keep their own floor).

Call sites whose downstream *joins* fragment past 16 partitions (the
dedup shingle/SimHash tokenize stages, the plan-module regex scans)
pass `floor=min(defaultParallelism, 16)`; per-row map work has no such
coupling, so this helper defaults to the full default parallelism.
This is the only copy of the floor: every scan-parallelism floor in
the package calls it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cpu_floor(df: DataFrame, key: str, floor: int | None = None) -> DataFrame:
    """Repartition `df` on hash(key) up to `floor` (default: the
    session's defaultParallelism) when — and only when — the current
    plan has fewer partitions.  Use directly below a scan feeding a
    CPU-dense per-row stage; results are unchanged for any per-row or
    order-free computation."""
    sc = df.sparkSession.sparkContext
    if floor is None:
        floor = sc.defaultParallelism
    if df.rdd.getNumPartitions() < floor:
        df = df.repartition(floor, F.col(key))
    return df
