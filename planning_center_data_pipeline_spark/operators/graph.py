"""Graph building blocks shared by the plan modules.

The part co-purchase graph links two parts when they appear in the same
order.  Every neighborhood-based graph query (assortativity, local
clustering, common neighbors, neighborhood MinHash) consumes it as one
symmetric adjacency-array table built here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def copurchase_adjacency(li: DataFrame) -> DataFrame:
    """Symmetric distinct co-purchase adjacency (u, nbrs) from lineitem
    rows (l_orderkey, l_partkey): two shuffles total — collect_set(pk)
    per order basket, map-side double explode, collect_set per node (the
    dedup lives inside the aggregates; the u != v guard excludes
    self-loops).  nbrs is exactly the set of parts sharing an order with
    u, so size(nbrs) IS the co-purchase degree — consumers read degrees
    for free instead of paying the union-both-orientations + groupBy
    rollup.  Repartitioned to the session parallelism before the lazy
    checkpoint because AQE coalesces the small array rollup to ~1
    partition and every map-side explode downstream would serialize on
    one core; the explicit exchange is |V| array rows, paid once.

    Memory bound (r12 ADVICE): one node's whole neighbor set sits in a
    single aggregation buffer/row.  Co-purchase degree is bounded by
    baskets-per-part x basket size — both SF-invariant in this schema
    (~30 x 7: parts scale with data volume), so the max row is KB-sized
    at any scale.  On a schema where a hub's degree CAN grow with
    volume, pre-filter or cap hubs before the collect (approximate
    degree cap, salted two-level aggregation) — consumers here
    additionally hub-cap before any wedge/pair explosion."""
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("pks"))
    )
    return (
        baskets.select(F.explode("pks").alias("u"), F.col("pks"))
        .select("u", F.explode("pks").alias("v"))
        .where(F.col("u") != F.col("v"))
        .groupBy("u")
        .agg(F.collect_set("v").alias("nbrs"))
        .repartition(
            li.sparkSession.sparkContext.defaultParallelism, F.col("u")
        )
        .localCheckpoint(eager=False)
    )
