"""Semantic invariants for the wave-18 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.plans import wave18

SF_DIR = "/root/testdata/sf0.01"


def test_centroid_drift_matches_numpy(spark):
    import numpy as np

    rows = {r.label: r for r in wave18.emb_label_centroid_drift(spark, SF_DIR).collect()}
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    by_label: dict[int, list] = {}
    for r in e:
        q = np.round(np.array(r.embedding, dtype=np.float64) * 1_000_000)
        by_label.setdefault(r.label, []).append((r.vec_id, q))
    for label, vecs in by_label.items():
        sa = np.sum([q for vid, q in vecs if vid % 2 == 0], axis=0)
        sb = np.sum([q for vid, q in vecs if vid % 2 != 0], axis=0)
        cos = float(
            sa @ sb / (math.sqrt(sa @ sa) * math.sqrt(sb @ sb))
        )
        r = rows[label]
        assert r.n_a == sum(1 for vid, _ in vecs if vid % 2 == 0)
        assert r.n_b == sum(1 for vid, _ in vecs if vid % 2 != 0)
        assert math.isclose(r.cosine, cos, abs_tol=5e-7)
        assert math.isclose(r.drift, 1.0 - cos, abs_tol=5e-7)


def test_common_neighbors_probe_shape(spark):
    # the docstring is a literal, not a .format() expression statement
    assert wave18.graph_common_neighbors.__doc__
    rows = wave18.graph_common_neighbors(spark, SF_DIR).collect()
    assert rows
    by_probe: dict[int, list] = {}
    for r in rows:
        assert r.probe % 50 == 0
        assert r.cand != r.probe
        # jaccard recomputes from its reported integer parts
        assert r.jaccard == round(r.common / (r.da + r.db - r.common), 6)
        assert r.common >= 3
        by_probe.setdefault(r.probe, []).append(r)
    for probe, rs in by_probe.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        js = [r.jaccard for r in rs]
        assert js == sorted(js, reverse=True)


def test_profile_matches_direct_queries(spark):
    rows = {r.col_name: r for r in wave18.data_profile_orders(spark, SF_DIR).collect()}
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n = o.count()
    assert all(r.n == n for r in rows.values())
    assert rows["o_orderkey"].n_distinct == n  # primary key
    assert rows["o_orderkey"].n_null == 0
    assert (
        rows["o_custkey"].n_distinct
        == o.select("o_custkey").distinct().count()
    )
    pr = rows["o_orderpriority"]
    assert pr.min_repr == o.agg(F.min("o_orderpriority")).collect()[0][0]
    assert pr.max_repr == o.agg(F.max("o_orderpriority")).collect()[0][0]
    tp = rows["o_totalprice_cents"]
    assert int(tp.min_repr) == o.agg(
        F.min(F.round(F.col("o_totalprice") * 100).cast("bigint"))
    ).collect()[0][0]
