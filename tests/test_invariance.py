"""Query-level partitioning invariance: the same query must produce
the IDENTICAL result set at any shuffle-partition count — the
engine-wide property all the exact-arithmetic discipline exists to
guarantee (AQE re-plans freely at 100 TB; results must not care)."""

from __future__ import annotations

import pytest

from planning_center_data_pipeline_spark.plans import (
    wave4,
    wave5,
    wave7,
    wave8,
    wave9,
    wave10,
    wave11,
    wave13,
    wave14,
)
from planning_center_data_pipeline_spark.plans.relational import (
    q1_pricing_summary,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize(
    "fn",
    [
        q1_pricing_summary,
        wave4.win_gaps_islands,
        wave4.agg_salted_skew,
        wave5.mm_shard_plan,            # two-phase prefix sum
        wave5.cust_entity_resolution,   # blocked fuzzy best-match
        wave5.doc_bpe_merge_candidates, # weighted pair counts + top-k
        wave7.stat_bootstrap_ci,        # md5 draws + exact replica means
        wave7.geo_radius_pairs,         # grid join pair set
        wave7.ev_cusum_shift,           # integer prefix-min windows
        wave7.rec_training_set_e2e,     # pair mining -> folds -> order
        wave8.freq_heavy_hitters,       # sketch candidates vary; output must not
        wave8.rec_negative_sampling,    # prefix sum + bucketed range join
        wave8.surv_hazard_curve,        # quantize-then-sum hazard
        wave9.ev_basket_triples,        # apriori prune + exact recount
        wave9.stat_trimmed_mean,        # two-pass percentile cutoffs
        wave10.ml_auc_rank,             # value-bucketed prefix-sum ranks
        wave10.cf_item_item_cosine,     # basket self-join + top-k cut
        wave11.graph_pagerank_parts,    # 5 integer-exact rank iterations
        wave11.cust_abc_pareto,         # bucketed global running sum
        wave13.doc_incremental_dedup_merge,  # fp join + in-batch window
        wave14.stat_ks_two_sample,      # bucketed two-sided ECDF argmax
    ],
)
def test_result_invariant_to_shuffle_partitions(spark, fn):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        few = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        many = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert few == many


def test_sql_bound_frames_safe_across_threads(spark, sf_dir):
    """Queries that bind DataFrames into one spark.sql statement must
    not see each other's frames when built concurrently in one session.
    With a fixed global temp-view name, the same query built at two
    scale factors at once could analyze against the other thread's
    view; each build must equal its single-thread result."""
    from concurrent.futures import ThreadPoolExecutor

    from planning_center_data_pipeline_spark.plans import wave48

    jobs = [
        (fn, sf)
        for fn in (wave11.graph_pagerank_parts, wave48.ev_markov_stationary)
        for sf in (sf_dir, SF_DIR)
    ]
    single = [sorted(fn(spark, sf).collect()) for fn, sf in jobs]
    views_before = {t.name for t in spark.catalog.listTables()}
    for _ in range(2):
        with ThreadPoolExecutor(max_workers=2) as pool:
            built = list(
                pool.map(lambda job: job[0](spark, job[1]), jobs, timeout=600)
            )
        assert [sorted(df.collect()) for df in built] == single
    assert {t.name for t in spark.catalog.listTables()} == views_before
