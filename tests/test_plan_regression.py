"""Plan-regression guard: the §2.5 demo tier (and the flagship) must stay
free of ``Exchange SinglePartition`` on row-scale data.

A global ``Window.orderBy(...)`` with no partition key silently plans a
single-partition exchange — one task walks every row, the one node that
cannot scale past a core at 100 TB. The chunked-window machinery
(``functions.chunked_window``) removes it; this test pins that property
so a future registry query can't quietly reintroduce the wrong plan.

Exceptions, each a documented tiny-cardinality or inherently-sequential
surface (see the query docstrings):

- ``feat_dir_run_len``: unbounded gaps-and-islands — global by design,
  scale path is per-symbol partitioning;
- ``feat_daily_gap``: ordered window over the k-row day table (k = days).
"""

from __future__ import annotations

import pytest

from finmlkit_spark.suite import QUERIES

SF = "/root/testdata/sf0.001"

#: demo-tier queries that must plan with ZERO single-partition exchanges
GUARDED = [
    "pipeline_1m_features",
    "feat_return_log",
    "feat_roc",
    "feat_pct_change",
    "feat_return_t",
    "feat_sma",
    "feat_zscore",
    "feat_stoch_k",
    "feat_bollinger_b",
    "feat_parkinson",
    "feat_atr_sma",
    "feat_vwap_distance",
    "feat_realized_vol",
    "feat_burst_ratio",
    "feat_variance_ratio",
    "feat_kurtosis",
    "feat_bipower",
    "feat_flow_accel",
    "feat_vpin",
    "feat_pv_corr",
    "feat_trend_slope",
    "feat_mean_reversion_z",
    "feat_bar_duration",
    "feat_bar_rate",
    "feat_time_cues",
    "feat_candle_shape",
    "feat_orb_break",
    # §2.2/§2.4 single-stream forms converted to the chunked-carry plan
    "trades_side",
    # trade-scale skip-list rolling median (round-5: rolling_median_chunked)
    "burst_ratio_trades",
    "bar_directional_1m",
    "footprint_long",
    "footprint_features",
    # §corpus at-scale digest-parallel plan (onepart fusion forced off
    # above — the bench-scale fused form is single-partition BY DESIGN and
    # is pinned separately by test_segment_dedup_modes_bit_identical)
    "segment_dedup",
    # retrieval tier: the postings cap must ride WindowGroupLimit, never
    # a global sort (bm25_topk is pinned separately — its one-row corpus
    # stats aggregate is a sanctioned scalar-agg SinglePartition)
    "inverted_index",
    # late-round-11 additions that plan fully partition-parallel
    # (event_funnel / dup_graph_pagerank / bm25 / zipf / trim carry
    # sanctioned scalar aggregates and are excluded)
    "revenue_rollup",
    "cohort_retention",
    "hashed_features",
    "normalized_dedup",
    "knn_graph",
    "wordpiece_stats",
    "nation_customer_deciles",
    # round-12: top-k over an unbounded aggregate rides
    # TakeOrderedAndProject + a 20-row re-rank, never a global
    # row_number window over every distinct path
    "session_path_topk",
]


@pytest.mark.parametrize("name", GUARDED)
def test_no_single_partition_exchange(spark, name, monkeypatch):
    # pin the at-scale plans: below their measured crossovers the side
    # window, the flagship window and segment_dedup auto-select
    # (deliberately single-partition) forms, so this guard forces every
    # crossover to its scale side to assert the plan a 100 TB input
    # would get
    from finmlkit_spark import cache

    monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", True)
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, (
        f"{name}: plan regressed to a single-partition exchange:\n{plan}"
    )


def test_triple_barrier_is_pure_join_aggregate(spark):
    """The TBM plan must stay a range join + hash aggregate with
    map-side partial aggregation: no per-event Window operator (the old
    _touch0 pre-pass forced a full exchange+sort of every joined path
    row and disabled partial aggregation — see the case analysis in
    ``operators/labels.py::triple_barrier``)."""
    df = QUERIES["tbm_labels"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, f"tbm_labels: Window op reappeared:\n{plan}"
    assert "partial_min" in plan, (
        f"tbm_labels: partial (map-side) aggregation missing:\n{plan}"
    )


def test_segment_dedup_modes_bit_identical(spark, monkeypatch):
    """The below-crossover ``onepart`` fusion must be a pure
    physical-plan change: the auto mode (fused at this corpus size) and
    the forced scale side must yield byte-identical rows on the same
    input (row_number ranks by (doc, seg_no) inside each digest group
    regardless of partitioning, and the reassembly agg sorts the
    collected structs). Also pins that the fused mode actually takes
    the single-partition fused shape — the whole point of the
    crossover."""
    from finmlkit_spark import cache

    results, plans = {}, {}
    for forced in (True, False):
        monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", forced)
        df = QUERIES["segment_dedup"](spark, SF)
        plans[forced] = df._jdf.queryExecution().executedPlan().toString()
        results[forced] = sorted(map(tuple, df.collect()))
    assert results[True] == results[False]
    assert "Exchange SinglePartition" not in plans[True]
    assert "Exchange SinglePartition" in plans[False]


def test_pmi_topk_is_take_ordered(spark):
    """pmi_top_pairs must plan its top-20 as TakeOrderedAndProject
    (per-partition partial top-k) — the round-12 rewrite replaced a
    global row_number window that single-partitioned every distinct
    bigram with c_ab >= 5. The ONE sanctioned SinglePartition left is
    the 1-row total-pair-count scalar aggregate it broadcasts; the
    20-row re-rank window rides the TakeOrdered output without a
    second exchange."""
    df = QUERIES["pmi_top_pairs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_guard_covers_current_feat_tier():
    """Every feat_* registry query is either guarded or an explicit,
    documented exception — adding a new one forces a decision here."""
    exceptions = {"feat_dir_run_len", "feat_daily_gap", "feat_fast_stage"}
    feat = {n for n in QUERIES if n.startswith("feat_")}
    unaccounted = feat - set(GUARDED) - exceptions
    assert not unaccounted, f"new feat_* queries need a guard decision: {unaccounted}"
