"""Golden tests for the greedy HVA/LVA value-area walk (reference
``volume.py:277-364`` semantics) and footprint imbalance runs."""

from __future__ import annotations

from finmlkit_spark.operators import footprint as FP
from finmlkit_spark.operators import volume_profile as VP


def test_hva_lva_golden(spark):
    # profile: POC at bin 2 (vol 10); expansion: up2=(3,4)=6 vs dn2=(0,1)=7
    # -> down first (7>6), covered=17+... va_pct=0.7 of total 23 = 16.1
    rows = [(1, 0, 3.0), (1, 1, 4.0), (1, 2, 10.0), (1, 3, 5.0), (1, 4, 1.0)]
    prof = spark.createDataFrame(rows, "anchor_ts long, bin long, vol double")
    out = VP.hva_lva(prof, va_pct=0.7).collect()[0]
    assert out["poc_bin"] == 2
    # covered after POC: 10; up2 = 5+1=6, dn2 = 3+4=7 -> expand down to bin 0
    assert out["lva_bin"] == 0 and out["hva_bin"] == 2
    assert abs(out["va_coverage"] - 17.0 / 23.0) < 1e-12


def test_hva_lva_tie_poc_lowest_bin(spark):
    rows = [(1, 0, 5.0), (1, 1, 5.0), (1, 2, 1.0)]
    prof = spark.createDataFrame(rows, "anchor_ts long, bin long, vol double")
    out = VP.hva_lva(prof, va_pct=0.5).collect()[0]
    assert out["poc_bin"] == 0  # ties -> lowest bin


def test_footprint_features_runs(spark):
    # one bar, levels 1..4: buy imbalance at levels 2,3 (buy > 3*sell below)
    rows = [
        (1, 1, 1.0, 1.0, 1, 1),
        (1, 2, 10.0, 1.0, 2, 1),
        (1, 3, 10.0, 1.0, 2, 1),
        (1, 4, 1.0, 1.0, 1, 1),
    ]
    fp = spark.createDataFrame(
        rows, "bar_close_ns long, level long, buy_vol double, sell_vol double, buy_ticks long, sell_ticks long"
    )
    out = FP.footprint_features(fp, imb_mult=3.0).collect()[0]
    assert out["buy_imb_sum"] == 2          # levels 2 and 3: buy > 3*sell[l-1]
    assert out["max_imb_run"] == 2          # consecutive buy-imbalance levels
    assert out["cot_level"] == 2            # vol ties (11) at levels 2,3 -> lowest
    assert abs(out["vp_gini"] - (1.0 - (2 * 2 + 11 * 11 + 11 * 11 + 2 * 2) / 26.0**2)) < 1e-12


def test_footprint_features_partition_order_independent(spark):
    """The per-bar fold must not depend on input partitioning: the agg's
    sort_array orders each bar's levels, and the moment sums are exact
    quantized int64 folds. Bit-exactness against the DuckDB oracle is
    pinned in test_suite_oracle."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import bars as B
    from finmlkit_spark.operators import preprocess as P
    from finmlkit_spark.sources.trades import events_to_trades

    raw = B.with_time_bar(
        events_to_trades(spark, "/root/testdata/sf0.001"), 300_000_000_000
    )
    bv = raw.groupBy("bar_close_ns").agg(
        (F.sum(F.col("price") * F.col("qty")) / F.sum("qty")).alias("bar_vwap")
    )
    sided = P.with_trade_side_chunked(raw)
    out = {}
    for name, frame in (("plain", sided), ("repart8", sided.repartition(8))):
        fp = FP.footprint_long(frame, tick=0.01)
        out[name] = {
            r["bar_close_ns"]: tuple(r)[1:]
            for r in FP.footprint_features(
                fp, imb_mult=3.0, tick=0.01, bar_vwap=bv
            ).collect()
        }
    assert out["plain"] == out["repart8"]
    assert len(out["plain"]) > 0
