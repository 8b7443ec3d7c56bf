"""Quickstart: the reference (finmlkit) workflow on finmlkit_spark.

Reference workflow                         -> here
-----------------------------------------------------------------
TradesData(preprocess=True)                -> events_to_trades + with_trade_side
TimeBarKit(trades, 1min).build_ohlcv()     -> with_time_bar + bar_ohlcv
FeatureKit([...]).build(bars)              -> plans.FeatureKit.build (one select)
CUSUM filter -> TBMLabel.compute_labels    -> cusum events + triple_barrier
SampleWeights.compute_info_weights         -> concurrency/avg uniqueness

Run: python examples/quickstart.py  (uses /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from finmlkit_spark.operators import bars as B
from finmlkit_spark.operators import labels as L
from finmlkit_spark.operators import preprocess as P
from finmlkit_spark.plans.api import BuildContext, FeatureKit, Rolling
from finmlkit_spark.session import get_spark
from finmlkit_spark.sources.trades import events_to_trades

MIN_NS = 60_000_000_000
HOUR_NS = 3_600_000_000_000


def main(sf_dir: str = "/root/testdata/sf0.001"):
    spark = get_spark("quickstart")

    # 1. raw events -> canonical trades with tick-rule side
    trades = P.with_trade_side(events_to_trades(spark, sf_dir), by=None)
    print("trades:", trades.count())

    # 2. 1-minute OHLCV bars (one projection + one hash aggregation)
    bars = B.bar_ohlcv(B.with_time_bar(trades, MIN_NS))
    print("bars:", bars.count())

    # 3. declarative features -> ONE select, Catalyst does the rest
    kit = FeatureKit(
        [
            Rolling("sma", "close", 20),
            Rolling("zscore", "close", 20),
            (Rolling("sma", "close", 5) / Rolling("sma", "close", 20)).abs(),
        ],
        retain=["bar_close_ns", "close"],
    )
    feats = kit.build(bars, BuildContext("bar_close_ns"))
    feats.orderBy("bar_close_ns").show(5)

    # 4. events (every 97th trade) -> Triple Barrier labels via range join
    events = trades.where(F.col("trade_id") % 97 == 0).select(
        F.col("trade_id").alias("event_id"),
        F.col("ts_ns").alias("event_ts_ns"),
        F.col("price").alias("entry_price"),
        F.lit(0.5).alias("target"),
    )
    labels = L.triple_barrier(events, trades, horizon_ns=2 * HOUR_NS, bucket_ns=HOUR_NS)
    labels.groupBy("label").count().show()

    # 5. sample weights: average uniqueness, read at each span's sweep
    #    markers in one pass over the trades
    spans = labels.select("event_id", "event_ts_ns", "touch_ts_ns")
    uniq = L.average_uniqueness_sweep(spans, trades, chunk_ns=HOUR_NS)
    uniq.orderBy("event_ts_ns").show(5)

    # 6. the bar store lifecycle (reference AddTimeBarH5 / TimeBarReader /
    #    H5Inspector): materialize once, upsert the next day's bars
    #    idempotently, read back re-aggregated to 15m,
    #    inspect from the k-row _meta sidecar — never a rescan
    import tempfile

    from finmlkit_spark.sources import bars_io as IO

    with tempfile.TemporaryDirectory() as td:
        store = f"{td}/bars_1m"
        full = B.bar_ohlcv(B.with_time_bar(trades, MIN_NS))
        day_ns = 86_400_000_000_000
        mx = full.agg(F.max("bar_close_ns")).collect()[0][0]
        IO.materialize_time_bars(full.where(F.col("bar_close_ns") < mx - day_ns), store)
        IO.upsert_time_bars(full.where(F.col("bar_close_ns") >= mx - day_ns), store)
        m15 = IO.resample_bars(IO.read_time_bars(spark, store), 15 * MIN_NS)
        print("15m bars from the upserted store:", m15.count())
        IO.read_store_meta(spark, store).show()

    print("quickstart OK")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
