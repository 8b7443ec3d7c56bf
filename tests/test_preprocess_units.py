"""Unit tests for preprocessing scalar helpers (unit inference, tick
size, timestamp normalization) and the Binance CSV reader shape."""

from __future__ import annotations

from finmlkit_spark.operators import preprocess as P
from finmlkit_spark.sources.trades import read_binance_csv


def _df(spark, ts_vals):
    return spark.createDataFrame(
        [{"ts_ns": t, "trade_id": i, "price": 1.0, "qty": 1.0, "symbol": "S"} for i, t in enumerate(ts_vals)]
    )


def test_infer_time_unit(spark):
    assert P.infer_time_unit(_df(spark, [1_700_000_000])) == "s"
    assert P.infer_time_unit(_df(spark, [1_700_000_000_000])) == "ms"
    assert P.infer_time_unit(_df(spark, [1_700_000_000_000_000])) == "us"
    assert P.infer_time_unit(_df(spark, [1_700_000_000_000_000_000])) == "ns"


def test_normalize_and_round(spark):
    df = P.normalize_timestamps(_df(spark, [1_700_000_000_123]))  # ms in
    assert df.collect()[0]["ts_ns"] == 1_700_000_000_123_000_000
    r = P.round_resolution(_df(spark, [1_700_000_000_123_456_789]), resolution="ms")
    assert r.collect()[0]["ts_ns"] == 1_700_000_000_123_000_000


def test_infer_tick_size(spark):
    df = spark.createDataFrame(
        [{"price": p, "trade_id": i} for i, p in enumerate([100.00, 100.05, 100.10, 100.25, 99.95])]
    )
    assert abs(P.infer_tick_size(df) - 0.05) < 1e-9


def test_binance_csv_reader(spark, tmp_path):
    p = tmp_path / "trades.csv"
    p.write_text(
        "id,price,qty,quote_qty,time,is_buyer_maker\n"
        "1,100.5,2.0,201.0,1700000000000,true\n"
        "2,100.6,1.0,100.6,1700000000010,false\n"
    )
    out = read_binance_csv(spark, str(p), symbol="BTCUSDT").orderBy("trade_id").collect()
    assert len(out) == 2
    assert out[0]["ts_ns"] == 1_700_000_000_000_000_000
    assert out[0]["side"] == -1 and out[1]["side"] == 1
    assert out[0]["symbol"] == "BTCUSDT"


def test_trade_side_chunked_matches_global(spark):
    """with_trade_side_chunked == with_trade_side(by=None) row-for-row,
    with small chunks forcing many cross-chunk carries, and no
    single-partition exchange in the chunked plan."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import preprocess as P
    from finmlkit_spark.sources.trades import events_to_trades

    tr = events_to_trades(spark, "/root/testdata/sf0.001")
    glob = {
        r["trade_id"]: r["side"]
        for r in P.with_trade_side(tr, by=None).select("trade_id", "side").collect()
    }
    # hourly chunks over a month of sparse data: many chunks, some empty,
    # single-row chunks — every cross-chunk carry path gets exercised
    chunked = P.with_trade_side_chunked(tr, chunk_ns=3_600_000_000_000, mode="chunked")
    got = {
        r["trade_id"]: r["side"]
        for r in chunked.select("trade_id", "side").collect()
    }
    assert got == glob and len(got) >= 1000
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_trade_side_chunked_plateaus_and_constant_chunks(spark):
    """Adversarial stream for the raw-side chunk summary: the last
    nonzero in-chunk delta is derived as sign(last_p - p_m) where p_m is
    the last row priced differently from the chunk's final plateau —
    exercise constant-price chunks (no p_m), chunks that END in long
    plateaus, single-row chunks, and boundary deltas of every sign,
    against the global-window tick rule."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import preprocess as P

    MIN = 60_000_000_000  # put each group of trades in its own minute-chunk
    rows = []
    tid = 0

    def add(minute, prices):
        nonlocal tid
        for i, p in enumerate(prices):
            rows.append((minute * MIN + i * 1_000_000, tid, float(p)))
            tid += 1

    add(0, [100.0])                       # single-row first chunk
    add(1, [100.0, 100.0, 100.0])         # constant chunk, equal to prev close
    add(2, [100.0, 101.0, 101.0, 101.0])  # one change then trailing plateau
    add(3, [101.0])                       # single row equal to prev close
    add(5, [99.0])                        # empty chunk 4, then a down boundary
    add(6, [99.0, 98.0, 99.0, 99.0])      # down then up, trailing plateau
    add(7, [97.0, 97.0])                  # down boundary, constant chunk
    add(9, [98.0, 97.0, 98.0])            # empty chunk 8; ends on up
    add(10, [98.0, 98.0])                 # flat boundary, constant chunk

    tr = spark.createDataFrame(rows, "ts_ns long, trade_id long, price double")
    tr = tr.withColumn("qty", F.lit(1.0))
    glob = {
        r["trade_id"]: r["side"]
        for r in P.with_trade_side(tr, by=None).select("trade_id", "side").collect()
    }
    got = {
        r["trade_id"]: r["side"]
        for r in P.with_trade_side_chunked(tr, chunk_ns=MIN, mode="chunked").select("trade_id", "side").collect()
    }
    assert got == glob


def test_nan_price_carries_previous_side(spark, gate_sides):
    """A NaN price (and the trade after it: its Δprice is NaN too) signs
    0, so it carries the previous side like Δ = 0. Stream B holds a run
    of NaN prices covering a whole 20-unit time chunk and the first row
    of the next. Every mode gives the same sides, without an error."""
    nan = float("nan")
    streams = {
        "A": [100.0, 101.0, nan, 101.0, 100.0, 100.0, 102.0],
        "B": [102.0, 101.0, nan, nan, nan, 100.0, 101.0],
    }
    want = {
        **{("A", i): s for i, s in enumerate([1, 1, 1, 1, -1, -1, 1])},
        **{("B", i): s for i, s in enumerate([1, -1, -1, -1, -1, -1, 1])},
    }
    rows = [(sym, i * 10, i, p, 1.0) for sym, ps in streams.items() for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "symbol string, ts_ns long, trade_id long, price double, qty double")

    def sides(d):
        return {(r["symbol"], r["trade_id"]): r["side"] for r in d.collect()}

    assert sides(P.with_trade_side(df, by="symbol")) == want
    for sym in streams:
        one = df.where(df.symbol == sym)
        mine = {k: v for k, v in want.items() if k[0] == sym}
        assert sides(P.with_trade_side_chunked(one, chunk_ns=20, mode="global")) == mine
        small, scale = gate_sides(
            lambda one=one: sides(P.with_trade_side_chunked(one, chunk_ns=20, mode="chunked"))
        )
        assert small == scale == mine
