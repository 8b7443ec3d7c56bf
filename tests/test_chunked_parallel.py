"""Chunked-parallel evaluation of a trade-scale rolling statistic must
agree with the single-window expression form on every row."""

from __future__ import annotations


def test_rolling_median_chunked_matches_expression_form(spark, monkeypatch):
    """The trade-scale skip-list median (rolling_median_chunked) must
    equal the bar-scale expression form (per-row frame sort) on every
    row, including warmup NULLs — small chunks force several chunk
    boundaries through the data."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from finmlkit_spark.functions import chunked_window as CW
    from finmlkit_spark.functions import rolling as R

    monkeypatch.setattr(CW, "_COARSE_SPAN", 50_000_000)

    random.seed(11)
    n, N = 17, 900
    rows = [(i * 1_000_000 + random.randint(0, 500), i, 100.0 + random.random() * 10) for i in range(N)]
    df = spark.createDataFrame(rows, "ts_ns long, trade_id long, price double")

    w = Window.orderBy("ts_ns", "trade_id")
    med_expr = R._full(w, n, R.rolling_median("price", n, w))
    expected = {
        r["trade_id"]: r["m"]
        for r in df.select("trade_id", med_expr.alias("m")).collect()
    }
    got_df = R.rolling_median_chunked(
        df, "price", n, order_col="ts_ns", tiebreak_cols=("trade_id",),
        out_col="m", chunk_rows=64,
    )
    got = {r["trade_id"]: r["m"] for r in got_df.collect()}
    assert len(got) == N
    for k, v in expected.items():
        g = got[k]
        if v is None:
            assert g is None or g != g, (k, g)
        else:
            assert g is not None and abs(g - v) < 1e-12, (k, g, v)
