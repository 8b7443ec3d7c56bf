"""Chunk-parallel EW scans (two-pass linear-recurrence scans) vs the
sequential kernels — the truncation-free scale path for the sequential
tier on a single huge symbol. The single-stream tests run both sides of
the driver gate."""

from __future__ import annotations

import numpy as np

from finmlkit_spark.functions import sequential as S


def _series(n=5000, seed=3):
    rng = np.random.default_rng(seed)
    ts = 1_700_000_000_000_000_000 + np.arange(n) * 60_000_000_000
    x = 100 + np.cumsum(rng.normal(0, 0.5, n))
    return ts, x


def _with_nulls(spark, ts, x):
    """``(ts_ns, close)`` with NULL at a mid-chunk row (700) and at a
    chunk head (1024 at ``chunk_rows=256``); ``x`` gets NaN there."""
    x = x.copy()
    x[[700, 1024]] = np.nan
    rows = [(t, None if np.isnan(v) else v) for t, v in zip(ts.tolist(), x.tolist())]
    return spark.createDataFrame(rows, "ts_ns long, close double"), x


def _values(got, col, ts):
    gm = {r["ts_ns"]: r[col] for r in got.collect()}
    return np.array([np.nan if gm[t] is None else gm[t] for t in ts.tolist()], dtype=np.float64)


def test_parallel_matches_sequential(spark, gate_sides):
    """Driver side: the kernel's bits; chunk scan: within 1e-11 rel.
    NULL inputs decay the sums without adding a weight on both sides."""
    ts, x = _series()
    df, x = _with_nulls(spark, ts, x)
    exact = S.ewma(x, 19.0)

    def run():
        got = S.ewma_parallel(df, "close", 19.0, order_col="ts_ns", chunk_rows=256)
        return _values(got, "ewma", ts)

    drv, dist = gate_sides(run)
    assert np.array_equal(drv, exact)
    assert not np.isnan(dist).any()
    err = np.nanmax(np.abs(dist - exact) / np.maximum(np.abs(exact), 1e-12))
    assert err < 1e-11, err


def test_ewms_parallel_matches_sequential(spark, gate_sides):
    """Driver side: the kernel's bits (NaN head as NULL); chunk scan:
    the same NULL head and within 1e-9 rel, NULL inputs included."""
    ts, x = _series()
    df, x = _with_nulls(spark, ts, x)
    exact = S.ewms(x, 19.0)

    def run():
        got = S.ewms_parallel(df, "close", 19.0, order_col="ts_ns", chunk_rows=256)
        return _values(got, "ewms", ts)

    drv, dist = gate_sides(run)
    assert np.array_equal(drv, exact, equal_nan=True)
    mask = ~np.isnan(exact)
    assert np.array_equal(np.isnan(dist), ~mask)
    err = np.nanmax(np.abs(dist[mask] - exact[mask]) / np.maximum(np.abs(exact[mask]), 1e-12))
    assert err < 1e-9, err


def test_ewmst_parallel_matches_sequential(spark):
    """Time-decay EW std on an irregular axis with NaN inputs at the
    head, mid-chunk, and a chunk boundary — all must reproduce the
    sequential kernel's values AND its NaN/fill pattern exactly."""
    rng = np.random.default_rng(11)
    n = 4000
    gaps = rng.integers(60, 600, n).astype(np.int64) * 1_000_000_000
    ts = 1_700_000_000_000_000_000 + np.cumsum(gaps)
    y = rng.normal(0, 0.01, n)
    y[0] = np.nan
    y[137] = np.nan
    y[1024] = np.nan  # chunk head at chunk_rows=512
    exact = S.ewmst(ts, y, 30 * 60 * 1e9)
    df = spark.createDataFrame(
        [(int(t), None if np.isnan(v) else float(v)) for t, v in zip(ts, y)],
        "ts_ns long, r double",
    )
    got = S.ewmst_parallel(df, "ts_ns", "r", 30 * 60 * 1e9, chunk_rows=512)
    gm = {r["ts_ns"]: r["ewmst"] for r in got.collect()}
    gv = np.array([np.nan if gm[int(t)] is None else gm[int(t)] for t in ts])
    mask = ~np.isnan(exact)
    assert ((~np.isnan(gv)) == mask).all()
    err = np.nanmax(np.abs(gv[mask] - exact[mask]) / np.maximum(np.abs(exact[mask]), 1e-15))
    assert err < 1e-11, err


def test_rsi_parallel_matches_sequential(spark):
    """Wilder RSI: chunk 0 carries the SMA seed; later chunks fold the
    linear recurrence — NaN head pattern and values must match."""
    rng = np.random.default_rng(5)
    n = 3000
    ts = 1_700_000_000_000_000_000 + np.arange(n) * 60_000_000_000
    close = 100 + np.cumsum(rng.normal(0, 0.5, n))
    exact = S.rsi_wilder(close, 14)
    df = spark.createDataFrame(
        list(zip(ts.tolist(), close.tolist())), "ts_ns long, close double"
    )
    got = S.rsi_parallel(df, "close", 14, order_col="ts_ns", chunk_rows=256)
    gm = {r["ts_ns"]: r["rsi"] for r in got.collect()}
    gv = np.array([np.nan if gm[int(t)] is None else gm[int(t)] for t in ts])
    mask = ~np.isnan(exact)
    assert ((~np.isnan(gv)) == mask).all()
    err = np.nanmax(np.abs(gv[mask] - exact[mask]) / np.maximum(np.abs(exact[mask]), 1e-12))
    assert err < 1e-11, err


def test_atr_parallel_matches_sequential(spark):
    rng = np.random.default_rng(9)
    n = 2500
    ts = 1_700_000_000_000_000_000 + np.arange(n) * 60_000_000_000
    close = 100 + np.cumsum(rng.normal(0, 0.5, n))
    high = close + np.abs(rng.normal(0, 0.3, n))
    low = close - np.abs(rng.normal(0, 0.3, n))
    exact = S.atr_ema(high, low, close, 14)
    df = spark.createDataFrame(
        list(zip(ts.tolist(), high.tolist(), low.tolist(), close.tolist())),
        "ts_ns long, high double, low double, close double",
    )
    got = S.atr_ema_parallel(df, 14, order_col="ts_ns", chunk_rows=256)
    gm = {r["ts_ns"]: r["atr"] for r in got.collect()}
    mask = ~np.isnan(exact)
    assert set(gm) == set(ts[mask].tolist())
    gv = np.array([gm[int(t)] for t in ts[mask]])
    err = np.nanmax(np.abs(gv - exact[mask]) / np.maximum(np.abs(exact[mask]), 1e-12))
    assert err < 1e-11, err


def test_parallel_plan_has_no_single_partition(spark, monkeypatch):
    from finmlkit_spark import cache

    # the chunk scan's plan: auto would take the driver side at this size
    monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", True)
    ts, x = _series(1000)
    df = spark.createDataFrame(
        list(zip(ts.tolist(), x.tolist())), "ts_ns long, close double"
    )
    got = S.ewma_parallel(df, "close", 19.0, order_col="ts_ns", chunk_rows=128)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
