"""The chunked CUSUM stitch (the scale path for the reset state machines
on one huge symbol) must be BIT-IDENTICAL to the single-task kernels:
the fixed point converges to the exact sequential entry states, so
flags / bar ids / test statistics match element-for-element — including
the degenerate never-reset stream where convergence takes one round per
chunk. ``cusum_filter_chunked`` is checked on both sides of its driver
gate."""

from __future__ import annotations

import numpy as np
import pandas as pd

from finmlkit_spark.functions import sequential as S

SEC = 1_000_000_000


def _frame(spark, ts, **cols):
    return spark.createDataFrame(
        pd.DataFrame({"ts_ns": ts.astype("int64"), **cols})
    )


def test_cusum_filter_chunked_matches_exact(spark, gate_sides):
    rng = np.random.default_rng(7)
    n = 3000
    ts = np.cumsum(rng.integers(1, 4, n)) * SEC
    r = rng.standard_normal(n) * 0.4
    r[0] = np.nan  # first-return NaN like a lag() head
    r[100:105] = np.nan  # interior gap
    df = _frame(spark, ts, r=r)
    chunk_ns = int((ts[-1] - ts[0]) / 7)
    exact = S.cusum_filter_np(r, 1.0)
    for out in gate_sides(
        lambda: S.cusum_filter_chunked(df, threshold=1.0, chunk_ns=chunk_ns)
        .orderBy("ts_ns")
        .toPandas()
    ):
        assert len(out) == n
        assert np.array_equal(out["flag"].to_numpy(), exact)
    assert exact.sum() > 10  # the fixture actually triggers


def test_cusum_filter_chunked_vector_threshold(spark, gate_sides):
    rng = np.random.default_rng(8)
    n = 2000
    ts = (np.arange(n) * SEC).astype("int64")
    r = rng.standard_normal(n) * 0.3
    thr = 0.5 + 0.5 * rng.random(n)
    df = _frame(spark, ts, r=r, thr=thr)
    exact = S.cusum_filter_np(r, thr)
    for out in gate_sides(
        lambda: S.cusum_filter_chunked(df, thr_col="thr", chunk_ns=400 * SEC)
        .orderBy("ts_ns")
        .toPandas()
    ):
        assert np.array_equal(out["flag"].to_numpy(), exact)


def test_cusum_filter_chunked_never_triggers_still_exact(spark, gate_sides):
    # monotone tiny drift: sp never resets, so every chunk's exit depends
    # on its entry — the k-round worst case of the fixed point
    n = 500
    ts = (np.arange(n) * SEC).astype("int64")
    r = np.full(n, 1e-4)
    df = _frame(spark, ts, r=r)
    for out in gate_sides(
        lambda: S.cusum_filter_chunked(df, threshold=1e9, chunk_ns=100 * SEC)
        .orderBy("ts_ns")
        .toPandas()
    ):
        assert out["flag"].sum() == 0
        assert len(out) == n


def test_cusum_bar_ids_chunked_matches_exact(spark):
    rng = np.random.default_rng(9)
    n = 2500
    ts = np.cumsum(rng.integers(1, 3, n)) * SEC
    r = rng.standard_normal(n) * 0.5
    sigma = 0.2 + np.abs(rng.standard_normal(n))
    sigma[:3] = np.nan  # NaN head exercises the last_sig carry
    sigma[500:520] = np.nan
    df = _frame(spark, ts, r=r, sigma=sigma)
    chunk_ns = int((ts[-1] - ts[0]) / 6)
    out = (
        S.cusum_bar_ids_chunked(df, mult=2.0, floor_thr=0.5, chunk_ns=chunk_ns)
        .orderBy("ts_ns")
        .toPandas()
    )
    exact = S.cusum_bar_ids(r, sigma, mult=2.0, floor_thr=0.5)
    assert np.array_equal(out["bar_id"].to_numpy(), exact)
    assert exact[-1] > 5  # several bars closed


def test_cusum_adaptive_bars_chunked_matches_fused_sequential(spark):
    # the full reference composition: sigma = EWMST(halflife) of r, then
    # the adaptive-threshold bar machine — one fused stitched state
    rng = np.random.default_rng(10)
    n = 3000
    ts = np.cumsum(rng.integers(1, 5, n)) * SEC
    r = rng.standard_normal(n) * 0.3
    r[0] = np.nan
    hl = 120.0 * SEC  # chunks span many halflives -> entry absorption
    df = _frame(spark, ts, r=r)
    chunk_ns = int((ts[-1] - ts[0]) / 5)
    out = (
        S.cusum_adaptive_bars_chunked(
            df, mult=3.0, floor_thr=0.4, halflife_ns=hl, chunk_ns=chunk_ns
        )
        .orderBy("ts_ns")
        .toPandas()
    )
    sigma = S.ewmst(ts, r, hl)
    exact = S.cusum_bar_ids(r, sigma, mult=3.0, floor_thr=0.4)
    assert np.array_equal(out["bar_id"].to_numpy(), exact)
    assert exact[-1] > 5


def test_ewmst_state_chain_is_bit_exact():
    # pure-kernel check: splitting the EWMST recurrence at arbitrary
    # cuts and chaining the explicit state reproduces the global kernel
    # bit-for-bit (the fused stitch relies on exactly this)
    rng = np.random.default_rng(11)
    n = 1200
    ts = np.cumsum(rng.integers(1, 9, n)) * SEC
    y = rng.standard_normal(n)
    y[[0, 7, 400]] = np.nan
    hl = 300.0 * SEC
    full = S.ewmst(ts, y, hl)
    state = (0.0, 0.0, 0.0, 0.0, -1, float("nan"))
    got = []
    for lo, hi in [(0, 13), (13, 400), (400, 401), (401, n)]:
        sig, *state = S.ewmst_state(ts[lo:hi], y[lo:hi], hl, *state)
        got.append(sig)
    got = np.concatenate(got)
    assert np.array_equal(got, full, equal_nan=True)


def test_cusum_test_chunked_matches_exact(spark):
    rng = np.random.default_rng(12)
    n = 1100
    ts = (np.arange(n) * SEC).astype("int64")
    y = 100 + np.cumsum(rng.standard_normal(n))
    w, warm = 50, 10
    df = _frame(spark, ts, close=y)
    out = (
        S.cusum_test_chunked(df, w=w, warmup=warm, chunk_rows=200)
        .orderBy("ts_ns")
        .toPandas()
    )
    exact = S.cusum_test_rolling(y, w, warm)
    # rows with 1-based rn > warm survive, i.e. 0-based indices warm..n-1
    assert len(out) == n - warm
    assert np.array_equal(out["cusum_stat"].to_numpy(), exact[warm:], equal_nan=True)
