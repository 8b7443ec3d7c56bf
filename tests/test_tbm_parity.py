"""Triple-barrier reference-parity: the Spark range-join operator vs a
pure-Python replay of the documented walk (reference tbm.py:11-158) on a
synthetic series with unique timestamps (no tie ambiguity).

Covers side meta-labeling, min_close_time gating, min_ret meta labels,
and the max_rb_ratios semantics (1.0 on horizontal touch; damped
max/(1+opposite), capped at 1.0, on vertical touch).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from finmlkit_spark.operators import labels as L

HOUR_NS = 3_600_000_000_000


def replay(ts, close, ev_idx, targets, sides, pt, sl, vb_ns, minc_ns, min_ret, meta):
    """Reference walk (tbm.py:77-156), written from the documented semantics."""
    logc = np.log(close)
    out = []
    for k, i0 in enumerate(ev_idx):
        tgt = targets[k]
        up, dn = tgt * pt, -tgt * sl
        t0 = ts[i0]
        t1_idx = np.searchsorted(ts, t0 + vb_ns, side="right") - 1
        if t1_idx <= i0:
            continue
        side = sides[k]
        touch = t1_idx
        mu = ml = 0.0
        ret = 0.0
        for j in range(i0 + 1, t1_idx + 1):
            if ts[j] - t0 < minc_ns:
                continue
            ret = (logc[j] - logc[i0]) * side
            if ret > 0.0:
                mu = max(mu, ret / up)
            elif ret < 0.0:
                ml = max(ml, ret / dn)
            if ret >= up or ret <= dn:
                touch = j
                break
        if meta:
            label = 1 if ret >= min_ret else 0
        else:
            s = np.sign(ret)
            label = int(s) if s != 0 else 1
        if touch == t1_idx:
            ratio = min((mu / (1 + ml)) if ret > 0 else (ml / (1 + mu)), 1.0)
        else:
            ratio = 1.0
        out.append((int(ev_idx[k]), int(ts[touch]), float(ret), label, float(ratio)))
    return out


@pytest.mark.parametrize("meta", [False, True])
def test_tbm_matches_reference_replay(spark, meta):
    rng = np.random.default_rng(7)
    n = 4000
    ts = (np.arange(n, dtype=np.int64) * 1_000_000_000) + rng.integers(
        0, 500_000_000, n
    )
    ts = np.sort(ts)
    assert len(np.unique(ts)) == n
    close = 100.0 * np.exp(np.cumsum(rng.normal(0, 0.004, n)))
    ev_idx = np.arange(50, n - 400, 173)
    targets = np.full(len(ev_idx), 0.06)  # ~sigma*sqrt(horizon): mixes branches
    sides = np.where(ev_idx % 2 == 0, 1, -1) if meta else np.ones(len(ev_idx), int)
    vb = 300 * 1_000_000_000  # ~300-row horizon
    minc = 45 * 1_000_000_000  # skip the first ~45 rows of each path
    min_ret = 0.001

    trades = spark.createDataFrame(
        [(int(t), float(c)) for t, c in zip(ts, close)], "ts_ns long, price double"
    )
    ev = spark.createDataFrame(
        [
            (int(i), int(ts[i]), float(close[i]), float(tg), int(sd))
            for i, tg, sd in zip(ev_idx, targets, sides)
        ],
        "event_id long, event_ts_ns long, entry_price double, target double, side int",
    )
    got = (
        L.triple_barrier(
            ev,
            trades,
            vb,
            pt_mult=1.0,
            sl_mult=1.0,
            bucket_ns=HOUR_NS,
            side_col="side" if meta else None,
            min_close_ns=minc,
            min_ret=min_ret,
        )
        .orderBy("event_id")
        .collect()
    )
    exp = replay(ts, close, ev_idx, targets, sides, 1.0, 1.0, vb, minc, min_ret, meta)
    exp_by_ts = {ts[e[0]]: e for e in exp}
    assert len(got) == len(exp)
    n_touch = n_vert = 0
    for row in got:
        e = exp_by_ts[row["event_ts_ns"]]
        assert row["touch_ts_ns"] == e[1], (row, e)
        assert math.isclose(row["touch_ret"], e[2], rel_tol=0, abs_tol=1e-12), (row, e)
        if meta:
            assert row["label"] == e[3], (row, e)
        else:
            assert row["label_sign"] in (-1, 1)
        assert math.isclose(row["barrier_ratio"], e[4], rel_tol=0, abs_tol=1e-12), (
            row,
            e,
        )
        if e[4] == 1.0 and row["touch_ts_ns"] != ts[
            np.searchsorted(ts, row["event_ts_ns"] + vb, side="right") - 1
        ]:
            n_touch += 1
        else:
            n_vert += 1
    # the synthetic path must exercise both branches for the test to mean anything
    assert n_touch > 0 and n_vert > 0, (n_touch, n_vert)


def test_tbm_min_close_blocks_early_touch(spark):
    # price jumps over the barrier immediately; with min_close the early
    # rows are skipped so the event cannot close before the gate
    ts = np.arange(100, dtype=np.int64) * 1_000_000_000
    price = np.full(100, 100.0)
    price[1:] = 120.0  # instant +log(1.2) jump, way past target
    trades = spark.createDataFrame(
        [(int(t), float(p)) for t, p in zip(ts, price)], "ts_ns long, price double"
    )
    ev = spark.createDataFrame(
        [(0, 0, 100.0, 0.05)],
        "event_id long, event_ts_ns long, entry_price double, target double",
    )
    no_gate = L.triple_barrier(ev, trades, 50 * 1_000_000_000).collect()[0]
    gated = L.triple_barrier(
        ev, trades, 50 * 1_000_000_000, min_close_ns=10 * 1_000_000_000
    ).collect()[0]
    assert no_gate["touch_ts_ns"] == 1_000_000_000  # first row touches
    assert gated["touch_ts_ns"] == 10 * 1_000_000_000  # first eligible row
    assert no_gate["label"] == gated["label"] == 1
    assert no_gate["barrier_ratio"] == gated["barrier_ratio"] == 1.0


def test_tbm_vertical_ratio_damping(spark):
    # path wanders up to 80% of the upper barrier and down to 40% of the
    # lower, never touching: ratio = 0.8/(1+0.4), not 0.8
    ts = np.arange(5, dtype=np.int64) * 1_000_000_000
    tgt = 0.10
    rets = [0.0, 0.04, -0.04, 0.08, 0.01]  # log-returns vs entry
    price = [100.0 * math.exp(r) for r in rets]
    trades = spark.createDataFrame(
        [(int(t), float(p)) for t, p in zip(ts, price)], "ts_ns long, price double"
    )
    ev = spark.createDataFrame(
        [(0, 0, 100.0, tgt)],
        "event_id long, event_ts_ns long, entry_price double, target double",
    )
    row = L.triple_barrier(ev, trades, 10 * 1_000_000_000).collect()[0]
    assert row["label"] == 0
    assert math.isclose(row["barrier_ratio"], 0.8 / 1.4, rel_tol=1e-9)


def _span_brute(ts, spans, val=None):
    """``{event_id: (Σ val/c, trade count)}`` over each span (s, e)
    holding a trade, straight from the sweep-line definition
    c(t) = #spans with s <= t <= e; a NaN ``val`` (a NULL return) adds
    nothing to the sum but counts as a trade."""
    c = np.zeros(len(ts), dtype=np.int64)
    for _, s, e in spans:
        c += (ts >= s) & (ts <= e)
    v = np.ones(len(ts)) if val is None else val
    out = {}
    for i, s, e in spans:
        m = (ts >= s) & (ts <= e)
        if m.any():
            out[i] = (float(np.nansum(v[m] / c[m])), int(m.sum()))
    return out


def _assert_no_data_scale_single_partition(df):
    """The only single-partition exchanges allowed are (a) scalar
    aggregates (the min/max chunk-bounds over the SPANS table — map-side
    partials reduce them to one row per task first) and (b) sorts on
    the _ck chunk axis (the k-row exclusive-prefix windows over
    chunk/head tables — k = TIME-CHUNK count, bounded at any data
    scale). Any other one means a global-window log return or a global
    sort over DATA-scale rows crept into the trade-stream path."""
    import re

    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            above = " ".join(lines[max(0, i - 2): i])
            below = " ".join(lines[i + 1: i + 5])
            # k-row evidence must be in the exchange's CHILD: the heads
            # table (_rn = 1 filter — one row per chunk) or the dense
            # chunk axis (explode(sequence(...)). A data-scale sort
            # (markers/trades also carry _ck) matches neither.
            k_row_child = (
                re.search(r"_rn#\d+L? = 1\)", below) is not None
                or "explode(sequence(" in below
            )
            assert "HashAggregate(keys=[]" in above or k_row_child, (
                f"non-k-row SinglePartition:\n{above}\n{line}\n{below}"
            )


def test_span_sweep_matches_bruteforce_numpy(spark):
    """Independent ground truth: span_sweep's per-event (Σ 1/c, count)
    vs a brute-force numpy evaluation of the sweep-line definition —
    not impl-vs-impl, so a bug in the Spark form cannot hide. Several
    seeds, spans crossing chunk boundaries both ways."""
    H = 3_600_000_000_000
    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        n = 1500
        ts = np.sort(
            rng.choice(np.arange(0, 4 * H, 5_000_000, dtype=np.int64), n, replace=False)
        )
        spans_np = []
        for i in range(25):
            s = int(ts[rng.integers(0, n - 50)])
            spans_np.append((i, s, s + int(rng.integers(1, int(1.5 * H)))))
        expected = _span_brute(ts, spans_np)
        trades = spark.createDataFrame(
            [(int(t), int(k)) for k, t in enumerate(ts)], "ts_ns long, trade_id long"
        )
        spans = spark.createDataFrame(
            spans_np, "event_id long, event_ts_ns long, touch_ts_ns long"
        )
        got = {
            r["event_id"]: (r["s_span"], r["n_span"])
            for r in L.span_sweep(spans, trades).collect()
            if r["n_span"] > 0
        }
        assert set(got) == set(expected), seed
        for k, (s_exp, n_exp) in expected.items():
            s_got, n_got = got[k]
            assert n_got == n_exp, (seed, k)
            assert abs(s_got - s_exp) <= 1e-9 * max(1.0, abs(s_exp)), (seed, k)


def test_average_uniqueness_sweep_matches_range_join(spark):
    """average_uniqueness_sweep reproduces the range-join definition
    (each span joined to the trades in [s, e], evaluated in numpy)
    over arbitrarily overlapping spans, a point span, a duplicate span
    and a span covering no trades (dropped)."""
    H = 3_600_000_000_000
    # trades over ~6 hours with dense and empty stretches
    rng = np.random.default_rng(7)
    n = 5000
    ts = np.sort(rng.choice(np.arange(0, 6 * H, 1_000_000, dtype=np.int64), n, replace=False))
    trades = spark.createDataFrame(
        [(int(t), int(i)) for i, t in enumerate(ts)], "ts_ns long, trade_id long"
    )
    spans_rows = []
    for i in range(60):
        s = int(ts[rng.integers(0, n - 100)])
        spans_rows.append((i, s, s + int(rng.integers(1, 2 * H))))
    spans_rows.append((60, int(ts[10]), int(ts[10])))          # point span
    spans_rows.append((61, spans_rows[0][1], spans_rows[0][2]))  # duplicate span
    spans_rows.append((62, int(6 * H + 1), int(6 * H + 2)))    # no trades inside
    spans = spark.createDataFrame(spans_rows, "event_id long, event_ts_ns long, touch_ts_ns long")
    want = {k: s / c for k, (s, c) in _span_brute(ts, spans_rows).items()}
    got = {
        r["event_id"]: r["uniqueness"]
        for r in L.average_uniqueness_sweep(spans, trades).collect()
    }
    assert set(got) == set(want) and 62 not in got
    for k, v in want.items():
        assert abs(got[k] - v) <= 1e-12 * max(1.0, abs(v)), (k, v, got[k])


def test_return_attribution_sweep_matches_range_join(spark):
    """|Σ r/c| via return_attribution_sweep == the range-join definition
    (evaluated in numpy) on an adversarial stream: overlaps, an equal-ts
    trade pair sharing one c, a NULL first return. The log return comes
    from the chunk-parallel side frame, and that whole plan has no
    data-scale single-partition exchange."""
    from finmlkit_spark.operators import preprocess as P

    H = 3_600_000_000_000
    rng = np.random.default_rng(11)
    n = 4000
    ts = np.sort(rng.choice(np.arange(0, 5 * H, 2_000_000, dtype=np.int64), n, replace=False))
    ts[100] = ts[99]  # equal-ts pair sharing one concurrency value
    price = 100.0 * np.exp(np.cumsum(rng.normal(0, 1e-4, n)))
    trades = spark.createDataFrame(
        [(int(t), int(i), float(p)) for i, (t, p) in enumerate(zip(ts, price))],
        "ts_ns long, trade_id long, price double",
    )
    spans_rows = []
    for i in range(40):
        s = int(ts[rng.integers(0, n - 200)])
        spans_rows.append((i, s, s + int(rng.integers(1, H))))
    spans = spark.createDataFrame(spans_rows, "event_id long, event_ts_ns long, touch_ts_ns long")
    r_np = np.concatenate([[np.nan], np.log(price[1:] / price[:-1])])
    want = {k: abs(s) for k, (s, _c) in _span_brute(ts, spans_rows, r_np).items()}
    d, w = P.chunked_side_frame(trades, chunk_ns=H, mode="chunked")
    rr = F.log(F.col("price") / F.coalesce(F.lag("price").over(w), F.col("_prev_last_p")))
    sweep_df = L.return_attribution_sweep(spans, d.select("ts_ns", rr.alias("r")), chunk_ns=H)
    got = {r["event_id"]: r["attribution"] for r in sweep_df.collect()}
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) <= 1e-9 * max(1.0, abs(v)), (k, v, got[k])
    _assert_no_data_scale_single_partition(sweep_df)


def test_span_sweep_driver_and_cut_states_bit_identical(spark, gate_sides):
    """span_sweep's driver gate (numpy pivot over the collected summary)
    and its distributed side (SQL pivot over the cut) must agree
    BIT-FOR-BIT — the numpy pivot replays the SQL's sequential prefix
    fold (np.cumsum) and per-marker add, so any divergence is a
    determinism bug."""
    from finmlkit_spark.operators import labels as L
    from finmlkit_spark.suite import labels_suite as LS

    tr, spans, _n = LS._trades_spans(spark, "/root/testdata/sf0.001")
    drv, dist = gate_sides(
        lambda: {
            r["event_id"]: (r["event_ts_ns"], r["s_span"], r["n_span"])
            for r in L.span_sweep(spans, tr, val_col=None, chunk_ns=LS.HOUR_NS).collect()
        }
    )
    assert drv == dist
    assert len(drv) > 0


def test_span_sweep_degenerate_inputs_both_states(spark, gate_sides):
    """Edge inputs: empty spans, a single event, a zero-length span
    (touch == event ts), and events sharing a timestamp must produce
    identical results through the driver and distributed sides — and
    the empty case must not crash the numpy pivot."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import labels as L

    trades = spark.createDataFrame(
        [(1000 + 10 * i, 1.0 + i) for i in range(50)], "ts_ns long, price double"
    ).select("ts_ns")

    cases = {
        "empty": [],
        "single": [(1, 1100, 1200)],
        "zero_len": [(1, 1100, 1100)],
        "shared_ts": [(1, 1100, 1300), (2, 1100, 1250), (3, 1250, 1300)],
    }
    for name, spans_rows in cases.items():
        spans = spark.createDataFrame(
            spans_rows or [(0, 0, 0)],
            "event_id long, event_ts_ns long, touch_ts_ns long",
        )
        if not spans_rows:
            spans = spans.where(F.lit(False))
        drv, dist = gate_sides(
            lambda: sorted(
                tuple(r) for r in L.span_sweep(spans, trades, chunk_ns=100).collect()
            )
        )
        assert drv == dist, (name, drv, dist)
        if name == "empty":
            assert drv == []


def test_time_decay_ignores_partitioning(spark, gate_sides):
    """time_decay over a seeded six-day event table returns the same
    float64 bits however its input is partitioned, on both sides of the
    prefix gate; the newest event weighs exactly 1.0 and every weight
    is within 1e-12 of the one-pass sequential fold."""
    rng = np.random.default_rng(5)
    D = 86_400_000_000_000
    n = 4000
    ts = np.sort(rng.integers(0, 6 * D, n))
    uniq = rng.uniform(0.01, 1.0, n) * 10.0 ** rng.integers(-3, 3, n)
    rows = [(i, int(t), float(u)) for i, (t, u) in enumerate(zip(ts, uniq))]
    u = spark.createDataFrame(rows, "event_id long, event_ts_ns long, uniqueness double")

    def bits(df):
        return {r["event_id"]: float.hex(r["decay_weight"]) for r in df.collect()}

    def run():
        return [bits(L.time_decay(u.repartition(p, "event_id"))) for p in (1, 7, 13)]

    small, scale = gate_sides(run)
    for side in (small, scale):
        assert side[0] == side[1] == side[2]

    order = sorted(rows, key=lambda r: (r[1], r[0]))
    cum = np.cumsum([r[2] for r in order])
    want = {r[0]: 0.5 + 0.5 * c / cum[-1] for r, c in zip(order, cum)}
    for side in (small, scale):
        assert float.fromhex(side[0][order[-1][0]]) == 1.0
        for k, v in want.items():
            assert abs(float.fromhex(side[0][k]) - v) <= 1e-12 * v, k


def test_weight_sums_ignore_partitioning(spark, gate_sides):
    """The sample weights' float sums are folded in a fixed order: over
    seeded inputs, ``class_balance_weights``, ``scale_to_mean_one``
    (``final_weights``' normalizer) and
    ``return_attribution_sweep(normalize=True)`` return the same float64
    bits however their input is partitioned, and the normalized weights
    have mean 1. The trade stream has equal-ts trades with different
    returns, whose order the sweep must fix itself."""
    rng = np.random.default_rng(9)
    n = 4000
    w = rng.uniform(0.01, 1.0, n) * 10.0 ** rng.integers(-3, 3, n)
    lab = rng.integers(-1, 2, n)
    ev = spark.createDataFrame(
        [(i, 1000 * i, int(c), float(x)) for i, (c, x) in enumerate(zip(lab, w))],
        "event_id long, event_ts_ns long, label int, w double",
    )
    parts = (1, 7, 13)

    def bits(df, col):
        return {r["event_id"]: float.hex(r[col]) for r in df.collect()}

    cb = [bits(L.class_balance_weights(ev.repartition(p, "event_id"), "w"), "balanced_w") for p in parts]
    mo = [bits(L.scale_to_mean_one(ev.repartition(p, "event_id"), "w"), "w") for p in parts]
    assert cb[0] == cb[1] == cb[2]
    assert mo[0] == mo[1] == mo[2]
    assert abs(np.mean([float.fromhex(v) for v in mo[0].values()]) - 1.0) <= 1e-12
    # each class sums to w_total / n_classes
    for c in (-1, 0, 1):
        got = sum(float.fromhex(cb[0][i]) for i in range(n) if lab[i] == c)
        assert abs(got - w.sum() / 3) <= 1e-12 * w.sum(), c

    H = 3_600_000_000_000
    m = 6000
    ts = np.sort(rng.integers(0, 3 * 3600, m)) * 1_000_000_000  # 1 s grid: many equal ts
    r = rng.normal(0, 1e-3, m)
    trades = spark.createDataFrame(
        [(int(t), float(x)) for t, x in zip(ts, r)], "ts_ns long, r double"
    )
    spans = spark.createDataFrame(
        [(i, int(ts[k]), int(ts[k]) + int(rng.integers(1, H)))
         for i, k in enumerate(rng.integers(0, m - 100, 80))],
        "event_id long, event_ts_ns long, touch_ts_ns long",
    )

    def run():
        return [
            bits(L.return_attribution_sweep(
                spans.repartition(p, "event_id"), trades.repartition(p), normalize=True, chunk_ns=H
            ), "attribution")
            for p in parts
        ]

    for side in gate_sides(run):
        assert side[0] == side[1] == side[2]
        assert abs(np.mean([float.fromhex(v) for v in side[0].values()]) - 1.0) <= 1e-12


def test_concurrency_reads_trades_once(spark):
    """concurrency's chunk offsets come from the spans alone: its
    executed plan scans the trade input once."""
    trades = spark.range(0, 10_000, 7).select((F.col("id") * 1_000_000_000).alias("ts_ns"))
    spans = spark.createDataFrame(
        [(1, 5_000_000_000, 9_000_000_000_000), (2, 2 * 3_600_000_000_000, 3 * 3_600_000_000_000)],
        "event_id long, event_ts_ns long, touch_ts_ns long",
    )
    c = L.concurrency(spans, trades)
    assert c._jdf.queryExecution().executedPlan().toString().count("Range (") == 1
    got = {r["ts_ns"]: r["c"] for r in c.collect()}
    sp = spans.collect()
    want = {
        t: sum(s <= t <= e for _, s, e in sp)
        for t in range(0, 10_000 * 1_000_000_000, 7_000_000_000)
    }
    assert got == want
