"""Property-based tests (hypothesis) for the sequential kernels —
invariants that must hold for any input, complementing the goldens."""

from __future__ import annotations

import os

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from finmlkit_spark.functions import sequential as S

# FMK_HYP_EXAMPLES=500 scales every test's example count for deep local
# audits (round-10 hygiene pass); default 0 keeps the per-test counts.
_EX = int(os.environ.get("FMK_HYP_EXAMPLES", "0"))

floats = st.floats(min_value=-10, max_value=10, allow_nan=False, allow_infinity=False)
pos_floats = st.floats(min_value=0.1, max_value=100, allow_nan=False, allow_infinity=False)


@settings(max_examples=_EX or 50, deadline=None)
@given(arrays(np.float64, st.integers(2, 200), elements=floats))
def test_ewma_within_data_range(x):
    out = S.ewma(x, span=10)
    assert np.all(out >= x.min() - 1e-9) and np.all(out <= x.max() + 1e-9)


@settings(max_examples=_EX or 50, deadline=None)
@given(arrays(np.float64, st.integers(1, 200), elements=pos_floats))
def test_volume_bars_monotone_and_bounded(q):
    thr = 50.0
    ids = S.volume_bar_ids_exact(q, thr)
    assert np.all(np.diff(ids) >= 0)  # bar ids never decrease
    # each closed bar's volume reaches the threshold
    for b in range(ids.max()):
        assert q[ids == b].sum() >= thr - 1e-9


@settings(max_examples=_EX or 50, deadline=None)
@given(arrays(np.float64, st.integers(2, 300), elements=floats))
def test_cusum_filter_scale_monotone(r):
    # a higher threshold can never produce MORE events
    lo = S.cusum_filter_np(r, 0.5).sum()
    hi = S.cusum_filter_np(r, 2.0).sum()
    assert hi <= lo


@settings(max_examples=_EX or 30, deadline=None)
@given(arrays(np.float64, st.integers(30, 120), elements=floats))
def test_rsi_bounds(x):
    out = S.rsi_wilder(x, 14)
    valid = out[~np.isnan(out)]
    assert np.all(valid >= 0.0) and np.all(valid <= 100.0)


@settings(max_examples=_EX or 30, deadline=None)
@given(arrays(np.float64, st.integers(30, 120), elements=pos_floats))
def test_atr_nonnegative(x):
    high = x + 1.0
    low = x - 1.0
    out = S.atr_ema(high, low, x, 14)
    valid = out[~np.isnan(out)]
    assert np.all(valid >= 0.0)


@settings(max_examples=_EX or 30, deadline=None)
@given(
    arrays(np.float64, 50, elements=pos_floats),
    arrays(np.float64, 50, elements=pos_floats),
)
def test_ewmst_shift_invariant_within_cancellation(a, b):
    # The estimator uses the naive E[y^2]-E[y]^2 closed form so it matches
    # the SQL oracle exactly; that form has catastrophic cancellation of
    # order sqrt(eps)*|shift| (~2e-6 per 100 of level), found by
    # hypothesis on constant series. Bound the property accordingly —
    # negligible vs real volatility levels (documented in sequential.py).
    ts = np.arange(50, dtype=np.int64) * 1_000_000_000
    s1 = S.ewmst(ts, a, 5e9)
    s2 = S.ewmst(ts, a + 100.0, 5e9)
    m = ~np.isnan(s1)
    assert np.allclose(s1[m], s2[m], rtol=1e-6, atol=3e-5)


# --- round 8: footprint Arrow kernel vs a per-bar reference ------------------


def _footprint_ref_per_bar(lv, b, s, m):
    """Straight-line per-bar reference for the flat vectorized kernel:
    the SQL window chain's semantics written the obvious way."""
    import numpy as np

    n = len(lv)
    sell = [False] * n
    buy = [False] * n
    for i in range(n):
        if i + 1 < n:
            sell[i] = s[i] > m * b[i + 1]
        if i > 0:
            buy[i] = b[i] > m * s[i - 1]
    sgn = [1 if buy[i] else (-1 if sell[i] else 0) for i in range(n)]
    run = [0] * n
    start = 0
    for i in range(n):
        prev = sgn[i - 1] if i else 0
        if sgn[i] != prev:
            start = i
        run[i] = (i - start + 1) if sgn[i] != 0 else 0
    j = max(range(n), key=lambda i: (run[i], -i))  # first max
    vol = [b[i] + s[i] for i in range(n)]
    c = max(range(n), key=lambda i: (vol[i], -i))  # first max
    # late-r13: moments are HALF_UP-1e6-quantized exact integer folds
    # over vold = (quantized buy + quantized sell) / 1e6
    acc = [0] * 4
    for i in range(n):
        price = lv[i] * 0.01
        d = price - 1.0  # the test passes bar_vwap = 1.0
        volq = int(np.floor(b[i] * 1e6 + 0.5)) + int(np.floor(s[i] * 1e6 + 0.5))
        vold = volq / 1e6
        acc[0] += volq
        acc[1] += int(np.floor(vold * vold * 1e6 + 0.5))
        acc[2] += int(np.floor(d * d * vold * 1e6 + 0.5))
        acc[3] += int(np.floor(d * vold * 1e6 + 0.5))
    return (
        n, sum(buy), sum(sell), run[j] * sgn[j], lv[c],
        acc[0], acc[1], acc[2], acc[3],
    )


@settings(max_examples=_EX or 30, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.floats(0.0, 1e4, allow_nan=False),
                st.floats(0.0, 1e4, allow_nan=False),
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_footprint_arrow_kernel_matches_per_bar_reference(spark, bars):
    """The flat segment-vectorized footprint kernel (reduceat tricks,
    zero-padded cumsum folds) must equal a straight per-bar loop on
    arbitrary volumes — every feature, bit-for-bit (the sums are
    sequential folds in both)."""
    from finmlkit_spark.operators import footprint as FP

    rows = []
    expected = {}
    for bi, levels in enumerate(bars):
        key = (bi + 1) * 300
        lv = list(range(100, 100 + len(levels)))
        b = [x[0] for x in levels]
        s = [x[1] for x in levels]
        for li, (bv, sv) in enumerate(zip(b, s)):
            rows.append((key, lv[li], bv, sv, 1, 1))
        expected[key] = _footprint_ref_per_bar(lv, b, s, 3.0)
    fp = spark.createDataFrame(
        rows,
        "bar_close_ns long, level long, buy_vol double, sell_vol double,"
        " buy_ticks long, sell_ticks long",
    )
    bv_tbl = spark.createDataFrame(
        [(k, 1.0) for k in expected], "bar_close_ns long, bar_vwap double"
    )
    got = FP.footprint_features(fp, imb_mult=3.0, tick=0.01, bar_vwap=bv_tbl).collect()
    assert len(got) == len(expected)
    for r in got:
        k = r["bar_close_ns"]
        n, bi_, si_, mir, cot, v1, v2, var_num, skew = expected[k]
        assert r["n_levels"] == n and r["buy_imb_sum"] == bi_ and r["sell_imb_sum"] == si_
        assert r["max_imb_run"] == mir and r["cot_level"] == cot, (k, r)
        # the engine guards zero denominators with nullif -> NULL
        # (v1*v1 can underflow to 0 on subnormal volumes even when
        # v1 != 0 — the engine nullifs the PRODUCT, mirror that)
        if v1:
            # late-r13: quantized integer sums; the engine's ratio is
            # CAST(int AS DOUBLE) / CAST(int AS DOUBLE) — mirror the
            # double conversions explicitly
            assert r["vp_skew"] == float(skew) / float(v1)
            assert r["vp_var"] == float(var_num) / float(v1), (
                r["vp_var"], float(var_num) / float(v1),
            )
        else:
            assert r["vp_skew"] is None
            assert r["vp_var"] is None
        den = float(v1) * float(v1)
        if den:
            assert r["vp_gini"] == 1.0 - float(v2) * 1000000.0 / den
        else:
            assert r["vp_gini"] is None


@settings(max_examples=_EX or 25, deadline=None)
@given(
    st.integers(1, 33),
    st.integers(1, 33),
    st.integers(0, 2**32 - 1),
)
def test_jpeg_gray_roundtrip_bounded(h, w, seed):
    """Any uint8 image must survive the baseline JPEG encode→decode
    round-trip within quantization distance at step 8 (white noise is
    the adversarial case — empirical worst max 10 / mean 2.2 over 200
    seeds; the bounds carry margin). Also pins shape/dtype for
    non-multiple-of-8 dims (edge-replicated pad + crop)."""
    from finmlkit_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w)).astype(np.uint8)
    px = MM.jpeg_pixels(MM._jpeg_encode_gray(img, quant=8))
    assert px.shape == (h, w, 1) and px.dtype == np.uint8
    err = np.abs(px[:, :, 0].astype(int) - img.astype(int))
    assert err.max() <= 24 and err.mean() <= 6.0


@settings(max_examples=_EX or 15, deadline=None)
@given(st.integers(1, 8), st.integers(1, 4), st.integers(0, 2**32 - 1))
def test_avi_mjpeg_frame_sampling_indices(n_frames, every, seed):
    """The AVI RIFF walk must sample exactly frames 0, every, 2·every…
    and per-frame decode must stay within the JPEG round-trip bound —
    for any frame count, sampling stride, and content."""
    from finmlkit_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, (n_frames, 16, 16)).astype(np.uint8)
    avi = MM.encode_avi_mjpeg(frames, quant=8)
    assert MM._parse_avi(avi) == (16, 16, n_frames)
    got = dict(MM.avi_mjpeg_frames(avi, every=every))
    assert sorted(got) == list(range(0, n_frames, every))
    for i, luma in got.items():
        assert np.abs(luma.astype(int) - frames[i].astype(int)).max() <= 24


@settings(max_examples=_EX or 25, deadline=None)
@given(
    st.integers(1, 3),
    st.integers(1, 3),
    st.integers(0, 3),  # 0 = no restart interval
    st.integers(0, 2**32 - 1),
)
def test_jpeg_progressive_coef_roundtrip_exact(bh, bw, ri, seed):
    """Random sparse coefficient matrices pushed through the progressive
    entropy layers (DC first/refine, split-band AC first, AC refine,
    EOB runs, ZRLs, optional restart intervals) must decode to EXACTLY
    the reference reconstruction of those coefficients — the entropy
    coding is lossless, so any deviation is a scan-layer bug. The
    encoder is tools/make_jpeg_fixture.py's independent implementation;
    the reference reconstruction is computed here with a third copy of
    the dequant+IDCT math."""
    import importlib.util
    import os

    from finmlkit_spark.operators import multimodal as MM

    tool = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "make_jpeg_fixture.py",
    )
    spec = importlib.util.spec_from_file_location("_mjf", tool)
    mjf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mjf)

    rng = np.random.default_rng(seed)
    # sparse zigzag coefficients: mostly zero (real DCT statistics),
    # magnitudes up to ±200 so multi-bit categories + refinement bits
    # + long zero runs + all-zero bands (EOB runs) all occur
    coefs = rng.integers(-200, 201, (bh, bw, 64))
    mask = rng.random((bh, bw, 64)) < 0.8
    coefs[mask] = 0
    coefs[..., 0] = rng.integers(-80, 81, (bh, bw))  # DC always present

    quant = 8
    h, w = bh * 8, bw * 8
    b = mjf.encode_progressive_gray_from_coefs(coefs, h, w, ri=ri, quant=quant)
    px = MM.jpeg_pixels(b)
    assert px.shape == (h, w, 1)

    # independent reference reconstruction
    C = MM._jpeg_dct_matrix()
    want = np.empty((h, w), dtype=np.float64)
    for by in range(bh):
        for bx in range(bw):
            blk = np.zeros(64)
            blk[MM._ZZ] = coefs[by, bx].astype(np.float64) * float(quant)
            want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                C.T @ blk.reshape(8, 8) @ C
            )
    want = np.clip(np.round(want + 128.0), 0, 255).astype(np.uint8)
    assert np.array_equal(px[:, :, 0], want)
