"""Rolling / window transform library (SURVEY.md §2.5) — the Catalyst tier.

Every function here emits pure Column expressions over a caller-supplied
ordered ``WindowSpec`` (partition by symbol at scale; the window frame
stays bounded so state never exceeds the frame). NaN-warmup parity with
the reference: transforms emit NULL until the window is full, guarded by
``count(*)`` over the frame (reference writes ``out[:w] = NaN``, e.g.
``core/utils.py:78-80``).

Sequential recurrences (EWMA family, Wilder smoothing, ADX, CUSUM) are
NOT here — see ``functions.sequential``.

Reference kernels these mirror (behavior, not code):
``finmlkit/feature/core/{momentum,ma,volatility,reversion,volume,
correlation,trend,time,utils}.py`` and the pandas transforms in
``finmlkit/feature/transforms.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def _frame(w, n: int):
    return w.rowsBetween(-(n - 1), 0)


def _full(w, n: int, expr: Column) -> Column:
    """NULL until the rows-frame holds n rows (reference warmup NaNs)."""
    return F.when(F.count(F.lit(1)).over(_frame(w, n)) == n, expr)


# --- momentum (core/momentum.py) -------------------------------------------

def lag(col, p: int, w) -> Column:
    return F.lag(col, p).over(w)


def ret(col, p: int, w, log: bool = True) -> Column:
    """Return(p): x/x[t-p]-1 or ln ratio (transforms.py:120)."""
    base = F.lag(col, p).over(w)
    return F.log(F.col(col) / base) if log else F.col(col) / base - 1


def roc(col, p: int, w) -> Column:
    """100·(x−x[t−p])/x[t−p] (core/momentum.py:6-22)."""
    base = F.lag(col, p).over(w)
    return (F.col(col) - base) / base * 100.0


def pct_change(col, p: int, w) -> Column:
    """(x−x[t−p])/x[t−p], NULL if base ≤ 0 (core/utils.py:110-124)."""
    base = F.lag(col, p).over(w)
    return F.when(base > 0, (F.col(col) - base) / base)


def stoch_k(close, high, low, n: int, w) -> Column:
    """100·(c−min low)/(max high−min low) (core/momentum.py:68-112)."""
    lo = F.min(low).over(_frame(w, n))
    hi = F.max(high).over(_frame(w, n))
    return _full(w, n, F.when(hi != lo, 100.0 * (F.col(close) - lo) / (hi - lo)))


# --- moving averages / volatility (core/ma.py, core/volatility.py) ---------

def sma(col, n: int, w) -> Column:
    return _full(w, n, F.avg(col).over(_frame(w, n)))


def zscore(col, n: int, w, ddof: int = 1) -> Column:
    """(x−mean)/std over window (core/utils.py:67-90)."""
    std = (F.stddev_samp if ddof else F.stddev_pop)(col).over(_frame(w, n))
    mean = F.avg(col).over(_frame(w, n))
    return _full(w, n, F.when(std != 0, (F.col(col) - mean) / std))


def rolling_median(col, n: int, w) -> Column:
    """Exact interpolated rolling median. Spark lacks window median, so we
    sort the frame's collect_list — O(n·log n) per row, fine at bar scale
    (the reference's per-window sort is the same complexity)."""
    lst = F.array_sort(F.collect_list(col).over(_frame(w, n)))
    m = F.size(lst)
    lo = F.element_at(lst, ((m + 1) / 2).cast("int"))
    hi = F.element_at(lst, (m / 2 + 1).cast("int"))
    return (lo + hi) / 2.0


def burst_ratio(col, n: int, w) -> Column:
    """x / rolling median (core/utils.py:92-108)."""
    med = rolling_median(col, n, w)
    return _full(w, n, F.when(med != 0, F.col(col) / med))


def vwap_distance(close, volume, n: int, w, log: bool = False) -> Column:
    """close / rolling VWAP − 1 (core/reversion.py:9-56)."""
    vw = F.sum(F.col(close) * F.col(volume)).over(_frame(w, n)) / F.sum(volume).over(_frame(w, n))
    out = F.log(F.col(close) / vw) if log else F.col(close) / vw - 1
    return _full(w, n, out)


def realized_vol(r, n: int, w) -> Column:
    """sqrt(Σ r² / n) over window, NULL-aware count (core/volatility.py:256-286)."""
    cnt = F.count(r).over(_frame(w, n))
    return _full(w, n, F.when(cnt > 0, F.sqrt(F.sum(F.col(r) * F.col(r)).over(_frame(w, n)) / cnt)))


def bollinger_percent_b(col, n: int, w, k: float = 2.0) -> Column:
    """(x−lower)/(upper−lower) with bands mean±k·std (volatility.py:289-338)."""
    mean = F.avg(col).over(_frame(w, n))
    std = F.stddev_samp(col).over(_frame(w, n))
    return _full(w, n, F.when(std != 0, (F.col(col) - (mean - k * std)) / (2 * k * std)))


def parkinson_range(high, low) -> Column:
    """ln(h/l)²/(4·ln2) per row (volatility.py:341-349) — pure projection."""
    return F.pow(F.log(F.col(high) / F.col(low)), 2) / (4.0 * math.log(2.0))


def true_range(high, low, close, w) -> Column:
    """TR = max(h−l, |h−c₋₁|, |l−c₋₁|) (volatility.py:222-253)."""
    pc = F.lag(close).over(w)
    return F.greatest(
        F.col(high) - F.col(low), F.abs(F.col(high) - pc), F.abs(F.col(low) - pc)
    )


def atr_sma(tr, n: int, w) -> Column:
    """SMA-smoothed ATR over a pre-materialized TR column
    (volatility.py:352-437); EMA variant is sequential. Materialize TR
    with ``true_range`` in a prior select — Spark forbids nested windows.
    """
    return _full(w, n + 1, F.avg(tr).over(_frame(w, n)))  # +1: tr NULL on row 1


def variance_ratio_1_4(r, r4, n: int, w) -> Column:
    """var(1-bar ret)/(var(4-bar ret)/4) (volatility.py:481-540).

    ``r`` = 1-bar log return, ``r4`` = pre-materialized
    r+lag(r)+lag2(r)+lag3(r) (nested-window restriction).
    """
    v1 = F.var_samp(r).over(_frame(w, n))
    v4 = F.var_samp(r4).over(_frame(w, n))
    return _full(w, n + 4, F.when(v4 != 0, v1 / (v4 / 4.0)))


def kurtosis_rolling(col, n: int, w) -> Column:
    """Rolling excess kurtosis, population moments — explicit power sums so
    the DuckDB oracle can reproduce the exact formula (transforms.py:900).
    """
    f = _frame(w, n)
    s1 = F.sum(col).over(f)
    s2 = F.sum(F.pow(col, 2)).over(f)
    s3 = F.sum(F.pow(col, 3)).over(f)
    s4 = F.sum(F.pow(col, 4)).over(f)
    m = s1 / n
    m2 = s2 / n - m * m
    m4 = s4 / n - 4 * m * s3 / n + 6 * m * m * s2 / n - 3 * F.pow(m, 4)
    return _full(w, n, F.when(m2 != 0, m4 / (m2 * m2) - 3.0))


def bipower_variation(prod, n: int, w) -> Column:
    """(π/2)·Σ|rₜ|·|rₜ₋₁| over window (transforms.py:1551); ``prod`` is
    the pre-materialized |r|·|lag(r)| column."""
    return _full(w, n + 2, F.sum(prod).over(_frame(w, n)) * (math.pi / 2.0))


# --- flow / volume (core/volume.py) ----------------------------------------

def flow_acceleration(volume, n: int, r: int, w) -> Column:
    """log(Σ recent r vols / (r/(n−r))·Σ prior n−r vols) (volume.py:572-607)."""
    recent = F.sum(volume).over(w.rowsBetween(-(r - 1), 0))
    prior = F.sum(volume).over(w.rowsBetween(-(n - 1), -r))
    return _full(w, n, F.when(prior > 0, F.log(recent / (prior * r / (n - r)))))


def vpin(buy_vol, sell_vol, n: int, w) -> Column:
    """Σ|buy−sell| / Σ(buy+sell) over window (volume.py:610-641)."""
    num = F.sum(F.abs(F.col(buy_vol) - F.col(sell_vol))).over(_frame(w, n))
    den = F.sum(F.col(buy_vol) + F.col(sell_vol)).over(_frame(w, n))
    return _full(w, n, F.when(den > 0, num / den))


def price_volume_corr(r, volume, n: int, w) -> Column:
    """Rolling Pearson corr(returns, volume) (core/correlation.py:9-111;
    the reference kernel's hardcoded test shortcuts are NOT replicated)."""
    return _full(w, n + 1, F.corr(r, volume).over(_frame(w, n)))


# --- trend / time (core/trend.py, core/time.py, transforms.py) -------------

def trend_slope(col, x_col, n: int, w, as_degrees: bool = True) -> Column:
    """OLS slope of ln(col) vs a pre-materialized row-index column, in
    degrees (transforms.py:936). Closed-form from power sums so both
    engines compute the identical expression (``x_col`` must be
    materialized first — nested-window restriction).
    """
    f = _frame(w, n)
    y = F.log(col)
    x = F.col(x_col).cast("double")
    sx = F.sum(x).over(f)
    sy = F.sum(y).over(f)
    sxy = F.sum(x * y).over(f)
    sxx = F.sum(x * x).over(f)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    out = F.degrees(F.atan(slope)) if as_degrees else slope
    return _full(w, n, out)


def mean_reversion_z(col, n: int, w) -> Column:
    """(c − SMA)/rolling std (transforms.py:1033)."""
    return zscore(col, n, w, ddof=1)


def bar_duration(ts, p: int, w) -> Column:
    """ts − ts[t−p] in seconds (transforms.py:1511)."""
    return (F.col(ts) - F.lag(ts, p).over(w)) / 1e9


def bar_rate(ts, dt_ns: int, w_range) -> Column:
    """Bars per hour in a trailing time window (transforms.py:1210).
    ``w_range`` must be a range window on the long ts column.
    """
    return F.count(F.lit(1)).over(w_range.rangeBetween(-dt_ns, 0)) / (dt_ns / 3.6e12)


def return_t(col, ts, dt_ns: int, w_range, log: bool = True) -> Column:
    """ReturnT(Δt): return vs the latest value at ts ≤ t−Δt on an
    irregular series (core/utils.py:12-64, searchsorted semantics).
    """
    base = F.last(col, ignorenulls=True).over(
        w_range.rangeBetween(Window.unboundedPreceding, -dt_ns)
    )
    return F.log(F.col(col) / base) if log else F.col(col) / base - 1


def with_dir_run_len(df, r: str, order_cols: list[str], part_cols: list[str] | None = None, out: str = "dir_run_len"):
    """Length of the current same-sign return streak (transforms.py:1605)
    via gaps-and-islands (two window stages, so DataFrame-level)."""
    part_cols = part_cols or []
    w = (Window.partitionBy(*part_cols) if part_cols else Window.partitionBy(F.lit(1))).orderBy(*order_cols)
    sign = F.signum(F.col(r))
    df = df.withColumn("_sign", sign).withColumn(
        "_chg", F.when(F.col("_sign") != F.lag("_sign").over(w), 1).otherwise(0)
    )
    df = df.withColumn("_grp", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    wi = Window.partitionBy(*part_cols, "_grp").orderBy(*order_cols)
    df = df.withColumn(
        out, F.when(F.col("_sign").isNotNull(), F.row_number().over(wi)).cast("long")
    )
    return df.drop("_sign", "_chg", "_grp")


def time_cues(ts) -> dict[str, Column]:
    """sin/cos time-of-day & day-of-week, session flags (core/time.py:5-62).

    ts is long ns UTC. Sessions (reference hours): Asia 00-08, EU 07-15,
    US 13-21; session_transition = top minute of hours 0/7/13.

    The four trig columns are evaluated by the shared-text polynomial in
    ``functions.dettrig`` (libm sin/cos differ cross-engine in the last
    ulp; the polynomial is IEEE add/mul/div only, bit-identical between
    Spark and any IEEE SQL engine evaluating the same expression text).
    """
    from . import dettrig as DT

    sec_of_day = (F.col(ts) / F.lit(1_000_000_000)).cast("long") % 86400
    t_tod = DT.frac_of_day_sql(ts)
    t_dow = f"(CAST({DT.dow_sql(ts)} AS DOUBLE) / 7.0e0)"
    hour = F.floor(sec_of_day / 3600).cast("int")
    return {
        "tod_sin": F.expr(DT.sin2pi_sql(t_tod)),
        "tod_cos": F.expr(DT.cos2pi_sql(t_tod)),
        "dow_sin": F.expr(DT.sin2pi_sql(t_dow)),
        "dow_cos": F.expr(DT.cos2pi_sql(t_dow)),
        "asia_session": ((hour >= 0) & (hour < 8)).cast("int"),
        "eu_session": ((hour >= 7) & (hour < 15)).cast("int"),
        "us_session": ((hour >= 13) & (hour < 21)).cast("int"),
        "session_transition": (
            hour.isin(0, 7, 13) & (sec_of_day % 3600 < 60)
        ).cast("int"),
        "top_of_hour": (sec_of_day % 3600 < 60).cast("int"),
    }


def fast_feature_stage(
    df,
    by: str | None = None,
    order_col: str = "bar_close_ns",
    close: str = "close",
    high: str = "high",
    low: str = "low",
    volume: str = "volume",
    n_ma: int = 20,
    n_st: int = 14,
    n_roc: int = 5,
):
    """Six core window features in O(1) amortized work per row via
    running-sum differences (the scale path for wide frames).

    The bounded-frame helpers above recompute their aggregate over the
    whole frame for every row (O(frame)/row in Spark's WindowExec). Here
    each sliding sum is ``cum − lag(cum, n)`` over unbounded-preceding
    cumulative sums, which WindowExec maintains incrementally — O(1)/row
    regardless of frame width. All window passes share one shuffle+sort
    (identical partitioning/ordering), and min/max keep the bounded frame
    (not invertible; comparisons are cheap).

    Numerical note: variance uses the E[x²]−E[x]² power-sum form and the
    sliding sums difference large cumulants, so absolute error grows as
    cum·ε (~1e-16·Σx). Both are deliberate: the DuckDB oracle reproduces
    the *identical* expressions, and the tested agreement with the exact
    bounded-frame helpers is ≤1e-6 relative at realistic magnitudes.

    Features (same semantics/warmup as the helpers): sma, z
    (``zscore``), k (``stoch_k``), roc, vd (``vwap_distance``), bb
    (``bollinger_percent_b``, k=2).
    """
    part = [by] if by else []
    w = (
        Window.partitionBy(*part) if part else Window.partitionBy(F.lit(1))
    ).orderBy(order_col)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    x = F.col(close)
    d1 = df.select(
        *part,
        order_col,
        close,
        F.row_number().over(w).alias("_rn"),
        F.sum(x).over(wc).alias("_cs"),
        F.sum(x * x).over(wc).alias("_cs2"),
        F.sum(x * F.col(volume)).over(wc).alias("_cv"),
        F.sum(volume).over(wc).alias("_vv"),
        F.min(low).over(w.rowsBetween(-(n_st - 1), 0)).alias("_lo"),
        F.max(high).over(w.rowsBetween(-(n_st - 1), 0)).alias("_hi"),
    )
    d2 = d1.select(
        *part,
        order_col,
        close,
        "_rn",
        "_lo",
        "_hi",
        (F.col("_cs") - F.coalesce(F.lag("_cs", n_ma).over(w), F.lit(0.0))).alias("_s"),
        (F.col("_cs2") - F.coalesce(F.lag("_cs2", n_ma).over(w), F.lit(0.0))).alias("_s2"),
        (F.col("_cv") - F.coalesce(F.lag("_cv", n_ma).over(w), F.lit(0.0))).alias("_sv"),
        (F.col("_vv") - F.coalesce(F.lag("_vv", n_ma).over(w), F.lit(0.0))).alias("_sw"),
        F.lag(close, n_roc).over(w).alias("_base"),
    )
    full_ma = F.col("_rn") >= n_ma
    full_st = F.col("_rn") >= n_st
    mean = F.col("_s") / float(n_ma)
    var = (F.col("_s2") - F.lit(float(n_ma)) * mean * mean) / float(n_ma - 1)
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    vw = F.col("_sv") / F.col("_sw")
    return d2.select(
        *part,
        order_col,
        F.when(full_ma, mean).alias("sma"),
        F.when(full_ma & (std != 0), (F.col(close) - mean) / std).alias("z"),
        F.when(
            full_st & (F.col("_hi") != F.col("_lo")),
            100.0 * (F.col(close) - F.col("_lo")) / (F.col("_hi") - F.col("_lo")),
        ).alias("k"),
        ((F.col(close) - F.col("_base")) / F.col("_base") * 100.0).alias("roc"),
        F.when(full_ma, F.col(close) / vw - 1).alias("vd"),
        F.when(
            full_ma & (std != 0),
            (F.col(close) - (mean - 2.0 * std)) / (4.0 * std),
        ).alias("bb"),
    )


# --- tick-exact fast stage (cross-engine deterministic) ---------------------
#
# The float form above differences large double cumulants, whose fold order
# differs between engines (Spark folds left-to-right, DuckDB uses a segment
# tree), so its values are only ~1e-15-reproducible — enough for training,
# not for a bit-exact oracle hash. The tick form quantizes price to integer
# ticks and volume to integer units FIRST; integer sums are order-independent
# and bit-identical on every engine, and each derived double below is a fixed
# chain of IEEE-correctly-rounded ops shared as expression TEXT between the
# Spark columns (F.expr) and the DuckDB oracle. All literals use e-notation
# to force DOUBLE typing on both engines (bare decimals are DECIMAL-typed).
#
# Range envelope (documented, not enforced): with price < ~1e4 and the 1e4
# tick scale, ci < 1e8 and ci*ci < 1e16, so the Spark-side cumulative BIGINT
# sum of ci*ci overflows only past ~900 rows*  (*per partition at price 1e4;
# at the testdata's price < 600, ci < 6e6 and the cum overflows past ~2.5e5
# rows per partition — partition by symbol/day at scale, as the callers do).

FAST_TICK_MEAN = "(CAST({s} AS DOUBLE) / {n}.0e0)"
FAST_TICK_STD = (
    "sqrt(greatest(((CAST({s2} AS DOUBLE) - (({n}.0e0 * {mean}) * {mean}))"
    " / {n_1}.0e0), 0.0e0))"
)
FAST_TICK_FEATURES = {
    "sma": "({mean} / {ps}.0e0)",
    "z": "((CAST({ci} AS DOUBLE) - {mean}) / {std})",
    "k": "((100.0e0 * CAST(({ci} - {lo}) AS DOUBLE)) / CAST(({hi} - {lo}) AS DOUBLE))",
    "roc": "((CAST(({ci} - {base}) AS DOUBLE) / CAST({base} AS DOUBLE)) * 100.0e0)",
    "vd": "((CAST({ci} AS DOUBLE) / (CAST({sv} AS DOUBLE) / CAST({sw} AS DOUBLE))) - 1.0e0)",
    "bb": "((CAST({ci} AS DOUBLE) - ({mean} - (2.0e0 * {std}))) / (4.0e0 * {std}))",
}


def _tick_sql(col: str, scale: int) -> str:
    """floor(x*scale + 1/2) — explicit half-up so both engines agree even
    when x*scale lands exactly on .5 (round() half-mode differs)."""
    return f"CAST(floor(({col} * {scale}.0e0) + 0.5e0) AS BIGINT)"


def fast_feature_stage_ticks(
    df,
    by: str | None = None,
    order_col: str = "bar_close_ns",
    close: str = "close",
    high: str = "high",
    low: str = "low",
    volume: str = "volume",
    n_ma: int = 20,
    n_st: int = 14,
    n_roc: int = 5,
    price_scale: int = 10_000,
):
    """Tick-exact ``fast_feature_stage``: same six features, same O(1)/row
    cum−lag plan, but every compared double is derived from exact integer
    window sums by the shared-text IEEE expressions above — bit-identical
    to any engine evaluating the same text (see module comment)."""
    part = [by] if by else []
    w = (
        Window.partitionBy(*part) if part else Window.partitionBy(F.lit(1))
    ).orderBy(order_col)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    d0 = df.select(
        *part,
        order_col,
        F.expr(_tick_sql(close, price_scale)).alias("ci"),
        F.expr(_tick_sql(high, price_scale)).alias("hi_t"),
        F.expr(_tick_sql(low, price_scale)).alias("lo_t"),
        F.expr(f"CAST(floor({volume} + 0.5e0) AS BIGINT)").alias("vi"),
    )
    ci, vi = F.col("ci"), F.col("vi")
    zero = F.lit(0).cast("long")
    d1 = d0.select(
        *part,
        order_col,
        "ci",
        F.row_number().over(w).alias("brn"),
        F.sum(ci).over(wc).alias("_cs"),
        F.sum(ci * ci).over(wc).alias("_cs2"),
        F.sum(ci * vi).over(wc).alias("_cv"),
        F.sum(vi).over(wc).alias("_vv"),
        F.min("lo_t").over(w.rowsBetween(-(n_st - 1), 0)).alias("lo"),
        F.max("hi_t").over(w.rowsBetween(-(n_st - 1), 0)).alias("hi"),
        F.lag("ci", n_roc).over(w).alias("base"),
    )
    d2 = d1.select(
        *part,
        order_col,
        "ci",
        "brn",
        "lo",
        "hi",
        "base",
        (F.col("_cs") - F.coalesce(F.lag("_cs", n_ma).over(w), zero)).alias("s"),
        (F.col("_cs2") - F.coalesce(F.lag("_cs2", n_ma).over(w), zero)).alias("s2"),
        (F.col("_cv") - F.coalesce(F.lag("_cv", n_ma).over(w), zero)).alias("sv"),
        (F.col("_vv") - F.coalesce(F.lag("_vv", n_ma).over(w), zero)).alias("sw"),
    )
    d3 = d2.withColumn(
        "mean_t", F.expr(FAST_TICK_MEAN.format(s="s", n=n_ma))
    ).withColumn(
        "std_t",
        F.expr(FAST_TICK_STD.format(s2="s2", n=n_ma, mean="mean_t", n_1=n_ma - 1)),
    )
    fargs = dict(
        ci="ci", mean="mean_t", std="std_t", lo="lo", hi="hi", base="base",
        sv="sv", sw="sw", ps=price_scale,
    )
    T = {k: t.format(**fargs) for k, t in FAST_TICK_FEATURES.items()}
    full_ma = F.col("brn") >= n_ma
    full_st = F.col("brn") >= n_st
    std_nz = F.col("std_t") != 0.0
    return d3.select(
        *part,
        order_col,
        F.when(full_ma, F.expr(T["sma"])).alias("sma"),
        F.when(full_ma & std_nz, F.expr(T["z"])).alias("z"),
        F.when(full_st & (F.col("hi") != F.col("lo")), F.expr(T["k"])).alias("k"),
        F.expr(T["roc"]).alias("roc"),
        F.when(full_ma, F.expr(T["vd"])).alias("vd"),
        F.when(full_ma & std_nz, F.expr(T["bb"])).alias("bb"),
    )


def fast_stage_ticks_oracle_sql(
    bars_cte: str = "b",
    order_col: str = "bar_close_ns",
    n_ma: int = 20,
    n_st: int = 14,
    n_roc: int = 5,
    price_scale: int = 10_000,
    by: str | None = None,
) -> str:
    """DuckDB oracle tail for ``fast_feature_stage_ticks``: direct
    bounded-window integer sums (exact, so equal to Spark's cum−lag
    integers) + the SAME float expression text. Append after a CTE named
    ``bars_cte`` providing (order_col, close, high, low, volume); pass
    ``by`` for the partition-parallel form."""
    f = FAST_TICK_FEATURES
    fargs = dict(
        ci="ci", mean="mean_t", std="std_t", lo="lo", hi="hi", base="base",
        sv="sv", sw="sw", ps=price_scale,
    )
    pb = f"PARTITION BY {by} " if by else ""
    sel_by = f"{by}, " if by else ""
    return f"""
, tq AS (
  SELECT {sel_by}{order_col},
         {_tick_sql('close', price_scale)} AS ci,
         {_tick_sql('high', price_scale)} AS hi_t,
         {_tick_sql('low', price_scale)} AS lo_t,
         CAST(floor(volume + 0.5e0) AS BIGINT) AS vi
  FROM {bars_cte}
),
tw AS (
  SELECT {sel_by}{order_col}, ci,
         row_number() OVER wo AS brn,
         CAST(sum(ci) OVER wn AS BIGINT) AS s,
         CAST(sum(ci * ci) OVER wn AS BIGINT) AS s2,
         CAST(sum(ci * vi) OVER wn AS BIGINT) AS sv,
         CAST(sum(vi) OVER wn AS BIGINT) AS sw,
         min(lo_t) OVER ws AS lo,
         max(hi_t) OVER ws AS hi,
         lag(ci, {n_roc}) OVER wo AS base
  FROM tq
  WINDOW wo AS ({pb}ORDER BY {order_col}),
         wn AS ({pb}ORDER BY {order_col} ROWS BETWEEN {n_ma - 1} PRECEDING AND CURRENT ROW),
         ws AS ({pb}ORDER BY {order_col} ROWS BETWEEN {n_st - 1} PRECEDING AND CURRENT ROW)
),
tm AS (
  SELECT *, {FAST_TICK_MEAN.format(s='s', n=n_ma)} AS mean_t FROM tw
),
tf AS (
  SELECT *, {FAST_TICK_STD.format(s2='s2', n=n_ma, mean='mean_t', n_1=n_ma - 1)} AS std_t FROM tm
)
SELECT {sel_by}{order_col},
       CASE WHEN brn >= {n_ma} THEN {f['sma'].format(**fargs)} END AS sma,
       CASE WHEN brn >= {n_ma} AND std_t <> 0.0e0 THEN {f['z'].format(**fargs)} END AS z,
       CASE WHEN brn >= {n_st} AND hi <> lo THEN {f['k'].format(**fargs)} END AS k,
       {f['roc'].format(**fargs)} AS roc,
       CASE WHEN brn >= {n_ma} THEN {f['vd'].format(**fargs)} END AS vd,
       CASE WHEN brn >= {n_ma} AND std_t <> 0.0e0 THEN {f['bb'].format(**fargs)} END AS bb
FROM tf"""


def candle_shape(open_, high, low, close, vwap) -> dict[str, Column]:
    """Wick/body ratios + vwap drift (transforms.py:1273) — projections."""
    rng = F.col(high) - F.col(low)
    body_hi = F.greatest(F.col(open_), F.col(close))
    body_lo = F.least(F.col(open_), F.col(close))
    safe = F.when(rng != 0, rng)
    return {
        "wick_up": (F.col(high) - body_hi) / safe,
        "wick_dn": (body_lo - F.col(low)) / safe,
        "body": (body_hi - body_lo) / safe,
        "vwap_drift": F.when(rng != 0, (F.col(close) - F.col(vwap)) / rng),
    }


# --- trade-scale exact rolling median (DataFrame-level) --------------------

def rolling_median_chunked(
    df,
    col: str,
    n: int,
    order_col: str = "ts_ns",
    tiebreak_cols: tuple[str, ...] = (),
    out_col: str | None = None,
    chunk_rows: int = 8192,
):
    """Exact interpolated rolling median at TRADE scale.

    The Column-expression form above (``rolling_median``) sorts the
    frame's ``collect_list`` per row — O(w log w) PER ROW, acceptable on
    bar streams (the reference's per-window sort is the same complexity,
    ``core/utils.py:92-108``) but not on a 100 TB tick stream. This form
    rides the chunk machinery (``functions.chunked_window``): rows are
    chunked with ``n−1`` warmup rows duplicated into the next chunk, and
    each chunk runs pandas' skip-list rolling median — O(log w) per row
    — inside one Arrow-batched ``applyInPandas`` kernel. Per-chunk
    results are EXACTLY the global-window results (same frame rows in
    the same order), differential-tested against the expression form in
    ``tests/test_chunked_parallel.py``.

    Emits NULL until the frame holds ``n`` rows (``min_periods=n`` —
    the reference warmup-NaN convention; Arrow maps the kernel NaNs to
    Spark NULL). Returns the input rows plus ``out_col``.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    from . import chunked_window as cw

    out_col = out_col or f"{col}_med{n}"
    d = cw.with_row_chunks(
        df, order_col, warmup=n - 1, chunk_rows=chunk_rows,
        tiebreak_cols=tuple(tiebreak_cols),
    )
    schema = StructType(list(df.schema.fields) + [StructField(out_col, DoubleType())])
    helpers = [cw.CHUNK, cw.WARM, cw.GLOBAL_RN]

    def kernel(pdf):
        pdf = pdf.sort_values(cw.GLOBAL_RN)
        pdf = pdf.assign(**{out_col: pdf[col].rolling(n, min_periods=n).median()})
        pdf = pdf[~pdf[cw.WARM]]
        return pdf.drop(columns=helpers)

    return d.groupBy(cw.CHUNK).applyInPandas(kernel, schema)
