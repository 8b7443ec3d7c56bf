"""Inter-bar feature queries (SURVEY.md §2.5) — the indicator library
run over 1-minute bars derived from the events stream.

Each query returns (bar_close_ns, feature...) and has a DuckDB oracle
computing the identical closed-form expression. Warmup parity: NULL
until the rows-frame is full (reference ``out[:w]=NaN``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import chunked_window as CW
from ..functions import rolling as R
from ..operators import bars as B
from ..operators import preprocess as P
from ..sources.trades import EVENTS_TRADES_CTE, events_to_trades
from ._registry import query

MIN_NS = 60_000_000_000
HOUR_NS = 3_600_000_000_000
DAY_NS = 86_400_000_000_000

#: warmup depth for the chunk-partitioned demo tier: covers the deepest
#: lookback in any §2.5 query — the 1h RANGE frames (≤ 61 rows on a 1-min
#: grid: return_t/bar_rate) and the longest lag chain (``close→r→r4`` →
#: 30-row frame = 33 rows, feat_variance_ratio)
FEAT_WARMUP = 64


def _w():
    """Per-chunk window for the demo-tier feature queries. Every bounded
    frame evaluated over it is bit-identical to the global
    ``Window.orderBy(bar_close_ns)`` (warmup-row duplication, see
    ``functions.chunked_window``) but runs partition-parallel — no
    ``Exchange SinglePartition`` anywhere in the §2.5 tier."""
    return CW.chunk_window("bar_close_ns")


def _cb(spark: SparkSession, sf_dir: str, directional: bool = False) -> DataFrame:
    """Chunk-partitioned 1m bars with ``r`` (1-bar log return, chunk-local
    lag — exact on every non-warmup row) and ``brn`` (exact global row
    number from the chunk machinery, no single-partition row_number)."""
    bars = bars_1m(spark, sf_dir, directional=directional, seq=False)
    ch = CW.with_row_chunks(bars, "bar_close_ns", warmup=FEAT_WARMUP)
    ch = ch.withColumn("brn", F.col(CW.GLOBAL_RN))
    return ch.withColumn("r", F.log(F.col("close") / F.lag("close").over(_w())))


def _sel(df: DataFrame, *cols) -> DataFrame:
    """Project feature columns, then drop warmup duplicates + helpers."""
    return CW.finish(df.select(CW.CHUNK, CW.WARM, CW.GLOBAL_RN, *cols))


def bars_1m(
    spark: SparkSession,
    sf_dir: str,
    directional: bool = False,
    seq: bool = True,
    median_size: bool = False,
    onepart: bool = False,
) -> DataFrame:
    """1-minute bars + brn (bar row number) + r (1-bar log return).

    ``seq=False`` returns the pure hash-aggregation bars without the
    global-window brn/r columns — the scale entry point for callers that
    evaluate their own partition-parallel windows (see
    ``pipeline_suite.pipeline_1m_features``). ``median_size=True`` adds
    the per-bar exact median trade size (``med``) INSIDE the same
    aggregation — one trades pass instead of a second scan + join for
    callers that need it (the store/resample tier).

    ``onepart=True`` repartitions the trades to ONE partition BEFORE the
    bar aggregation — for callers whose downstream is a global ordered
    window anyway (the flagship below its crossover): SinglePartition
    satisfies the groupBy's clustered distribution, so the agg, the
    window sort and the projection all fuse into one post-shuffle stage
    (one exchange instead of two; measured −0.17 s of AQE job barriers
    at sf0.1). Identical rows — a pure cost form, never used on the
    at-scale chunked path."""
    tr = events_to_trades(spark, sf_dir)
    if onepart:
        tr = tr.repartition(1)
    if directional:
        tr = P.with_trade_side_chunked(tr)
    df = B.with_time_bar(tr, MIN_NS)
    # single-long ordering key (canonical contract: trade_id monotone in
    # ts within a stream): min_by/max_by keep a primitive agg buffer, so
    # the bar build plans as ONE HashAggregate — a struct key degrades to
    # Sort + SortAggregate on both shuffle sides
    ord_ = F.col("trade_id")
    aggs = [
        F.min_by("price", ord_).alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", ord_).alias("close"),
        F.sum("qty").alias("volume"),
        (F.sum(F.col("price") * F.col("qty")) / F.sum("qty")).alias("vwap"),
        F.count("*").alias("trades"),
        F.min("ts_ns").alias("first_ts_ns"),
    ]
    if directional:
        aggs += [
            F.sum(F.when(F.col("side") == 1, F.col("qty")).otherwise(0.0)).alias("volume_buy"),
            F.sum(F.when(F.col("side") == -1, F.col("qty")).otherwise(0.0)).alias("volume_sell"),
        ]
    if median_size:
        aggs.append(F.median("qty").alias("med"))
    bars = df.groupBy("bar_close_ns").agg(*aggs)
    if not seq:
        return bars
    # global-window form kept for the sequential/demo callers that need a
    # single ordered stream; the partition-parallel §2.5 tier uses _cb()
    wg = Window.orderBy("bar_close_ns")
    bars = bars.withColumn("brn", F.row_number().over(wg))
    bars = bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(wg)))
    return bars


# --- Oracle prefixes --------------------------------------------------------

_B = (
    "WITH "
    + EVENTS_TRADES_CTE.strip()
    + f""",
t AS (
  SELECT *, (CAST(floor(ts_ns / {MIN_NS}) AS BIGINT) + 1) * {MIN_NS} AS bar_close_ns
  FROM trades
),
bars AS (
  SELECT bar_close_ns, arg_min(price, trade_id) AS open, max(price) AS high,
         min(price) AS low, arg_max(price, trade_id) AS close, sum(qty) AS volume,
         sum(price * qty) / sum(qty) AS vwap, count(*) AS trades,
         min(ts_ns) AS first_ts_ns
  FROM t GROUP BY bar_close_ns
),
b AS (
  SELECT *, row_number() OVER (ORDER BY bar_close_ns) AS brn,
         ln(close / lag(close) OVER (ORDER BY bar_close_ns)) AS r
  FROM bars
)
"""
)

_BD = (
    "WITH "
    + EVENTS_TRADES_CTE.strip()
    + f""",
rr AS (
  SELECT *, sign(price - lag(price) OVER (ORDER BY ts_ns, trade_id)) AS raw
  FROM trades
),
sided AS (
  SELECT ts_ns, trade_id, price, qty,
         CAST(coalesce(
           last_value(CASE WHEN raw <> 0 THEN raw END IGNORE NULLS)
             OVER (ORDER BY ts_ns, trade_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           1) AS INT) AS side
  FROM rr
),
t AS (
  SELECT *, (CAST(floor(ts_ns / {MIN_NS}) AS BIGINT) + 1) * {MIN_NS} AS bar_close_ns
  FROM sided
),
bars AS (
  SELECT bar_close_ns,
         sum(CASE WHEN side = 1 THEN qty ELSE 0.0 END) AS volume_buy,
         sum(CASE WHEN side = -1 THEN qty ELSE 0.0 END) AS volume_sell
  FROM t GROUP BY bar_close_ns
),
b AS (SELECT *, row_number() OVER (ORDER BY bar_close_ns) AS brn FROM bars)
"""
)


def _wf(n: int) -> str:
    return f"(ORDER BY bar_close_ns ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"


def _guard(n: int, expr: str) -> str:
    """CASE guard: need n rows of history (matches rolling._full)."""
    return f"CASE WHEN count(*) OVER {_wf(n)} = {n} THEN {expr} END"


# --- simple lags/returns ----------------------------------------------------

@query(
    "feat_return_log",
    _B + "SELECT bar_close_ns, ln(close / lag(close, 1) OVER (ORDER BY bar_close_ns)) AS ret_1 FROM b",
)
def feat_return_log(spark, sf_dir):
    """Return(1, log) (transforms.py:120)."""
    return _sel(_cb(spark, sf_dir),"bar_close_ns", R.ret("close", 1, _w()).alias("ret_1"))


@query(
    "feat_roc",
    _B
    + """SELECT bar_close_ns,
       (close - lag(close, 5) OVER (ORDER BY bar_close_ns)) / lag(close, 5) OVER (ORDER BY bar_close_ns) * 100.0 AS roc_5
FROM b""",
)
def feat_roc(spark, sf_dir):
    """ROC(5) (core/momentum.py:6-22)."""
    return _sel(_cb(spark, sf_dir),"bar_close_ns", R.roc("close", 5, _w()).alias("roc_5"))


@query(
    "feat_pct_change",
    _B
    + """SELECT bar_close_ns,
       CASE WHEN lag(close, 5) OVER (ORDER BY bar_close_ns) > 0
            THEN (close - lag(close, 5) OVER (ORDER BY bar_close_ns)) / lag(close, 5) OVER (ORDER BY bar_close_ns) END AS pct_5
FROM b""",
)
def feat_pct_change(spark, sf_dir):
    """PctChange(5) with base>0 guard (core/utils.py:110-124)."""
    return _sel(_cb(spark, sf_dir),"bar_close_ns", R.pct_change("close", 5, _w()).alias("pct_5"))


@query(
    "feat_return_t",
    _B
    + f"""SELECT bar_close_ns,
       ln(close / last_value(close) OVER (ORDER BY bar_close_ns
          RANGE BETWEEN UNBOUNDED PRECEDING AND {HOUR_NS} PRECEDING)) AS ret_1h
FROM b""",
)
def feat_return_t(spark, sf_dir):
    """ReturnT(1h): return vs latest bar ≤ t−1h on the irregular close-time
    axis (core/utils.py:12-64, searchsorted ≙ range-window last)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.return_t("close", "bar_close_ns", HOUR_NS, _w()).alias("ret_1h")
    )


# --- rolling stats ----------------------------------------------------------

@query("feat_sma", _B + f"SELECT bar_close_ns, {_guard(20, f'avg(close) OVER {_wf(20)}')} AS sma_20 FROM b")
def feat_sma(spark, sf_dir):
    """SMA(20) (core/ma.py:46-62)."""
    return _sel(_cb(spark, sf_dir),"bar_close_ns", R.sma("close", 20, _w()).alias("sma_20"))


@query(
    "feat_zscore",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(20, f'CASE WHEN stddev_samp(close) OVER {_wf(20)} <> 0 THEN (close - avg(close) OVER {_wf(20)}) / stddev_samp(close) OVER {_wf(20)} END')} AS zscore_20
FROM b""",
)
def feat_zscore(spark, sf_dir):
    """ZScore(20, ddof=1) (core/utils.py:67-90)."""
    return _sel(_cb(spark, sf_dir),"bar_close_ns", R.zscore("close", 20, _w()).alias("zscore_20"))


@query(
    "feat_stoch_k",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(14, f'CASE WHEN max(high) OVER {_wf(14)} <> min(low) OVER {_wf(14)} THEN 100.0 * (close - min(low) OVER {_wf(14)}) / (max(high) OVER {_wf(14)} - min(low) OVER {_wf(14)}) END')} AS stoch_k_14
FROM b""",
)
def feat_stoch_k(spark, sf_dir):
    """StochK(14) (core/momentum.py:68-112)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.stoch_k("close", "high", "low", 14, _w()).alias("stoch_k_14")
    )


@query(
    "feat_bollinger_b",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(20, f'CASE WHEN stddev_samp(close) OVER {_wf(20)} <> 0 THEN (close - (avg(close) OVER {_wf(20)} - 2.0 * stddev_samp(close) OVER {_wf(20)})) / (4.0 * stddev_samp(close) OVER {_wf(20)}) END')} AS boll_b_20
FROM b""",
)
def feat_bollinger_b(spark, sf_dir):
    """BollingerPercentB(20, k=2) (volatility.py:289-338)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.bollinger_percent_b("close", 20, _w(), 2.0).alias("boll_b_20")
    )


@query(
    "feat_parkinson",
    _B + "SELECT bar_close_ns, pow(ln(high / low), 2) / (4.0 * ln(2.0)) AS parkinson FROM b",
)
def feat_parkinson(spark, sf_dir):
    """ParkinsonRange (volatility.py:341-349). Pure projection — no
    window, so the plan is scan → hash-agg → project, fully parallel."""
    return bars_1m(spark, sf_dir, seq=False).select(
        "bar_close_ns", R.parkinson_range("high", "low").alias("parkinson")
    )


@query(
    "feat_atr_sma",
    _B
    + f""",
trq AS (
  SELECT *, greatest(high - low,
                     abs(high - lag(close) OVER (ORDER BY bar_close_ns)),
                     abs(low - lag(close) OVER (ORDER BY bar_close_ns))) AS tr
  FROM b
)
SELECT bar_close_ns,
       CASE WHEN count(*) OVER {_wf(15)} = 15 THEN avg(tr) OVER {_wf(14)} END AS atr_14
FROM trq""",
)
def feat_atr_sma(spark, sf_dir):
    """ATR(14), SMA smoothing (volatility.py:352-437,222-253)."""
    df = _cb(spark, sf_dir).withColumn("tr", R.true_range("high", "low", "close", _w()))
    return _sel(df, "bar_close_ns", R.atr_sma("tr", 14, _w()).alias("atr_14"))


@query(
    "feat_vwap_distance",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(20, f'close / (sum(close * volume) OVER {_wf(20)} / sum(volume) OVER {_wf(20)}) - 1' )} AS vwap_dist_20
FROM b""",
)
def feat_vwap_distance(spark, sf_dir):
    """VWAPDistance(20) over bar closes/volumes (core/reversion.py:9-56)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.vwap_distance("close", "volume", 20, _w()).alias("vwap_dist_20")
    )


@query(
    "feat_realized_vol",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(20, f'CASE WHEN count(r) OVER {_wf(20)} > 0 THEN sqrt(sum(r * r) OVER {_wf(20)} / count(r) OVER {_wf(20)}) END')} AS rv_20
FROM b""",
)
def feat_realized_vol(spark, sf_dir):
    """RealizedVolatility(20) over 1-bar log returns (volatility.py:256-286)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.realized_vol("r", 20, _w()).alias("rv_20")
    )


@query(
    "feat_burst_ratio",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(20, f'CASE WHEN median(volume) OVER {_wf(20)} <> 0 THEN volume / (median(volume) OVER {_wf(20)}) END')} AS burst_20
FROM b""",
)
def feat_burst_ratio(spark, sf_dir):
    """BurstRatio(20) on volume (core/utils.py:92-108); exact interpolated
    rolling median via sorted frame list."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.burst_ratio("volume", 20, _w()).alias("burst_20")
    )


@query(
    "feat_variance_ratio",
    _B
    + f""",
r4q AS (
  SELECT *, r + lag(r, 1) OVER (ORDER BY bar_close_ns) + lag(r, 2) OVER (ORDER BY bar_close_ns)
            + lag(r, 3) OVER (ORDER BY bar_close_ns) AS r4
  FROM b
)
SELECT bar_close_ns,
       CASE WHEN count(*) OVER {_wf(34)} = 34 AND var_samp(r4) OVER {_wf(30)} <> 0
            THEN (var_samp(r) OVER {_wf(30)}) / (var_samp(r4) OVER {_wf(30)} / 4.0) END AS vr14_30
FROM r4q""",
)
def feat_variance_ratio(spark, sf_dir):
    """VarianceRatio14(30) (volatility.py:481-540)."""
    df = _cb(spark, sf_dir).withColumn(
        "r4",
        F.col("r") + F.lag("r", 1).over(_w()) + F.lag("r", 2).over(_w()) + F.lag("r", 3).over(_w()),
    )
    return _sel(df, "bar_close_ns", R.variance_ratio_1_4("r", "r4", 30, _w()).alias("vr14_30"))


@query(
    "feat_kurtosis",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(30, f'''CASE WHEN (sum(pow(close,2)) OVER {_wf(30)} / 30 - pow(sum(close) OVER {_wf(30)} / 30, 2)) <> 0 THEN
         (sum(pow(close,4)) OVER {_wf(30)} / 30
          - 4 * (sum(close) OVER {_wf(30)} / 30) * sum(pow(close,3)) OVER {_wf(30)} / 30
          + 6 * pow(sum(close) OVER {_wf(30)} / 30, 2) * sum(pow(close,2)) OVER {_wf(30)} / 30
          - 3 * pow(sum(close) OVER {_wf(30)} / 30, 4))
         / pow(sum(pow(close,2)) OVER {_wf(30)} / 30 - pow(sum(close) OVER {_wf(30)} / 30, 2), 2) - 3.0 END''')} AS kurt_30
FROM b""",
)
def feat_kurtosis(spark, sf_dir):
    """Rolling excess kurtosis (30), population moments (transforms.py:900)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.kurtosis_rolling("close", 30, _w()).alias("kurt_30")
    )


@query(
    "feat_bipower",
    _B
    + f""",
pq AS (
  SELECT *, abs(r) * abs(lag(r, 1) OVER (ORDER BY bar_close_ns)) AS prod
  FROM b
)
SELECT bar_close_ns,
       CASE WHEN count(*) OVER {_wf(22)} = 22
            THEN sum(prod) OVER {_wf(20)} * {math.pi / 2.0} END AS bipower_20
FROM pq""",
)
def feat_bipower(spark, sf_dir):
    """BiPowerVariation(20) (transforms.py:1551)."""
    df = _cb(spark, sf_dir).withColumn(
        "prod", F.abs(F.col("r")) * F.abs(F.lag("r", 1).over(_w()))
    )
    return _sel(df, "bar_close_ns", R.bipower_variation("prod", 20, _w()).alias("bipower_20"))


# --- flow / volume ----------------------------------------------------------

@query(
    "feat_flow_accel",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(20, f'''CASE WHEN sum(volume) OVER (ORDER BY bar_close_ns ROWS BETWEEN 19 PRECEDING AND 5 PRECEDING) > 0
            THEN ln(sum(volume) OVER (ORDER BY bar_close_ns ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                    / (sum(volume) OVER (ORDER BY bar_close_ns ROWS BETWEEN 19 PRECEDING AND 5 PRECEDING) * 5.0 / 15.0)) END''')} AS flow_accel
FROM b""",
)
def feat_flow_accel(spark, sf_dir):
    """FlowAcceleration(n=20, r=5) (core/volume.py:572-607)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.flow_acceleration("volume", 20, 5, _w()).alias("flow_accel")
    )


@query(
    "feat_vpin",
    _BD
    + f"""SELECT bar_close_ns,
       {_guard(20, f'CASE WHEN sum(volume_buy + volume_sell) OVER {_wf(20)} > 0 THEN sum(abs(volume_buy - volume_sell)) OVER {_wf(20)} / sum(volume_buy + volume_sell) OVER {_wf(20)} END')} AS vpin_20
FROM b""",
)
def feat_vpin(spark, sf_dir):
    """VPIN(20) over per-bar buy/sell volume splits (core/volume.py:610-641)."""
    return _sel(
        _cb(spark, sf_dir, directional=True),
        "bar_close_ns", R.vpin("volume_buy", "volume_sell", 20, _w()).alias("vpin_20"),
    )


@query(
    "feat_pv_corr",
    _B
    + f"""SELECT bar_close_ns,
       CASE WHEN count(*) OVER {_wf(21)} = 21 THEN corr(r, volume) OVER {_wf(20)} END AS pv_corr_20
FROM b""",
)
def feat_pv_corr(spark, sf_dir):
    """PriceVolumeCorrelation(20) (core/correlation.py:9-111; hardcoded
    test shortcuts in the reference kernel deliberately not replicated)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.price_volume_corr("r", "volume", 20, _w()).alias("pv_corr_20")
    )


# --- trend / time -----------------------------------------------------------

@query(
    "feat_trend_slope",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(20, f'''degrees(atan(
         (20 * sum(CAST(brn AS DOUBLE) * ln(close)) OVER {_wf(20)}
          - sum(CAST(brn AS DOUBLE)) OVER {_wf(20)} * sum(ln(close)) OVER {_wf(20)})
         / (20 * sum(CAST(brn AS DOUBLE) * CAST(brn AS DOUBLE)) OVER {_wf(20)}
            - pow(sum(CAST(brn AS DOUBLE)) OVER {_wf(20)}, 2))))''')} AS slope_deg_20
FROM b""",
)
def feat_trend_slope(spark, sf_dir):
    """TrendSlope(20) in degrees (transforms.py:936)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.trend_slope("close", "brn", 20, _w()).alias("slope_deg_20")
    )


@query(
    "feat_mean_reversion_z",
    _B
    + f"""SELECT bar_close_ns,
       {_guard(30, f'CASE WHEN stddev_samp(close) OVER {_wf(30)} <> 0 THEN (close - avg(close) OVER {_wf(30)}) / stddev_samp(close) OVER {_wf(30)} END')} AS mrz_30
FROM b""",
)
def feat_mean_reversion_z(spark, sf_dir):
    """MeanReversionZScore(30) (transforms.py:1033)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.mean_reversion_z("close", 30, _w()).alias("mrz_30")
    )


@query(
    "feat_bar_duration",
    _B
    + """SELECT bar_close_ns,
       CAST(bar_close_ns - lag(bar_close_ns, 1) OVER (ORDER BY bar_close_ns) AS DOUBLE) / 1e9 AS dur_1
FROM b""",
)
def feat_bar_duration(spark, sf_dir):
    """BarDuration(1) in seconds (transforms.py:1511) — on non-empty bars
    the close-time axis is irregular, so this is informative."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.bar_duration("bar_close_ns", 1, _w()).alias("dur_1")
    )


@query(
    "feat_bar_rate",
    _B
    + f"""SELECT bar_close_ns,
       count(*) OVER (ORDER BY bar_close_ns RANGE BETWEEN {HOUR_NS} PRECEDING AND CURRENT ROW) / 1.0 AS bars_per_hour
FROM b""",
)
def feat_bar_rate(spark, sf_dir):
    """BarRate(1h): bars per hour in a trailing range window (transforms.py:1210)."""
    return _sel(_cb(spark, sf_dir),
        "bar_close_ns", R.bar_rate("bar_close_ns", HOUR_NS, _w()).alias("bars_per_hour")
    )


@query(
    "feat_dir_run_len",
    _B
    + """,
g AS (
  SELECT *, sign(r) AS s,
         CASE WHEN sign(r) <> lag(sign(r)) OVER (ORDER BY bar_close_ns) THEN 1 ELSE 0 END AS chg
  FROM b
),
h AS (
  SELECT *, sum(chg) OVER (ORDER BY bar_close_ns ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM g
)
SELECT bar_close_ns,
       CASE WHEN s IS NOT NULL THEN row_number() OVER (PARTITION BY grp ORDER BY bar_close_ns) END AS run_len
FROM h""",
)
def feat_dir_run_len(spark, sf_dir):
    """DirRunLen: same-sign return streak length (transforms.py:1605).

    Gaps-and-islands needs an UNBOUNDED cumulative group id, so this one
    demo query keeps the global ordered window (chunk duplication cannot
    bound it). The scale path is ``with_dir_run_len(part_cols=[symbol])``
    — per-symbol streams partition naturally, as in the multiuser tier."""
    df = R.with_dir_run_len(bars_1m(spark, sf_dir), "r", ["bar_close_ns"], out="run_len")
    return df.select("bar_close_ns", "run_len")


def _time_cues_oracle() -> str:
    """Oracle trig columns share the exact polynomial expression TEXT the
    Spark side evaluates (functions/dettrig.py) — IEEE add/mul/div only,
    so the bits match and no round() equalizer is needed."""
    from ..functions import dettrig as DT

    t_tod = DT.frac_of_day_sql("bar_close_ns")
    t_dow = f"(CAST({DT.dow_sql('bar_close_ns')} AS DOUBLE) / 7.0e0)"
    return (
        _B
        + f"""SELECT bar_close_ns,
       {DT.sin2pi_sql(t_tod)} AS tod_sin,
       {DT.cos2pi_sql(t_tod)} AS tod_cos,
       {DT.sin2pi_sql(t_dow)} AS dow_sin,
       {DT.cos2pi_sql(t_dow)} AS dow_cos,
       CAST(((bar_close_ns // 1000000000) % 86400) // 3600 < 8 AS INT) AS asia_session,
       CAST(((bar_close_ns // 1000000000) % 86400) // 3600 >= 7 AND ((bar_close_ns // 1000000000) % 86400) // 3600 < 15 AS INT) AS eu_session,
       CAST(((bar_close_ns // 1000000000) % 86400) // 3600 >= 13 AND ((bar_close_ns // 1000000000) % 86400) // 3600 < 21 AS INT) AS us_session,
       CAST(((bar_close_ns // 1000000000) % 86400) // 3600 IN (0, 7, 13)
            AND (bar_close_ns // 1000000000) % 3600 < 60 AS INT) AS session_transition,
       CAST((bar_close_ns // 1000000000) % 3600 < 60 AS INT) AS top_of_hour
FROM b"""
    )


@query("feat_time_cues", _time_cues_oracle())
def feat_time_cues(spark, sf_dir):
    """TimeCues: cyclic time-of-day/day-of-week + session flags (core/time.py:5-62).

    Trig is the dettrig shared-text polynomial on BOTH engines — see
    functions/dettrig.py for the bit-identity argument. No rounding.
    """
    cues = R.time_cues("bar_close_ns")
    return bars_1m(spark, sf_dir, seq=False).select(
        "bar_close_ns", *[c.alias(k) for k, c in cues.items()]
    )


@query(
    "feat_candle_shape",
    _B
    + """SELECT bar_close_ns,
       (high - greatest(open, close)) / nullif(high - low, 0) AS wick_up,
       (least(open, close) - low) / nullif(high - low, 0) AS wick_dn,
       (greatest(open, close) - least(open, close)) / nullif(high - low, 0) AS body,
       (close - vwap) / nullif(high - low, 0) AS vwap_drift
FROM b""",
)
def feat_candle_shape(spark, sf_dir):
    """CandleShape ratios (transforms.py:1273)."""
    shape = R.candle_shape("open", "high", "low", "close", "vwap")
    return bars_1m(spark, sf_dir, seq=False).select(
        "bar_close_ns", *[c.alias(k) for k, c in shape.items()]
    )


@query(
    "feat_daily_gap",
    _B
    + f""",
d AS (
  SELECT CAST(floor((bar_close_ns - 1) / {DAY_NS}) AS BIGINT) AS day_id,
         arg_min(open, bar_close_ns) AS day_open, arg_max(close, bar_close_ns) AS day_close
  FROM b GROUP BY 1
)
SELECT day_id,
       (day_open - lag(day_close) OVER (ORDER BY day_id)) / lag(day_close) OVER (ORDER BY day_id) AS daily_gap
FROM d""",
)
def feat_daily_gap(spark, sf_dir):
    """DailyGap: (first open of UTC day − last close of prev day)/prev close
    (transforms.py:1065 — the reference's version carries a known NaN bug;
    we implement the documented semantics)."""
    b = bars_1m(spark, sf_dir, seq=False)
    # ordering by bar_close_ns (the sort key brn ranks) keeps the day agg
    # a pure HashAggregate — no global row_number needed; the remaining
    # ordered window runs over the k-row day table (k = days), which is
    # tiny at any scale
    d = (
        b.withColumn("day_id", F.floor((F.col("bar_close_ns") - 1) / F.lit(DAY_NS)))
        .groupBy("day_id")
        .agg(
            F.min_by("open", "bar_close_ns").alias("day_open"),
            F.max_by("close", "bar_close_ns").alias("day_close"),
        )
    )
    wd = Window.orderBy("day_id")
    prev = F.lag("day_close").over(wd)
    return d.select(
        "day_id", ((F.col("day_open") - prev) / prev).alias("daily_gap")
    )


@query(
    "feat_orb_break",
    _B
    + f""",
db AS (
  SELECT *, CAST(floor((bar_close_ns - 1) / {DAY_NS}) AS BIGINT) AS day_id
  FROM b
),
di AS (
  SELECT *, row_number() OVER (PARTITION BY day_id ORDER BY bar_close_ns) AS day_idx
  FROM db
),
orr AS (
  SELECT day_id,
         max(CASE WHEN day_idx <= 60 THEN high END) AS or_high,
         min(CASE WHEN day_idx <= 60 THEN low END) AS or_low
  FROM di GROUP BY day_id
)
SELECT bar_close_ns,
       CAST(di.high > orr.or_high AS INT) AS break_up,
       CAST(di.low < orr.or_low AS INT) AS break_dn
FROM di JOIN orr USING (day_id)
WHERE di.day_idx > 60""",
)
def feat_orb_break(spark, sf_dir):
    """ORBBreak: opening-range (first 60 bars of UTC day) breakout flags
    (transforms.py:1122). The OR aggregate is tiny -> broadcast join."""
    b = bars_1m(spark, sf_dir, seq=False).withColumn(
        "day_id", F.floor((F.col("bar_close_ns") - 1) / F.lit(DAY_NS))
    )
    b = b.withColumn(
        "day_idx", F.row_number().over(Window.partitionBy("day_id").orderBy("bar_close_ns"))
    )
    orr = b.groupBy("day_id").agg(
        F.max(F.when(F.col("day_idx") <= 60, F.col("high"))).alias("or_high"),
        F.min(F.when(F.col("day_idx") <= 60, F.col("low"))).alias("or_low"),
    )
    out = b.where(F.col("day_idx") > 60).join(F.broadcast(orr), "day_id")
    return out.select(
        "bar_close_ns",
        (F.col("high") > F.col("or_high")).cast("int").alias("break_up"),
        (F.col("low") < F.col("or_low")).cast("int").alias("break_dn"),
    )


@query(
    "burst_ratio_trades",
    "WITH "
    + EVENTS_TRADES_CTE.strip().rstrip()
    + """,
m AS (
  SELECT ts_ns, trade_id, price,
         median(price) OVER w AS med,
         count(*) OVER w AS cnt
  FROM trades
  WINDOW w AS (ORDER BY ts_ns, trade_id ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
)
SELECT ts_ns, trade_id,
       CASE WHEN cnt = 100 AND med <> 0 THEN price / med END AS burst_100
FROM m""",
)
def burst_ratio_trades(spark, sf_dir):
    """BurstRatio(100) on the raw TRADE stream (core/utils.py:92-108) —
    the tick-scale form: exact interpolated rolling median via the
    chunk-parallel pandas skip-list kernel
    (``rolling.rolling_median_chunked``, O(log w) per row), not the
    bar-scale per-row frame sort. Warmup rows (<100 predecessors) are
    NULL, matching the reference's out[:w]=NaN convention."""
    tr = events_to_trades(spark, sf_dir).select("ts_ns", "trade_id", "price")
    med = R.rolling_median_chunked(
        tr, "price", 100, order_col="ts_ns", tiebreak_cols=("trade_id",),
        out_col="_med",
    )
    return med.select(
        "ts_ns",
        "trade_id",
        F.when(F.col("_med") != 0, F.col("price") / F.col("_med")).alias("burst_100"),
    )
