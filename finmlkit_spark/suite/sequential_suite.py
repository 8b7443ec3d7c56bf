"""Sequential-kernel queries (EWMA family, Wilder recurrences, CUSUM
state machines, exact-reset bar indexers) with DuckDB oracles.

Oracle strategy per recurrence class:
- adjust=True EWMA / EW std / time-decay EW std have *closed forms* as
  weighted convolutions over history -> list-window lambdas in DuckDB
  (truncated at negligible weight, ~1e-20, quantified per query);
- Wilder-seeded recurrences (RSI, EMA-ATR, ADX) converge geometrically,
  so outputs are compared beyond the mixing horizon (brn filter, error
  < 1e-8 ≪ the 1e-6 gate tolerance);
- reset state machines (CUSUM filter, exact volume bars) are run on the
  hourly series and checked against a recursive-CTE replay — exact.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import arrow
from ..functions import rolling as R
from ..functions import sequential as S
from ._registry import query
from .features_suite import _B, bars_1m

HOUR_NS = 3_600_000_000_000

# hourly-bar oracle prefix: same shape as _B with the hourly interval
_BH = _B.replace("60000000000", str(HOUR_NS))


def bars_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly bars (coarser series for the recursive-CTE-checked ops)."""
    from ..operators import bars as B
    from ..sources.trades import events_to_trades

    tr = events_to_trades(spark, sf_dir)
    df = B.with_time_bar(tr, HOUR_NS)
    # long key -> HashAggregate (see operators.bars.bar_ohlcv)
    ord_ = F.col("trade_id")
    bars = df.groupBy("bar_close_ns").agg(
        F.min_by("price", ord_).alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", ord_).alias("close"),
        F.sum("qty").alias("volume"),
    )
    w = Window.orderBy("bar_close_ns")
    bars = bars.withColumn("brn", F.row_number().over(w))
    return bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))


# --- EWMA family ------------------------------------------------------------

SPAN = 19
ALPHA = 2.0 / (SPAN + 1)
DECAY = 1.0 - ALPHA  # 0.9
K = 500  # truncation: 0.9^500 ≈ 1.3e-23


@query(
    "seq_ewma",
    _B
    + f"""
, lx AS (
  SELECT bar_close_ns,
         list(close) OVER (ORDER BY bar_close_ns ROWS BETWEEN {K - 1} PRECEDING AND CURRENT ROW) AS l
  FROM b
)
SELECT bar_close_ns,
       list_sum(list_transform(l, (x, i) -> x * pow({DECAY}, len(l) - i)))
       / list_sum(list_transform(l, (x, i) -> pow({DECAY}, len(l) - i))) AS ewma_19
FROM lx""",
)
def seq_ewma(spark, sf_dir):
    """EWMA(span=19, adjust=True) over bar closes (core/ma.py:6-43).
    Exact per-group recurrence in the kernel; the oracle's closed-form
    convolution is exact for brn ≤ K and within 1.3e-23 beyond."""
    bars = bars_1m(spark, sf_dir)

    def kernel(c):
        return {"bar_close_ns": c["bar_close_ns"], "ewma_19": S.ewma(c["close"], SPAN)}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, ewma_19 double", order=("bar_close_ns",))


@query(
    "seq_ewma_parallel",
    _B
    + f"""
, lx AS (
  SELECT bar_close_ns,
         list(close) OVER (ORDER BY bar_close_ns ROWS BETWEEN {K - 1} PRECEDING AND CURRENT ROW) AS l
  FROM b
)
SELECT bar_close_ns,
       list_sum(list_transform(l, (x, i) -> x * pow({DECAY}, len(l) - i)))
       / list_sum(list_transform(l, (x, i) -> pow({DECAY}, len(l) - i))) AS ewma_19
FROM lx""",
)
def seq_ewma_parallel(spark, sf_dir):
    """The SAME EWMA(19) as seq_ewma through ``sequential.ewma_parallel``:
    a bar stream within ``SEQ_DRIVER_MAX_ROWS`` runs the sequential
    kernel on the driver; a larger one runs the chunk-parallel two-pass
    scan, whose closed-form carries agree with the sequential fold to
    float reassociation (parity-tested). Both sides match the identical
    convolution oracle; the scan side is tested under
    ``cache._FORCE_DISTRIBUTED``."""
    bars = bars_1m(spark, sf_dir, seq=False)
    return S.ewma_parallel(
        bars, "close", float(SPAN), order_col="bar_close_ns", chunk_rows=512, out="ewma_19"
    )


@query(
    "seq_ewms",
    _B
    + f"""
, lx AS (
  SELECT bar_close_ns, brn,
         list(close) OVER (ORDER BY bar_close_ns ROWS BETWEEN {K - 1} PRECEDING AND CURRENT ROW) AS l
  FROM b
),
mom AS (
  SELECT bar_close_ns, brn,
         list_sum(list_transform(l, (x, i) -> pow({DECAY}, len(l) - i))) AS V,
         list_sum(list_transform(l, (x, i) -> pow({DECAY}, 2 * (len(l) - i)))) AS V2,
         list_sum(list_transform(l, (x, i) -> x * pow({DECAY}, len(l) - i))) AS Sy,
         list_sum(list_transform(l, (x, i) -> x * x * pow({DECAY}, len(l) - i))) AS Syy
  FROM lx
)
SELECT bar_close_ns,
       CASE WHEN brn > 1 AND V * V > V2
            THEN sqrt(greatest(Syy / V - (Sy / V) * (Sy / V), 0) * V * V / (V * V - V2)) END AS ewms_19
FROM mom""",
)
def seq_ewms(spark, sf_dir):
    """EW moving std (span=19, adjust=True, bias-corrected)
    (core/volatility.py:9-69)."""
    bars = bars_1m(spark, sf_dir)

    def kernel(c):
        return {"bar_close_ns": c["bar_close_ns"], "ewms_19": S.ewms(c["close"], SPAN)}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, ewms_19 double", order=("bar_close_ns",))


@query(
    "seq_ewms_parallel",
    _B
    + f"""
, lx AS (
  SELECT bar_close_ns, brn,
         list(close) OVER (ORDER BY bar_close_ns ROWS BETWEEN {K - 1} PRECEDING AND CURRENT ROW) AS l
  FROM b
),
mom AS (
  SELECT bar_close_ns, brn,
         list_sum(list_transform(l, (x, i) -> pow({DECAY}, len(l) - i))) AS V,
         list_sum(list_transform(l, (x, i) -> pow({DECAY}, 2 * (len(l) - i)))) AS V2,
         list_sum(list_transform(l, (x, i) -> x * pow({DECAY}, len(l) - i))) AS Sy,
         list_sum(list_transform(l, (x, i) -> x * x * pow({DECAY}, len(l) - i))) AS Syy
  FROM lx
)
SELECT bar_close_ns,
       CASE WHEN brn > 1 AND V * V > V2
            THEN sqrt(greatest(Syy / V - (Sy / V) * (Sy / V), 0) * V * V / (V * V - V2)) END AS ewms_19
FROM mom""",
)
def seq_ewms_parallel(spark, sf_dir):
    """The SAME EW moving std as seq_ewms through
    ``sequential.ewms_parallel``: a bar stream within
    ``SEQ_DRIVER_MAX_ROWS`` runs the sequential kernel on the driver; a
    larger one runs the chunk-parallel two-pass moment scan (four
    linear recurrences, closed-form carries, no SinglePartition). Both
    sides match the identical convolution oracle; the scan side is
    tested under ``cache._FORCE_DISTRIBUTED``."""
    bars = bars_1m(spark, sf_dir, seq=False)
    return S.ewms_parallel(
        bars, "close", float(SPAN), order_col="bar_close_ns", chunk_rows=512, out="ewms_19"
    )


HL_NS = 30 * 60_000_000_000  # 30 min halflife
LAM = math.log(2.0) / HL_NS
RNG = 60 * HL_NS  # 2^-60 ≈ 8.7e-19


@query(
    "seq_ewmst",
    _B
    + f"""
, lw AS (
  SELECT bar_close_ns, brn,
         list({{'t': bar_close_ns, 'v': close}}) OVER (
           ORDER BY bar_close_ns RANGE BETWEEN {RNG} PRECEDING AND CURRENT ROW) AS l
  FROM b
),
mom AS (
  SELECT bar_close_ns, brn,
         list_sum(list_transform(l, e -> exp(-{LAM} * (bar_close_ns - e.t)))) AS V,
         list_sum(list_transform(l, e -> exp(-2 * {LAM} * (bar_close_ns - e.t)))) AS V2,
         list_sum(list_transform(l, e -> e.v * exp(-{LAM} * (bar_close_ns - e.t)))) AS Sy,
         list_sum(list_transform(l, e -> e.v * e.v * exp(-{LAM} * (bar_close_ns - e.t)))) AS Syy
  FROM lw
)
SELECT bar_close_ns,
       CASE WHEN V * V > V2
            THEN sqrt(greatest(Syy / V - (Sy / V) * (Sy / V), 0) * V * V / (V * V - V2)) END AS ewmst_30m
FROM mom""",
)
def seq_ewmst(spark, sf_dir):
    """Time-decay EW std, halflife 30 min on the irregular close-time axis
    (core/volatility.py:139-219). Kernel = O(1) decay recurrence; oracle =
    the identical closed form over absolute time."""
    bars = bars_1m(spark, sf_dir)

    def kernel(c):
        t = c["bar_close_ns"]
        return {"bar_close_ns": t, "ewmst_30m": S.ewmst(t, c["close"], HL_NS)}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, ewmst_30m double", order=("bar_close_ns",))


@query(
    "seq_ewmst_parallel",
    _B
    + f"""
, lw AS (
  SELECT bar_close_ns, brn,
         list({{'t': bar_close_ns, 'v': close}}) OVER (
           ORDER BY bar_close_ns RANGE BETWEEN {RNG} PRECEDING AND CURRENT ROW) AS l
  FROM b
),
mom AS (
  SELECT bar_close_ns, brn,
         list_sum(list_transform(l, e -> exp(-{LAM} * (bar_close_ns - e.t)))) AS V,
         list_sum(list_transform(l, e -> exp(-2 * {LAM} * (bar_close_ns - e.t)))) AS V2,
         list_sum(list_transform(l, e -> e.v * exp(-{LAM} * (bar_close_ns - e.t)))) AS Sy,
         list_sum(list_transform(l, e -> e.v * e.v * exp(-{LAM} * (bar_close_ns - e.t)))) AS Syy
  FROM lw
)
SELECT bar_close_ns,
       CASE WHEN V * V > V2
            THEN sqrt(greatest(Syy / V - (Sy / V) * (Sy / V), 0) * V * V / (V * V - V2)) END AS ewmst_30m
FROM mom""",
)
def seq_ewmst_parallel(spark, sf_dir):
    """The SAME time-decay EW std as seq_ewmst via the chunk-parallel
    scan (``sequential.ewmst_parallel``): the four moments are
    absolute-time decayed sums, so chunk carries telescope exactly —
    zero truncation, no SinglePartition, same closed-form oracle."""
    bars = bars_1m(spark, sf_dir, seq=False)
    return S.ewmst_parallel(
        bars, "bar_close_ns", "close", float(HL_NS), chunk_rows=512, out="ewmst_30m"
    )


# --- Wilder recurrences (compared beyond the mixing horizon) ---------------

N_W = 14
WD = 1.0 - 1.0 / N_W  # 13/14
#: truncation depth of the weighted-sum oracle. (13/14)^650 ≈ 1e-21 —
#: BELOW double epsilon relative to the smoothed averages, so the only
#: Spark-vs-oracle residual left is reassociation ulps (~1e-15 rel) plus
#: the decayed seed at the comparison threshold (q^(MIN_BRN−15) ≈ 9e-14):
#: a 6-decimal rounding flip then needs a value within ~1e-13 of a digit
#: boundary — ~2e-7 per value, ~1e-3 per full run. At the previous
#: KW=350 the truncation alone was ~5.6e-12, which put ~0.2 EXPECTED
#: boundary flips in every 8.5k-row driver hash — a coin-flip red row.
KW = 650
#: comparison threshold: the SMA seed's weight at brn is q^(brn−15) —
#: 1.1e-15 relative at 480, i.e. at the reassociation floor. Bounded
#: above by the sf0.001 suite: seq_adx compares brn > 2·MIN_BRN and
#: sf0.001 has ~988 bars, so MIN_BRN must stay under ~490 to keep rows.
MIN_BRN = 480


@query(
    "seq_rsi_wilder",
    _B
    + f"""
, d AS (
  SELECT bar_close_ns, brn,
         greatest(close - lag(close) OVER (ORDER BY bar_close_ns), 0) AS gain,
         greatest(lag(close) OVER (ORDER BY bar_close_ns) - close, 0) AS loss
  FROM b
),
lg AS (
  SELECT bar_close_ns, brn,
         list(gain) OVER (ORDER BY bar_close_ns ROWS BETWEEN {KW - 1} PRECEDING AND CURRENT ROW) AS lgain,
         list(loss) OVER (ORDER BY bar_close_ns ROWS BETWEEN {KW - 1} PRECEDING AND CURRENT ROW) AS lloss
  FROM d
),
sm AS (
  SELECT bar_close_ns, brn,
         list_sum(list_transform(lgain, (x, i) -> x * pow({WD}, len(lgain) - i))) / {N_W} AS ag,
         list_sum(list_transform(lloss, (x, i) -> x * pow({WD}, len(lloss) - i))) / {N_W} AS al
  FROM lg
)
SELECT bar_close_ns,
       CASE WHEN al = 0 THEN 100.0 ELSE 100.0 * (ag / (ag + al)) END AS rsi_14
FROM sm WHERE brn > {MIN_BRN}""",
)
def seq_rsi_wilder(spark, sf_dir):
    """RSIWilder(14) (core/momentum.py:25-65). Kernel uses the true
    SMA-seeded recurrence; compared beyond brn {MIN_BRN} where the seed
    has mixed out (< 1e-8)."""
    bars = bars_1m(spark, sf_dir)

    def kernel(c):
        keep = c["brn"] > MIN_BRN
        return {"bar_close_ns": c["bar_close_ns"][keep], "rsi_14": S.rsi_wilder(c["close"], N_W)[keep]}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, rsi_14 double", order=("bar_close_ns",))


@query(
    "seq_rsi_parallel",
    _B
    + f"""
, d AS (
  SELECT bar_close_ns, brn,
         greatest(close - lag(close) OVER (ORDER BY bar_close_ns), 0) AS gain,
         greatest(lag(close) OVER (ORDER BY bar_close_ns) - close, 0) AS loss
  FROM b
),
lg AS (
  SELECT bar_close_ns, brn,
         list(gain) OVER (ORDER BY bar_close_ns ROWS BETWEEN {KW - 1} PRECEDING AND CURRENT ROW) AS lgain,
         list(loss) OVER (ORDER BY bar_close_ns ROWS BETWEEN {KW - 1} PRECEDING AND CURRENT ROW) AS lloss
  FROM d
),
sm AS (
  SELECT bar_close_ns, brn,
         list_sum(list_transform(lgain, (x, i) -> x * pow({WD}, len(lgain) - i))) / {N_W} AS ag,
         list_sum(list_transform(lloss, (x, i) -> x * pow({WD}, len(lloss) - i))) / {N_W} AS al
  FROM lg
)
SELECT bar_close_ns,
       CASE WHEN al = 0 THEN 100.0 ELSE 100.0 * (ag / (ag + al)) END AS rsi_14
FROM sm WHERE brn > {MIN_BRN}""",
)
def seq_rsi_parallel(spark, sf_dir):
    """The SAME Wilder RSI as seq_rsi_wilder via the chunk-parallel
    closed-combine scan (``sequential.rsi_parallel``): chunk 0 seeds
    sequentially, later chunks fold one linear recurrence per Wilder
    average — parity with the sequential kernel to ~1e-15, same
    beyond-the-mixing-horizon oracle."""
    bars = bars_1m(spark, sf_dir, seq=False)
    out = S.rsi_parallel(
        bars, "close", N_W, order_col="bar_close_ns", chunk_rows=512,
        out="rsi_14", rn_col="brn",
    )
    return out.where(F.col("brn") > MIN_BRN).drop("brn")


@query(
    "seq_atr_ema",
    _BH.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, trq AS MATERIALIZED (
  SELECT bar_close_ns, brn,
         greatest(high - low,
                  abs(high - lag(close) OVER (ORDER BY bar_close_ns)),
                  abs(low - lag(close) OVER (ORDER BY bar_close_ns))) AS tr
  FROM b
),
rec AS (
  SELECT brn, bar_close_ns, CAST(0.0 AS DOUBLE) AS acc, CAST(NULL AS DOUBLE) AS atr
  FROM trq WHERE brn = 1
  UNION ALL
  SELECT nb.brn, nb.bar_close_ns,
         CASE WHEN nb.brn <= {N_W + 1} THEN rec.acc + nb.tr ELSE rec.acc END,
         CASE WHEN nb.brn = {N_W + 1} THEN (rec.acc + nb.tr) / {N_W}
              WHEN nb.brn > {N_W + 1} THEN (({N_W} - 1) * rec.atr + nb.tr) / {N_W}
         END
  FROM rec JOIN trq nb ON nb.brn = rec.brn + 1
)
SELECT bar_close_ns, atr AS atr_ema_14 FROM rec WHERE atr IS NOT NULL""",
)
def seq_atr_ema(spark, sf_dir):
    """Wilder EMA ATR(14) on hourly bars (core/volatility.py:352-437).

    Exact recursive-CTE replay oracle: the SMA seed is accumulated as a
    left-to-right fold inside the recursion and the kernel folds in the
    same order, so both engines emit bit-identical doubles (a truncated
    convolution oracle's tail would exceed the driver's hash
    precision)."""
    bars = bars_1h(spark, sf_dir)

    def kernel(c):
        atr = S.atr_ema(c["high"], c["low"], c["close"], N_W)
        keep = ~np.isnan(atr)
        return {"bar_close_ns": c["bar_close_ns"][keep], "atr_ema_14": atr[keep]}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, atr_ema_14 double", order=("bar_close_ns",))


@query(
    "seq_atr_parallel",
    _BH.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, trq AS MATERIALIZED (
  SELECT bar_close_ns, brn,
         greatest(high - low,
                  abs(high - lag(close) OVER (ORDER BY bar_close_ns)),
                  abs(low - lag(close) OVER (ORDER BY bar_close_ns))) AS tr
  FROM b
),
rec AS (
  SELECT brn, bar_close_ns, CAST(0.0 AS DOUBLE) AS acc, CAST(NULL AS DOUBLE) AS atr
  FROM trq WHERE brn = 1
  UNION ALL
  SELECT nb.brn, nb.bar_close_ns,
         CASE WHEN nb.brn <= {N_W + 1} THEN rec.acc + nb.tr ELSE rec.acc END,
         CASE WHEN nb.brn = {N_W + 1} THEN (rec.acc + nb.tr) / {N_W}
              WHEN nb.brn > {N_W + 1} THEN (({N_W} - 1) * rec.atr + nb.tr) / {N_W}
         END
  FROM rec JOIN trq nb ON nb.brn = rec.brn + 1
)
SELECT bar_close_ns, atr AS atr_ema_14 FROM rec WHERE atr IS NOT NULL""",
)
def seq_atr_parallel(spark, sf_dir):
    """The SAME Wilder EMA ATR as seq_atr_ema via the chunk-parallel
    closed-combine scan (``sequential.atr_ema_parallel``) — seeded
    chunk 0, linear-recurrence carries beyond; parity ~1e-15 vs the
    sequential fold, same recursive-CTE replay oracle."""
    bars = bars_1h(spark, sf_dir)
    return S.atr_ema_parallel(
        bars, N_W, order_col="bar_close_ns", chunk_rows=256, out="atr_ema_14"
    )


@query(
    "seq_adx",
    _B
    + f"""
, dmq AS (
  SELECT bar_close_ns, brn,
         greatest(high - low,
                  abs(high - lag(close) OVER (ORDER BY bar_close_ns)),
                  abs(low - lag(close) OVER (ORDER BY bar_close_ns))) AS tr,
         CASE WHEN (high - lag(high) OVER (ORDER BY bar_close_ns)) > (lag(low) OVER (ORDER BY bar_close_ns) - low)
               AND (high - lag(high) OVER (ORDER BY bar_close_ns)) > 0
              THEN high - lag(high) OVER (ORDER BY bar_close_ns) ELSE 0.0 END AS pdm,
         CASE WHEN (lag(low) OVER (ORDER BY bar_close_ns) - low) > (high - lag(high) OVER (ORDER BY bar_close_ns))
               AND (lag(low) OVER (ORDER BY bar_close_ns) - low) > 0
              THEN lag(low) OVER (ORDER BY bar_close_ns) - low ELSE 0.0 END AS ndm
  FROM b
),
acc AS (
  SELECT bar_close_ns, brn,
         list_sum(list_transform(list(tr) OVER w, (x, i) -> x * pow({WD}, {KW} - i))) AS str,
         list_sum(list_transform(list(pdm) OVER w, (x, i) -> x * pow({WD}, {KW} - i))) AS spdm,
         list_sum(list_transform(list(ndm) OVER w, (x, i) -> x * pow({WD}, {KW} - i))) AS sndm
  FROM dmq
  WINDOW w AS (ORDER BY bar_close_ns ROWS BETWEEN {KW - 1} PRECEDING AND CURRENT ROW)
),
dx AS (
  SELECT bar_close_ns, brn,
         CASE WHEN (CASE WHEN str > 0 THEN 100.0 * spdm / str ELSE 0.0 END
                    + CASE WHEN str > 0 THEN 100.0 * sndm / str ELSE 0.0 END) > 0
              THEN 100.0 * abs(CASE WHEN str > 0 THEN 100.0 * spdm / str ELSE 0.0 END
                               - CASE WHEN str > 0 THEN 100.0 * sndm / str ELSE 0.0 END)
                   / (CASE WHEN str > 0 THEN 100.0 * spdm / str ELSE 0.0 END
                      + CASE WHEN str > 0 THEN 100.0 * sndm / str ELSE 0.0 END)
              ELSE 0.0 END AS dxv
  FROM acc
),
ld AS (
  SELECT bar_close_ns, brn,
         list(dxv) OVER (ORDER BY bar_close_ns ROWS BETWEEN {KW - 1} PRECEDING AND CURRENT ROW) AS l
  FROM dx
)
SELECT bar_close_ns,
       list_sum(list_transform(l, (x, i) -> x * pow({WD}, len(l) - i))) / {N_W} AS adx_14
FROM ld WHERE brn > {2 * MIN_BRN}""",
)
def seq_adx(spark, sf_dir):
    """ADX(14): chained Wilder recurrences (core/trend.py:8-96). The
    fixed-length window (list over KW rows, full beyond brn≥KW) matches
    the truncated accumulation; compared beyond 2·{MIN_BRN} where both
    smoothing stages have mixed."""
    bars = bars_1m(spark, sf_dir)

    def kernel(c):
        keep = c["brn"] > 2 * MIN_BRN
        adx = S.adx(c["high"], c["low"], c["close"], N_W)
        return {"bar_close_ns": c["bar_close_ns"][keep], "adx_14": adx[keep]}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, adx_14 double", order=("bar_close_ns",))


# --- reset state machines (recursive-CTE exact replay on hourly bars) ------

CUSUM_H = 1.0

DAY_NS = 86_400_000_000_000

# shared by seq_cusum_filter and its chunk-stitched twin — the oracle
# replays the exact reset machine either way
_CUSUM_FILTER_SQL = (
    _BH.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, bn AS MATERIALIZED (SELECT brn, bar_close_ns, r FROM b),
rec AS (
  SELECT brn, bar_close_ns, r,
         CAST(0 AS INT) AS flag, CAST(0.0 AS DOUBLE) AS sp, CAST(0.0 AS DOUBLE) AS sn
  FROM bn WHERE brn = 1
  UNION ALL
  SELECT nb.brn, nb.bar_close_ns, nb.r,
         CASE WHEN least(0, rec.sn + nb.r) < -{CUSUM_H}
                OR greatest(0, rec.sp + nb.r) > {CUSUM_H} THEN 1 ELSE 0 END,
         CASE WHEN least(0, rec.sn + nb.r) < -{CUSUM_H} THEN greatest(0, rec.sp + nb.r)
              WHEN greatest(0, rec.sp + nb.r) > {CUSUM_H} THEN 0.0
              ELSE greatest(0, rec.sp + nb.r) END,
         CASE WHEN least(0, rec.sn + nb.r) < -{CUSUM_H} THEN 0.0
              ELSE least(0, rec.sn + nb.r) END
  FROM rec JOIN bn nb ON nb.brn = rec.brn + 1
)
SELECT bar_close_ns FROM rec WHERE flag = 1"""
)


@query("seq_cusum_filter", _CUSUM_FILTER_SQL)
def seq_cusum_filter(spark, sf_dir):
    """Symmetric CUSUM event filter, h=1.0 on hourly log returns
    (sampling/filters.py:6-70, AFML 2.4): emits event timestamps.
    Recursive-CTE oracle replays the exact reset state machine."""
    bars = bars_1h(spark, sf_dir)

    def kernel(c):
        return {"bar_close_ns": c["bar_close_ns"][S.cusum_filter_np(c["r"], CUSUM_H) == 1]}

    return arrow.groups(bars, None, kernel, "bar_close_ns long", order=("bar_close_ns",))


@query("seq_cusum_filter_chunked", _CUSUM_FILTER_SQL)
def seq_cusum_filter_chunked(spark, sf_dir):
    """The same CUSUM event filter through
    ``sequential.cusum_filter_chunked``: a bar stream within
    ``SEQ_DRIVER_MAX_ROWS`` runs the kernel on the driver; a larger one
    runs 2-day time chunks in parallel with entry states chained on the
    driver to a fixed point. Both sides return bit-identical flags and
    match the identical recursive-CTE oracle; the chunk side is tested
    under ``cache._FORCE_DISTRIBUTED``."""
    bars = bars_1h(spark, sf_dir)
    out = S.cusum_filter_chunked(
        bars, threshold=CUSUM_H, r_col="r", order_col="bar_close_ns",
        chunk_ns=2 * DAY_NS,
    )
    return out.where(F.col("flag") == 1).select("bar_close_ns")


VOL_THR_H = 100.0


@query(
    "seq_volume_bars_exact",
    _BH.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, bn AS MATERIALIZED (SELECT brn, bar_close_ns, volume FROM b),
rec AS (
  SELECT brn, bar_close_ns,
         CAST(0 AS BIGINT) AS bar_id,
         CASE WHEN volume >= {VOL_THR_H} THEN 0.0 ELSE volume END AS cum,
         CASE WHEN volume >= {VOL_THR_H} THEN 1 ELSE 0 END AS nxt
  FROM bn WHERE brn = 1
  UNION ALL
  SELECT nb.brn, nb.bar_close_ns,
         CAST(rec.bar_id + rec.nxt AS BIGINT),
         CASE WHEN rec.cum + nb.volume >= {VOL_THR_H} THEN 0.0 ELSE rec.cum + nb.volume END,
         CASE WHEN rec.cum + nb.volume >= {VOL_THR_H} THEN 1 ELSE 0 END
  FROM rec JOIN bn nb ON nb.brn = rec.brn + 1
)
SELECT bar_close_ns, bar_id FROM rec""",
)
def seq_volume_bars_exact(spark, sf_dir):
    """Exact reset-to-zero volume bar assignment on the hourly volume
    series (reference ``logic.py:87-115`` — differs from the cumsum-floor
    approximation exactly at the reset boundaries)."""
    bars = bars_1h(spark, sf_dir)

    def kernel(c):
        ids = S.volume_bar_ids_exact(c["volume"], VOL_THR_H)
        return {"bar_close_ns": c["bar_close_ns"], "bar_id": ids}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, bar_id long", order=("bar_close_ns",))


@query("feat_fast_stage", _BH + R.fast_stage_ticks_oracle_sql())
def feat_fast_stage(spark, sf_dir):
    """Prefix-sum sliding-aggregate feature stage on hourly bars: six
    features in O(1)/row via cum − lag(cum, n), tick-exact form.

    Prices/volume are quantized to integer ticks BEFORE the prefix sums
    (rolling.fast_feature_stage_ticks): integer sums are fold-order-
    independent so Spark's cum−lag equals DuckDB's windowed sum bit-for-
    bit, and every derived double is shared IEEE expression text — no
    round() equalizer (the previous round(…,4) still flaked when a value
    sat within an ulp of a rounding-digit boundary)."""
    bars = bars_1h(spark, sf_dir)
    out = R.fast_feature_stage_ticks(bars, by=None, order_col="bar_close_ns")
    return out.select("bar_close_ns", "sma", "z", "k", "roc", "vd", "bb")


CT_W = 100
CT_WARM = 30

# shared by seq_cusum_test and its row-chunked twin
_CUSUM_TEST_SQL = (
    _BH
    + f"""
, d AS (
  SELECT bar_close_ns, brn, close,
         close - lag(close) OVER (ORDER BY bar_close_ns) AS dif
  FROM b
),
st AS (
  SELECT bar_close_ns, brn, close,
         stddev_samp(dif) OVER (ORDER BY bar_close_ns ROWS BETWEEN {CT_W} PRECEDING AND CURRENT ROW) AS sig,
         list({{'i': brn, 'v': close}}) OVER (
           ORDER BY bar_close_ns ROWS BETWEEN {CT_W} PRECEDING AND 1 PRECEDING) AS ls
  FROM d
)
SELECT bar_close_ns,
       CASE WHEN sig > 0
            THEN list_max(list_transform(ls, e -> abs(close - e.v) / (sig * sqrt(brn - e.i)))) END AS cusum_stat
FROM st WHERE brn >= {CT_WARM + 1}"""
)


@query("seq_cusum_test", _CUSUM_TEST_SQL)
def seq_cusum_test(spark, sf_dir):
    """Chu-Stinchcombe-White rolling CUSUM break statistic, w=100, on
    hourly closes (core/structural_break/cusum.py:11-274)."""
    bars = bars_1h(spark, sf_dir)

    def kernel(c):
        keep = c["brn"] >= CT_WARM + 1
        stat = S.cusum_test_rolling(c["close"], CT_W, CT_WARM)
        return {"bar_close_ns": c["bar_close_ns"][keep], "cusum_stat": stat[keep]}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, cusum_stat double", order=("bar_close_ns",))


@query("seq_cusum_test_chunked", _CUSUM_TEST_SQL)
def seq_cusum_test_chunked(spark, sf_dir):
    """The same rolling CUSUM break statistic via warmup-overlap row
    chunks (sequential.cusum_test_chunked): the statistic's lookback is
    exactly w rows (+1 for the diff), so the chunked_window machinery
    makes it embarrassingly parallel with bit-identical output — no
    fixed point, no SinglePartition window."""
    bars = bars_1h(spark, sf_dir)
    return S.cusum_test_chunked(
        bars, w=CT_W, warmup=CT_WARM, y_col="close", order_col="bar_close_ns",
        chunk_rows=256,
    )
