"""Gap-closing queries for full SURVEY §2 coverage: as-of join, empty-bar
calendar fill, combined final sample weights, BarDurationEWMA, Hurst
exponent, approximate entropy."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import arrow
from ..functions import sequential as S
from ..operators import bars as B
from ..operators import joins as J
from ..operators import labels as L
from ._registry import query
from .features_suite import bars_1m  # noqa: F401
from .labels_suite import _UNIQ, HOUR_NS, _attribution, _labels, _uniqueness
from .sequential_suite import DECAY, K, SPAN, _BH, bars_1h


@query(
    "asof_sigma",
    _BH
    + """,
sig AS (
  SELECT bar_close_ns AS sig_ts, stddev_samp(r) OVER (ORDER BY bar_close_ns
         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS sigma
  FROM b
),
ev AS (SELECT bar_close_ns, close FROM b WHERE brn % 7 = 0)
SELECT e.bar_close_ns, e.close, s.sigma
FROM ev e ASOF LEFT JOIN sig s ON s.sig_ts <= e.bar_close_ns""",
)
def asof_sigma(spark, sf_dir):
    """asof_join demo (§2.9): attach the latest rolling hourly volatility
    at-or-before each sampled event (reference merge_asof usage,
    ``docs/tutorials/building_labels.rst``); DuckDB oracle uses its
    native ASOF JOIN — our union+last-ignoreNulls window must agree."""
    hb = bars_1h(spark, sf_dir)
    w = Window.orderBy("bar_close_ns").rowsBetween(-23, 0)
    sig = hb.select(
        F.col("bar_close_ns").alias("ts_ns"), F.stddev_samp("r").over(w).alias("sigma")
    )
    ev = hb.where(F.col("brn") % 7 == 0).select(
        F.col("bar_close_ns").alias("ts_ns"), F.col("bar_close_ns").alias("bar_close_ns"), "close"
    )
    out = J.asof_join(ev.select("ts_ns", "bar_close_ns", "close"), sig, on="ts_ns")
    return out.select("bar_close_ns", "close", "sigma")


@query(
    "time_bars_filled",
    _BH
    + """,
bounds AS (SELECT min(bar_close_ns) AS lo, max(bar_close_ns) AS hi FROM b),
cal AS (
  SELECT unnest(range(lo, hi + 3600000000000, 3600000000000)) AS bar_close_ns
  FROM bounds
),
jf AS (
  SELECT c.bar_close_ns, b.open, b.high, b.low, b.close, b.volume
  FROM cal c LEFT JOIN b ON b.bar_close_ns = c.bar_close_ns
),
ff AS (
  SELECT bar_close_ns,
         last_value(close IGNORE NULLS) OVER (ORDER BY bar_close_ns
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_close,
         open, high, low, close, volume
  FROM jf
)
SELECT bar_close_ns,
       coalesce(open, prev_close) AS open,
       coalesce(high, prev_close) AS high,
       coalesce(low, prev_close) AS low,
       coalesce(close, prev_close) AS close,
       coalesce(volume, 0.0) AS volume
FROM ff""",
)
def time_bars_filled(spark, sf_dir):
    """Calendar-filled hourly bars: empty intervals re-created with the
    previous close and zero volume (reference ``base.py:352-361``)."""
    hb = bars_1h(spark, sf_dir).select(
        "bar_close_ns", "open", "high", "low", "close", "volume"
    )
    filled = B.fill_empty_bars(
        hb.withColumn("vwap", F.lit(None).cast("double"))
        .withColumn("trades", F.lit(None).cast("long"))
        .withColumn("median_trade_size", F.lit(None).cast("double")),
        HOUR_NS,
    )
    return filled.select("bar_close_ns", "open", "high", "low", "close", "volume")


@query(
    "final_weights",
    _UNIQ
    + """,
att AS (
  SELECT l.event_id, abs(sum(t.r / t.c)) AS attribution
  FROM lab l JOIN (
    SELECT tr.ts_ns, tr.r, c.c FROM (
      SELECT ts_ns, ln(price / lag(price) OVER (ORDER BY ts_ns, trade_id)) AS r FROM trades
    ) tr JOIN conc c ON c.ts_ns = tr.ts_ns
  ) t ON t.ts_ns >= l.event_ts_ns AND t.ts_ns <= l.touch_ts_ns
  GROUP BY l.event_id
),
td AS (
  SELECT event_id, event_ts_ns,
         greatest(0.5 + 0.5 * sum(uniqueness) OVER (ORDER BY event_ts_ns, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / (sum(uniqueness) OVER ()), 0.0) AS decay_w
  FROM uq
),
comb AS (
  SELECT l.event_id, l.event_ts_ns, l.label,
         td.decay_w * att.attribution * l.barrier_ratio AS raw_w
  FROM lab l JOIN td USING (event_id) JOIN att USING (event_id)
)
SELECT event_id, event_ts_ns, label,
       raw_w * count(*) OVER () / sum(raw_w) OVER () AS final_w
FROM comb""",
)
def final_weights(spark, sf_dir):
    """SampleWeights.compute_final_weights (reference kit.py:379-477):
    decay × return-attribution × vertical-touch closeness, normalized to
    mean 1 (``labels.scale_to_mean_one``)."""
    lab = _labels(spark, sf_dir)
    td = L.time_decay(_uniqueness(spark, sf_dir), last_weight=0.5).select(
        "event_id", "decay_weight"
    )
    att = _attribution(spark, sf_dir).select("event_id", "attribution")
    comb = (
        lab.select("event_id", "event_ts_ns", "label", "barrier_ratio")
        .join(td, "event_id")
        .join(att, "event_id")
        .withColumn("raw_w", F.col("decay_weight") * F.col("attribution") * F.col("barrier_ratio"))
    )
    return L.scale_to_mean_one(comb, "raw_w").select(
        "event_id", "event_ts_ns", "label", F.col("raw_w").alias("final_w")
    )


@query(
    "seq_bar_duration_ewma",
    _BH
    + f"""
, d AS (
  SELECT bar_close_ns,
         CAST(bar_close_ns - lag(bar_close_ns) OVER (ORDER BY bar_close_ns) AS DOUBLE) / 1e9 AS dur
  FROM b
),
lx AS (
  SELECT bar_close_ns,
         list(dur) OVER (ORDER BY bar_close_ns ROWS BETWEEN {K - 1} PRECEDING AND CURRENT ROW) AS l
  FROM d WHERE dur IS NOT NULL
)
SELECT bar_close_ns,
       list_sum(list_transform(l, (x, i) -> x * pow({DECAY}, len(l) - i)))
       / list_sum(list_transform(l, (x, i) -> pow({DECAY}, len(l) - i))) AS dur_ewma
FROM lx""",
)
def seq_bar_duration_ewma(spark, sf_dir):
    """BarDurationEWMA (transforms.py:1460): EWMA of inter-bar seconds on
    the irregular hourly-close axis."""
    hb = bars_1h(spark, sf_dir)
    w = Window.orderBy("bar_close_ns")
    hb = hb.withColumn(
        "dur", (F.col("bar_close_ns") - F.lag("bar_close_ns").over(w)).cast("double") / 1e9
    ).where(F.col("dur").isNotNull())

    def kernel(c):
        return {"bar_close_ns": c["bar_close_ns"], "dur_ewma": S.ewma(c["dur"], SPAN)}

    return arrow.groups(hb, None, kernel, "bar_close_ns long, dur_ewma double", order=("bar_close_ns",))


_HW = 64
_LN2 = math.log(2.0)
# closed-form OLS-slope coefficients over lx = [0, ln2, 2ln2, 3ln2]:
# slope = Σ c_m · ln(var_m) with c_m = (lx_m − mean lx) / Σ(lx − mean lx)²
_H_SXX = 5.0 * _LN2 * _LN2
_HC = [(-1.5 * _LN2) / _H_SXX, (-0.5 * _LN2) / _H_SXX,
       (0.5 * _LN2) / _H_SXX, (1.5 * _LN2) / _H_SXX]


def _var_sql(m: int) -> str:
    """Two-pass variance of the lag-m differences of list l (lateral
    aliases keep each stage readable)."""
    return (
        f"list_transform(generate_series(1, len(l) - {m}), i -> l[i + {m}] - l[i]) AS d{m},\n"
        f"         list_sum(d{m}) / len(d{m}) AS mu{m},\n"
        f"         list_sum(list_transform(d{m}, x -> (x - mu{m}) * (x - mu{m}))) / len(d{m}) AS v{m}"
    )


@query(
    "hurst_exponent",
    _BH
    + f"""
, lw AS (
  SELECT bar_close_ns,
         list(close) OVER (ORDER BY bar_close_ns ROWS BETWEEN {_HW - 1} PRECEDING AND CURRENT ROW) AS l
  FROM b
),
vv AS (
  SELECT bar_close_ns, len(l) AS n,
         {_var_sql(1)},
         {_var_sql(2)},
         {_var_sql(4)},
         {_var_sql(8)}
  FROM lw
)
SELECT bar_close_ns,
       round(CASE WHEN n = {_HW} AND v1 > 0 AND v2 > 0 AND v4 > 0 AND v8 > 0
                  THEN (({_HC[0]!r}) * ln(v1) + ({_HC[1]!r}) * ln(v2)
                        + ({_HC[2]!r}) * ln(v4) + ({_HC[3]!r}) * ln(v8)) / 2.0
             END, 6) AS hurst
FROM vv""",
)
def hurst_exponent(spark, sf_dir):
    """HurstExponent (transforms.py:1341): aggregated-variance estimate
    over a rolling window — per-window polyfit of log(var(m-aggregated
    returns)) vs log(m), m ∈ {1,2,4,8}; H = slope/2.

    Rounded to 6 decimals on both engines: the kernel's np.polyfit/np.var
    and the oracle's closed-form OLS/two-pass variance agree to ~1e-12,
    far inside the rounding but not bit-exactly."""
    hb = bars_1h(spark, sf_dir)

    def kernel(c):
        hurst = S.hurst_rolling(c["close"], _HW)
        return {"bar_close_ns": c["bar_close_ns"], "hurst": np.round(hurst, 6)}

    return arrow.groups(hb, None, kernel, "bar_close_ns long, hurst double", order=("bar_close_ns",))


_AE_W = 48


def _phi_sql(mm: int) -> str:
    """phi(mm) = mean_i ln(fraction of j whose Chebyshev template distance
    <= r), templates of length mm over list l (self-match included, as in
    the kernel)."""
    n = f"(len(l) - {mm} + 1)"
    dist = " , ".join(f"abs(l[i + {k}] - l[j + {k}])" for k in range(mm))
    return (
        f"list_sum(list_transform(generate_series(1, {n}), i -> "
        f"ln(list_sum(list_transform(generate_series(1, {n}), j -> "
        f"CASE WHEN greatest({dist}) <= r THEN 1.0 ELSE 0.0 END)) / {n}))) / {n}"
    )


@query(
    "approx_entropy",
    _BH
    + f"""
, lw AS (
  SELECT bar_close_ns,
         list(close) OVER (ORDER BY bar_close_ns ROWS BETWEEN {_AE_W - 1} PRECEDING AND CURRENT ROW) AS l
  FROM b
),
rr AS (
  SELECT bar_close_ns, l, len(l) AS n,
         list_sum(l) / len(l) AS mu,
         0.2 * sqrt(list_sum(list_transform(l, x -> (x - mu) * (x - mu))) / len(l)) AS r
  FROM lw
)
SELECT bar_close_ns,
       round(CASE WHEN n = {_AE_W} AND r > 0
                  THEN {_phi_sql(2)} - {_phi_sql(3)}
             END, 6) AS apen
FROM rr""",
)
def approx_entropy(spark, sf_dir):
    """ApproximateEntropy(m=2, tol=0.2·std) over a rolling window
    (transforms.py:1400) — classic Pincus ApEn, numpy kernel.

    Rounded to 6 decimals on both engines: template-match counts are
    integers (so the phi fractions are identical), only the summation
    association of std/log-means differs at ulp level."""
    hb = bars_1h(spark, sf_dir)

    def kernel(c):
        y = c["close"]
        out = np.full(len(y), np.nan)
        for t in range(_AE_W - 1, len(y)):
            out[t] = S.approx_entropy(y[t - _AE_W + 1 : t + 1], m=2, r_mult=0.2)
        return {"bar_close_ns": c["bar_close_ns"], "apen": np.round(out, 6)}

    return arrow.groups(hb, None, kernel, "bar_close_ns long, apen double", order=("bar_close_ns",))


@query(
    "zscore_peak_events",
    _BH
    + """,
zs AS (
  SELECT bar_close_ns, brn, volume,
         CASE WHEN count(*) OVER wf = 24 AND stddev_samp(volume) OVER wf <> 0
              THEN (volume - avg(volume) OVER wf) / stddev_samp(volume) OVER wf END AS z
  FROM b
  WINDOW wf AS (ORDER BY bar_close_ns ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
),
pk AS (
  SELECT *, max(volume) OVER (ORDER BY bar_close_ns
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS local_max
  FROM zs
)
SELECT bar_close_ns, z FROM pk WHERE z > 2.0 AND volume = local_max""",
)
def zscore_peak_events(spark, sf_dir):
    """Z-score peak event filter (reference declares ``z_score_peak_filter``
    but raises NotImplementedError, ``filters.py:73-94`` — implemented
    beyond-reference): emit bars whose volume z-score exceeds 2 AND is a
    local maximum over a ±3-bar neighborhood — window-native, no state."""
    hb = bars_1h(spark, sf_dir)
    wf = Window.orderBy("bar_close_ns").rowsBetween(-23, 0)
    wn = Window.orderBy("bar_close_ns").rowsBetween(-3, 3)
    z = F.when(
        (F.count(F.lit(1)).over(wf) == 24) & (F.stddev_samp("volume").over(wf) != 0),
        (F.col("volume") - F.avg("volume").over(wf)) / F.stddev_samp("volume").over(wf),
    )
    d = hb.withColumn("z", z).withColumn("local_max", F.max("volume").over(wn))
    return d.where((F.col("z") > 2.0) & (F.col("volume") == F.col("local_max"))).select(
        "bar_close_ns", "z"
    )


@query(
    "asof_tolerance",
    _BH
    + """,
sigb AS (
  SELECT brn, bar_close_ns AS sig_ts, stddev_samp(r) OVER (ORDER BY bar_close_ns
         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS sigma
  FROM b
),
sig AS (SELECT sig_ts, sigma FROM sigb WHERE brn % 29 = 1),
ev AS (SELECT bar_close_ns, close FROM b WHERE brn % 7 = 0),
j AS (
  SELECT e.bar_close_ns, e.close, s.sigma, s.sig_ts
  FROM ev e ASOF LEFT JOIN sig s ON s.sig_ts <= e.bar_close_ns
)
SELECT bar_close_ns, close,
       CASE WHEN sig_ts IS NOT NULL AND bar_close_ns - sig_ts <= 7200000000000
            THEN sigma END AS sigma
FROM j""",
)
def asof_tolerance(spark, sf_dir):
    """asof_join with pandas-merge_asof tolerance semantics: matches
    farther than 2 h behind the event are rejected (columns NULL, row
    kept). The tolerance check rides the same union+window pass — no
    extra shuffle vs plain asof."""
    hb = bars_1h(spark, sf_dir)
    w = Window.orderBy("bar_close_ns").rowsBetween(-23, 0)
    sig = hb.select(
        "brn", F.col("bar_close_ns").alias("ts_ns"), F.stddev_samp("r").over(w).alias("sigma")
    ).where(F.col("brn") % 29 == 1).select("ts_ns", "sigma")
    ev = hb.where(F.col("brn") % 7 == 0).select(
        F.col("bar_close_ns").alias("ts_ns"), F.col("bar_close_ns").alias("bar_close_ns"), "close"
    )
    out = J.asof_join(
        ev.select("ts_ns", "bar_close_ns", "close"),
        sig,
        on="ts_ns",
        tolerance_ns=7_200_000_000_000,
    )
    return out.select("bar_close_ns", "close", "sigma")
