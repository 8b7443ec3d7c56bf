"""Flagship end-to-end pipeline query: raw events -> canonical trades ->
1-minute bars -> 12 inter-bar features, all in ONE Catalyst plan
(single select over the bar aggregation; the reference runs this as
EP1+EP2, SURVEY.md §3). This is the headline bench workload: one scan,
one shuffle for the bar groupBy and, on the scale side of its crossover,
ZERO ``Exchange SinglePartition`` nodes: the feature windows run per
row-chunk with warmup-row duplication (``functions.chunked_window``),
so every stage of the flagship parallelizes across executors while
staying bit-identical to the global-window oracle (bounded frames +
warmup overlap => identical frame contents per row)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import chunked_window as CW
from ..functions import rolling as R
from ._registry import parquet_rows_below, query
from .features_suite import _B, _guard, _wf, bars_1m, _w


#: deepest lookback chain in the flagship feature block: lag(close) ->
#: tr (1) feeding the 14-row ATR frame (13 preceding), and the 20-row
#: frames (19 preceding) whose oldest row's own r/tr needs one more lag
FLAGSHIP_WARMUP = 24


#: rows below which the one-exchange global window beats the chunked
#: machinery's two shuffle+sort passes (same measured-crossover posture
#: as ``preprocess.SIDE_SMALL_ROWS`` — both paths are bit-identical, so
#: the switch is purely a cost decision). The bar count is bounded by
#: the upstream event count, so :func:`pipeline_1m_features` decides
#: from the events footer without executing the bar agg.
FLAGSHIP_SMALL_ROWS = 1_000_000

#: memoized flagship projection Columns (see _flagship_project)
_FLAGSHIP_PROJECT_CACHE: tuple | None = None


def _flagship_windowed(df, w):
    """Two window passes over ``w`` computing each DISTINCT (function,
    frame) instance ONCE: the composed ``R.*`` helpers would emit ~25
    window aggregates (5× stddev_samp(close) over the same 20-frame,
    8× count guards, …) and Spark's WindowExec evaluates duplicate
    instances separately — measured ~40% of the flagship's window time
    at sf0.1. The derived features in :func:`_flagship_project` combine
    these columns with arithmetic identical to the helpers', so results
    stay bit-identical to the unfused form."""
    d = df.select(
        "*",
        F.lag("close").over(w).alias("_pc"),
        F.lag("close", 5).over(w).alias("_pc5"),
    )
    d = d.withColumns(
        {
            "r": F.log(F.col("close") / F.col("_pc")),
            "tr": F.greatest(
                F.col("high") - F.col("low"),
                F.abs(F.col("high") - F.col("_pc")),
                F.abs(F.col("low") - F.col("_pc")),
            ),
        }
    )

    def f(n):
        return w.rowsBetween(-(n - 1), 0)

    return d.select(
        "*",
        F.count(F.lit(1)).over(f(20)).alias("_c20"),
        F.count(F.lit(1)).over(f(15)).alias("_c15"),
        F.count(F.lit(1)).over(f(14)).alias("_c14"),
        F.avg("close").over(f(20)).alias("_avg20"),
        F.stddev_samp("close").over(f(20)).alias("_std20"),
        F.min("low").over(f(14)).alias("_lo14"),
        F.max("high").over(f(14)).alias("_hi14"),
        F.avg("tr").over(f(14)).alias("_atr14"),
        F.sum(F.col("close") * F.col("volume")).over(f(20)).alias("_scv20"),
        F.sum("volume").over(f(20)).alias("_sv20"),
        F.count("r").over(f(20)).alias("_cr20"),
        F.sum(F.col("r") * F.col("r")).over(f(20)).alias("_sr2"),
        F.sum("volume").over(w.rowsBetween(-4, 0)).alias("_sv5"),
        F.sum("volume").over(w.rowsBetween(-19, -5)).alias("_svp"),
    )


def _flagship_project():
    """The 12 features from the shared window columns — arithmetic
    mirrors ``R.sma/zscore/stoch_k/bollinger_percent_b/atr_sma/
    vwap_distance/realized_vol/roc/flow_acceleration/candle_shape``
    expression-for-expression.

    Memoized at module level: Column objects are UNBOUND expression
    trees (no plan or session state), and constructing these ~25
    expressions costs dozens of py4j round-trips per flagship build —
    the cache makes repeat builds reuse one tree."""
    global _FLAGSHIP_PROJECT_CACHE
    if _FLAGSHIP_PROJECT_CACHE is not None:
        return list(_FLAGSHIP_PROJECT_CACHE)
    g20 = F.col("_c20") == 20
    g15 = F.col("_c15") == 15
    g14 = F.col("_c14") == 14
    close, std = F.col("close"), F.col("_std20")
    shape = R.candle_shape("open", "high", "low", "close", "vwap")
    cols = [
        "bar_close_ns",
        "open",
        "high",
        "low",
        "close",
        "volume",
        "vwap",
        "trades",
        F.col("r").alias("ret_1"),
        F.when(g20, F.col("_avg20")).alias("sma_20"),
        F.when(g20, F.when(std != 0, (close - F.col("_avg20")) / std)).alias("zscore_20"),
        F.when(
            g14,
            F.when(
                F.col("_hi14") != F.col("_lo14"),
                100.0 * (close - F.col("_lo14")) / (F.col("_hi14") - F.col("_lo14")),
            ),
        ).alias("stoch_k_14"),
        F.when(
            g20,
            F.when(std != 0, (close - (F.col("_avg20") - 2.0 * std)) / (2 * 2.0 * std)),
        ).alias("boll_b_20"),
        R.parkinson_range("high", "low").alias("parkinson"),
        F.when(g15, F.col("_atr14")).alias("atr_14"),
        F.when(g20, close / (F.col("_scv20") / F.col("_sv20")) - 1).alias("vwap_dist_20"),
        F.when(
            g20,
            F.when(F.col("_cr20") > 0, F.sqrt(F.col("_sr2") / F.col("_cr20"))),
        ).alias("rv_20"),
        ((close - F.col("_pc5")) / F.col("_pc5") * 100.0).alias("roc_5"),
        F.when(
            g20,
            F.when(F.col("_svp") > 0, F.log(F.col("_sv5") / (F.col("_svp") * 5 / (20 - 5)))),
        ).alias("flow_accel"),
        shape["wick_up"].alias("wick_up"),
        shape["vwap_drift"].alias("vwap_drift"),
    ]
    _FLAGSHIP_PROJECT_CACHE = tuple(cols)
    return list(cols)


def flagship_feature_stage(
    bars,
    chunk_rows: int = 8192,
    persist: bool = True,
    mode: str = "chunked",
):
    """The flagship's 12-feature window block over OHLCV bars.

    ``mode="chunked"`` evaluates partition-parallel via chunked windows
    (zero SinglePartition — the 100 TB plan); ``"global"`` plans the
    plain ordered window (one exchange, no chunk machinery — faster
    below ``FLAGSHIP_SMALL_ROWS``). Results are row-identical across
    modes (bounded frames + warmup overlap => identical frame contents
    per row — see chunked_window docs). The crossover rule lives in
    :func:`pipeline_1m_features`, the one caller that can read a bound.
    Reused by the registry query and the bench's synthetic scale probe."""
    if mode not in ("global", "chunked"):
        raise ValueError(f"mode must be global|chunked, got {mode!r}")
    if mode == "global":
        from pyspark.sql import Window

        w = Window.orderBy("bar_close_ns")
        return _flagship_windowed(bars, w).select(*_flagship_project())
    ch = CW.with_row_chunks(
        bars, "bar_close_ns", warmup=FLAGSHIP_WARMUP, chunk_rows=chunk_rows, persist=persist
    )
    w = CW.chunk_window("bar_close_ns")
    return CW.finish(
        _flagship_windowed(ch, w).select(
            CW.CHUNK, CW.WARM, CW.GLOBAL_RN, *_flagship_project()
        )
    )



@query(
    "pipeline_1m_features",
    _B
    + f""",
trq AS (
  SELECT *, greatest(high - low,
                     abs(high - lag(close) OVER (ORDER BY bar_close_ns)),
                     abs(low - lag(close) OVER (ORDER BY bar_close_ns))) AS tr
  FROM b
)
SELECT bar_close_ns, open, high, low, close, volume, vwap, trades,
       r AS ret_1,
       {_guard(20, f'avg(close) OVER {_wf(20)}')} AS sma_20,
       {_guard(20, f'CASE WHEN stddev_samp(close) OVER {_wf(20)} <> 0 THEN (close - avg(close) OVER {_wf(20)}) / stddev_samp(close) OVER {_wf(20)} END')} AS zscore_20,
       {_guard(14, f'CASE WHEN max(high) OVER {_wf(14)} <> min(low) OVER {_wf(14)} THEN 100.0 * (close - min(low) OVER {_wf(14)}) / (max(high) OVER {_wf(14)} - min(low) OVER {_wf(14)}) END')} AS stoch_k_14,
       {_guard(20, f'CASE WHEN stddev_samp(close) OVER {_wf(20)} <> 0 THEN (close - (avg(close) OVER {_wf(20)} - 2.0 * stddev_samp(close) OVER {_wf(20)})) / (4.0 * stddev_samp(close) OVER {_wf(20)}) END')} AS boll_b_20,
       pow(ln(high / low), 2) / (4.0 * ln(2.0)) AS parkinson,
       CASE WHEN count(*) OVER {_wf(15)} = 15 THEN avg(tr) OVER {_wf(14)} END AS atr_14,
       {_guard(20, f'close / (sum(close * volume) OVER {_wf(20)} / sum(volume) OVER {_wf(20)}) - 1')} AS vwap_dist_20,
       {_guard(20, f'CASE WHEN count(r) OVER {_wf(20)} > 0 THEN sqrt(sum(r * r) OVER {_wf(20)} / count(r) OVER {_wf(20)}) END')} AS rv_20,
       (close - lag(close, 5) OVER (ORDER BY bar_close_ns)) / lag(close, 5) OVER (ORDER BY bar_close_ns) * 100.0 AS roc_5,
       {_guard(20, f'''CASE WHEN sum(volume) OVER (ORDER BY bar_close_ns ROWS BETWEEN 19 PRECEDING AND 5 PRECEDING) > 0
            THEN ln(sum(volume) OVER (ORDER BY bar_close_ns ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                    / (sum(volume) OVER (ORDER BY bar_close_ns ROWS BETWEEN 19 PRECEDING AND 5 PRECEDING) * 5.0 / 15.0)) END''')} AS flow_accel,
       (high - greatest(open, close)) / nullif(high - low, 0) AS wick_up,
       (close - vwap) / nullif(high - low, 0) AS vwap_drift
FROM trq""",
)
def pipeline_1m_features(spark, sf_dir):
    """Events -> trades -> 1m bars -> 12 features, one logical plan.

    The flagship crossover: the events parquet footer's row count bounds
    the bar count from above (bars aggregate trades), so below
    ``FLAGSHIP_SMALL_ROWS`` events the plan uses the plain global window
    and skips the chunk machinery's two extra shuffle+sort passes —
    bit-identical output either way (``test_chunked_window`` pins the
    equivalence and both plans). The small side also builds its bars
    single-partition: the global window serializes anyway, and moving
    the boundary below the agg fuses agg+window+projection into one
    post-shuffle stage (bars_1m ``onepart`` doc). The scale side never
    does — test_plan_regression's zero-SinglePartition pin holds."""
    small = parquet_rows_below(f"{sf_dir}/events.parquet", FLAGSHIP_SMALL_ROWS)
    return flagship_feature_stage(
        bars_1m(spark, sf_dir, seq=False, onepart=small),
        mode="global" if small else "chunked",
    )
