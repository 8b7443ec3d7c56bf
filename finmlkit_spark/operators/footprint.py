"""Footprint operators (SURVEY.md §2.4; reference ``base.py:615-850``).

The reference stores per-bar ragged arrays (price levels × buy/sell
volume/ticks). Spark-first design: a **long-form footprint table**
``(bar_close_ns, level, buy_vol, sell_vol, buy_ticks, sell_ticks)`` —
one groupBy away from trades, join/agg friendly, explodes ~levels× rows
instead of nesting. ``collect_list(struct(...))`` packing is offered
only at the API edge (``pack_footprint``) for pandas interop parity
with ``FootprintData.get_df`` (``bar/utils.py:129-209``).

Price levels are integer ticks (float-error avoidance, reference
``base.py:688-708``): level = round(price / tick) computed as
round(price · 1/tick); at tick = 0.01 the multiplier is exactly 100.0,
the one the DuckDB oracle uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import arrow
from ..functions.sqlstage import sql_stage


def footprint_long(trades_sided: DataFrame, tick: float, key: str = "bar_close_ns") -> DataFrame:
    """Trades (with side + bar key) -> long footprint table
    (``comp_bar_footprints`` ``base.py:615-752``): per (bar, level)
    buy/sell volume and tick counts. One hash aggregation, no state."""
    inv = 1.0 / tick
    lvl = F.round(F.col("price") * inv).cast("long")
    df = trades_sided.withColumn("level", lvl)
    return df.groupBy(key, "level").agg(
        F.sum(F.when(F.col("side") == 1, F.col("qty")).otherwise(0.0)).alias("buy_vol"),
        F.sum(F.when(F.col("side") == -1, F.col("qty")).otherwise(0.0)).alias("sell_vol"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("buy_ticks"),
        F.sum(F.when(F.col("side") == -1, 1).otherwise(0)).cast("long").alias("sell_ticks"),
    )


def footprint_features(
    fp: DataFrame,
    imb_mult: float = 3.0,
    key: str = "bar_close_ns",
    tick: float = 0.01,
    bar_vwap: DataFrame | None = None,
) -> DataFrame:
    """Per-bar footprint features (``comp_footprint_features``
    ``base.py:755-850``):

    - diagonal imbalance flags: sell[l] > m·buy[l+1] (sell imbalance),
      buy[l] > m·sell[l−1] (buy imbalance) — lead/lag over the bar's
      ascending levels; the edge levels have no neighbour and count as
      no imbalance (``base.py:795-798``);
    - buy/sell imbalance counts; SIGNED longest imbalance run — buy
      priority on dual-imbalance levels, first maximal run wins ties
      (gaps-and-islands over levels, ``base.py:800-822``);
    - COT level = argmax total volume, lowest level on ties
      (``base.py:828-830``);
    - vp_skew: the reference computes Σ(level−level_vwap)·vol/Σvol, which
      is IDENTICALLY ZERO (deviation around its own weighted mean,
      ``base.py:838-843``); we fix the semantics by skewing around the
      bar's TRADE vwap (pass ``bar_vwap``); vp_var is the matching
      2nd moment Σv·(p−bar_vwap)²/Σv — the SHIFTED one-pass form, a
      sum of non-negative terms (no ``E[x²]−E[x]²`` cancellation);
      NULL when no ``bar_vwap`` is supplied, like vp_skew; vp_gini =
      1−Σ(vol/Σvol)² (``base.py:845-848``).

    Plan: ONE hash aggregation per bar —
    ``sort_array(collect_list(struct(level, vols)))`` — feeding a
    vectorized Arrow kernel, then one SQL projection for the ratios.
    Per-bar array length is bounded by the price range per bar, so the
    packed row stays small at any data scale.

    Determinism: every moment term is HALF_UP-quantized to 1e6 integer
    units BEFORE summing (``floor(term·1e6 + 0.5)``), so the int64 sums
    are exact in any fold order and no output bit depends on partition
    count or batch boundaries. Exactness bound: |term|·1e6 < 2^63 per
    level (per-level vol ≤ ~3e6 and |p−vwap|²·vol ≤ ~9e12). Tie-breaks
    are first-index argmax over ascending levels (lowest level wins).
    """
    import numpy as np

    m = float(imb_mult)
    tk = float(tick)

    def _fold(levels, bvols, svols, vwaps):
        # the flat batch: one set of vectorized segment ops instead of
        # a per-bar Python loop
        lv, offsets = arrow.segments(levels)
        lens, starts = np.diff(offsets), offsets[:-1]
        seg = np.repeat(np.arange(len(lens)), lens)
        lv = lv.astype(np.int64)
        b = arrow.segments(bvols)[0].astype(np.float64)
        s = arrow.segments(svols)[0].astype(np.float64)
        n = len(lv)
        idx = np.arange(n)
        first = idx == starts[seg]
        last = idx == (starts[seg] + lens[seg] - 1)
        # sell_vol > m*lead(buy_vol); buy_vol > m*lag(sell_vol) within
        # the bar (no neighbour at the edges -> no imbalance)
        sell = np.zeros(n, dtype=bool)
        buy = np.zeros(n, dtype=bool)
        if n > 1:
            sell[:-1] = s[:-1] > m * b[1:]
            buy[1:] = b[1:] > m * s[:-1]
        sell[last] = False
        buy[first] = False
        sgn = np.where(buy, 1, np.where(sell, -1, 0)).astype(np.int64)
        # gaps-and-islands: group starts where sgn changes (lag default 0
        # at each bar's first row); the running group-start index never
        # leaks across bars for sgn!=0 rows because a bar's first nonzero
        # row always differs from its (forced-0) predecessor
        prevs = np.concatenate(([0], sgn[:-1]))
        prevs[first] = 0
        newgrp = sgn != prevs
        gstart = np.maximum.accumulate(np.where(newgrp, idx, -1))
        run = np.where(sgn != 0, idx - np.where(gstart < 0, 0, gstart) + 1, 0)
        big = np.iinfo(np.int64).max
        # first index of the per-bar max: the lowest level wins ties
        runmax = np.maximum.reduceat(run, starts)
        j = np.minimum.reduceat(np.where(run == runmax[seg], idx, big), starts)
        vol = b + s
        volmax = np.maximum.reduceat(vol, starts)
        c = np.minimum.reduceat(np.where(vol == volmax[seg], idx, big), starts)
        price = lv * tk
        vw = vwaps.astype(np.float64)
        # moment sums as HALF_UP-1e6-quantized EXACT int64 folds:
        # integer sums are associative, so np.add.reduceat is exact in
        # any order (bound: |term|·1e6 < 2^63 per level). d is computed
        # ONCE then squared term-wise: (p - bar_vwap) * (p - bar_vwap) * vol
        d = price - vw[seg]
        nanv = np.isnan(d)
        d0 = np.where(nanv, 0.0, d)
        # per-level volumes quantized FIRST (buy/sell separately), then
        # ONE vold double feeds every moment term: the raw
        # buy_vol/sell_vol floats are upstream sums whose last ulp may
        # differ by fold order, and a term's floor would flip on that
        # ulp near a boundary
        vq = np.floor(b * 1e6 + 0.5).astype(np.int64) + np.floor(
            s * 1e6 + 0.5
        ).astype(np.int64)
        vold = vq / 1e6
        v2q = np.floor(vold * vold * 1e6 + 0.5).astype(np.int64)
        varq = np.floor(d0 * d0 * vold * 1e6 + 0.5).astype(np.int64)
        skewq = np.floor(d0 * vold * 1e6 + 0.5).astype(np.int64)
        # NULL bar_vwap must surface as NULL (not a garbage fold):
        # masked int64 sums, exact, NULL where the mask is set
        no_vw = np.isnan(vw)
        return {
            "n_levels": lens,
            "buy_imb_sum": np.add.reduceat(buy.astype(np.int64), starts),
            "sell_imb_sum": np.add.reduceat(sell.astype(np.int64), starts),
            "max_imb_run": run[j] * sgn[j],
            "cot_level": lv[c],
            "_v1q": np.add.reduceat(vq, starts),
            "_v2q": np.add.reduceat(v2q, starts),
            "_var_q": np.ma.masked_array(np.add.reduceat(varq, starts), no_vw),
            "_skew_q": np.ma.masked_array(np.add.reduceat(skewq, starts), no_vw),
        }

    _fold = arrow.column(
        _fold,
        "struct<n_levels:bigint,buy_imb_sum:bigint,sell_imb_sum:bigint,"
        "max_imb_run:bigint,cot_level:bigint,_v1q:bigint,_v2q:bigint,"
        "_var_q:bigint,_skew_q:bigint>",
    )

    packed = fp.groupBy(key).agg(
        F.sort_array(
            F.collect_list(F.struct("level", "buy_vol", "sell_vol"))
        ).alias("_lv")
    )
    if bar_vwap is not None:
        packed = packed.join(bar_vwap.select(key, "bar_vwap"), key)
        vw_col = F.col("bar_vwap")
    else:
        vw_col = F.lit(None).cast("double")
    folded = packed.select(
        key,
        _fold(
            F.col("_lv.level"), F.col("_lv.buy_vol"), F.col("_lv.sell_vol"), vw_col
        ).alias("_f"),
    )
    # the ratios are one double expression over the exact integer sums
    tail = f"""
SELECT {key}, _f.n_levels AS n_levels, _f.buy_imb_sum AS buy_imb_sum,
       _f.sell_imb_sum AS sell_imb_sum, _f.max_imb_run AS max_imb_run,
       _f.cot_level AS cot_level,
       CAST(_f._skew_q AS DOUBLE) / nullif(CAST(_f._v1q AS DOUBLE), 0.0d) AS vp_skew,
       CAST(_f._var_q AS DOUBLE) / nullif(CAST(_f._v1q AS DOUBLE), 0.0d) AS vp_var,
       CAST('1.0' AS DOUBLE) - CAST(_f._v2q AS DOUBLE) * 1000000.0d
         / nullif(CAST(_f._v1q AS DOUBLE) * CAST(_f._v1q AS DOUBLE), 0.0d) AS vp_gini
FROM {{folded}}
"""
    return sql_stage(tail, folded=folded)


def pack_footprint(fp: DataFrame, key: str = "bar_close_ns") -> DataFrame:
    """API-edge packing to one nested row per bar (pandas interop parity
    with ``FootprintData.get_df``)."""
    return fp.groupBy(key).agg(
        F.sort_array(
            F.collect_list(
                F.struct("level", "buy_vol", "sell_vol", "buy_ticks", "sell_ticks")
            )
        ).alias("footprint")
    )
