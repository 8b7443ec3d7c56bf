"""Bar sampling + bar aggregation operators (SURVEY.md §2.3-2.4).

Behavior parity with the reference's bar indexers (``finmlkit/bar/logic.py``)
and bar aggregations (``finmlkit/bar/base.py:306-612``), re-expressed as
Spark projections + groupBy aggregations:

- bar assignment = a pure projection adding ``bar_close_ns`` / ``bar_id``
  (scales linearly, no shuffle);
- bar build = one hash aggregation over (symbol, bar id) — one shuffle,
  map-side partial aggregation for free.

Exact reset semantics for volume/CUSUM bars are sequential state machines
-> ``functions.sequential`` (grouped Arrow UDFs per symbol). The
cumsum-floor forms here match the reference's carry-over semantics for
dollar bars (``logic.py:147``) and are the documented approximation for
volume bars (``logic.py:113`` resets to zero).

Bar timestamp convention: close time (``base.py:150,190``); a bar covers
trades with ts in (prev_close, close] — start-exclusive, end-inclusive
(``base.py:363-377``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.prefix import exclusive_prefix


def _w(by: str | None = "symbol"):
    w = Window.partitionBy(by) if by else Window.partitionBy(F.lit(1))
    return w.orderBy("ts_ns", "trade_id")


def _wrn(df: DataFrame, by: str | None) -> DataFrame:
    """Stable intra-stream row number used to make first/last deterministic."""
    return df.withColumn("rn", F.row_number().over(_w(by)))


def with_time_bar(df: DataFrame, interval_ns: int = 60_000_000_000) -> DataFrame:
    """Fixed wall-clock grid aligned to the interval multiple
    (``logic.py:12-51``): bar close = end of the containing interval.
    Pure projection — no shuffle, no state; the 100 TB-safe sampler.
    """
    return df.withColumn(
        "bar_close_ns",
        ((F.floor(F.col("ts_ns") / F.lit(interval_ns)) + 1) * F.lit(interval_ns)).cast("long"),
    )


def with_tick_bar(df: DataFrame, n: int = 100, by: str | None = "symbol") -> DataFrame:
    """Close a bar every N trades (``logic.py:54-84``):
    bar_id = (row_number-1) div N over the ordered stream.
    """
    df = _wrn(df, by)
    return df.withColumn("bar_id", F.floor((F.col("rn") - 1) / F.lit(n)).cast("long"))


def with_dollar_bar(df: DataFrame, threshold: float, by: str | None = "symbol") -> DataFrame:
    """Dollar bars with carry-over semantics (``logic.py:118-149``):
    the reference subtracts the threshold on close, keeping the remainder,
    which is exactly floor(cumsum(price*qty)/thr).
    """
    w = _w(by).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(F.col("price") * F.col("qty")).over(w)
    return df.withColumn("bar_id", F.floor(cum / F.lit(float(threshold))).cast("long"))


def with_volume_bar_approx(df: DataFrame, threshold: float, by: str | None = "symbol") -> DataFrame:
    """Volume bars, carry-over approximation of the reference's
    reset-to-zero semantics (``logic.py:87-115``). Exact variant:
    ``functions.sequential.volume_bars_exact``.
    """
    w = _w(by).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(F.col("qty")).over(w)
    return df.withColumn("bar_id", F.floor(cum / F.lit(float(threshold))).cast("long"))


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

def bar_ohlcv(
    df: DataFrame,
    key: str = "bar_close_ns",
    by: str | None = None,
    id_ordered: bool = True,
) -> DataFrame:
    """OHLCV aggregation (``base.py:306-407``).

    open/close are min_by/max_by on a single LONG ordering key — by
    default ``trade_id``, which the canonical trades contract declares
    monotonically increasing within a symbol stream (module docstring of
    ``sources.trades``; Binance et al. assign exchange sequence numbers,
    and ``preprocess.sort_trades`` restores the invariant after ingest).
    A primitive-long min_by buffer keeps the whole build ONE hash
    aggregation with map-side partial combine (``HashAggregateExec``);
    a struct key — the ``id_ordered=False`` fallback for sources whose
    ids do NOT follow time — is not hash-buffer-mutable and silently
    degrades the plan to Sort + SortAggregate on both shuffle sides
    (~20× slower at 20M rows, and an extra global sort at 100 TB).
    vwap = Σ(p·q)/Σq; median_trade_size = exact interpolated median.
    Emits only non-empty bars; see ``fill_empty_bars`` for the
    calendar-filled variant (``base.py:352-361`` fills with last close).
    """
    if "rn" in df.columns:
        ord_ = F.col("rn")
    elif id_ordered:
        ord_ = F.col("trade_id")
    else:
        ord_ = F.struct("ts_ns", "trade_id")
    keys = ([by] if by else []) + [key]
    return df.groupBy(*keys).agg(
        F.min_by("price", ord_).alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", ord_).alias("close"),
        F.sum("qty").alias("volume"),
        (F.sum(F.col("price") * F.col("qty")) / F.sum("qty")).alias("vwap"),
        F.count("*").alias("trades"),
        F.median("qty").alias("median_trade_size"),
        F.min("ts_ns").alias("first_ts_ns"),
        F.max("ts_ns").alias("last_ts_ns"),
    )


def _salted_ohlcv(
    df: DataFrame,
    key: str,
    salt_buckets: int,
    by: str | None,
    median_accuracy: int | None,
) -> DataFrame:
    """Shared two-stage salted OHLCV aggregation. ``median_accuracy``
    set -> adds the mergeable percentile_approx sketch per salt bucket
    in stage 1 and takes the bucket medians' median in stage 2 (each
    bucket is a uniform 1/salt_buckets sample by trade_id)."""
    keys = ([by] if by else []) + [key]
    salt = (F.col("trade_id") % F.lit(salt_buckets)).alias("_salt")
    s1_aggs = [
        F.min(F.struct("ts_ns", "trade_id", "price")).alias("_o"),
        F.max(F.struct("ts_ns", "trade_id", "price")).alias("_c"),
        F.max("price").alias("_hi"),
        F.min("price").alias("_lo"),
        F.sum("qty").alias("_v"),
        F.sum(F.col("price") * F.col("qty")).alias("_pv"),
        F.count("*").alias("_n"),
        F.min("ts_ns").alias("_ft"),
        F.max("ts_ns").alias("_lt"),
    ]
    s2_aggs = [
        F.min("_o")["price"].alias("open"),
        F.max("_hi").alias("high"),
        F.min("_lo").alias("low"),
        F.max("_c")["price"].alias("close"),
        F.sum("_v").alias("volume"),
        (F.sum("_pv") / F.sum("_v")).alias("vwap"),
        F.sum("_n").cast("long").alias("trades"),
        F.min("_ft").alias("first_ts_ns"),
        F.max("_lt").alias("last_ts_ns"),
    ]
    if median_accuracy is not None:
        s1_aggs.append(
            F.percentile_approx("qty", 0.5, median_accuracy).alias("_med")
        )
        s2_aggs.append(
            F.percentile_approx("_med", 0.5, median_accuracy).alias(
                "median_trade_size_approx"
            )
        )
    s1 = df.groupBy(*keys, salt).agg(*s1_aggs)
    return s1.groupBy(*keys).agg(*s2_aggs)


def bar_ohlcv_salted(df: DataFrame, key: str = "bar_close_ns", salt_buckets: int = 16, by: str | None = None) -> DataFrame:
    """Skew-safe OHLCV: two-stage salted aggregation for hot keys (one
    symbol-minute receiving millions of prints). Stage 1 groups by
    (key, salt) computing algebraic partials — open/close travel as
    (ts, trade_id, price) structs so the merge stays exact; stage 2
    merges salts. median_trade_size is NOT algebraic and is intentionally
    absent here (use ``bar_ohlcv`` at moderate key cardinality, or the
    mergeable-sketch variant ``bar_ohlcv_salted_with_median``).
    """
    return _salted_ohlcv(df, key, salt_buckets, by, median_accuracy=None)


def bar_ohlcv_salted_with_median(
    df: DataFrame,
    key: str = "bar_close_ns",
    salt_buckets: int = 16,
    by: str | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """Salted OHLCV INCLUDING an approximate median trade size.

    The exact interpolated median needs full order statistics per bar —
    the one non-algebraic aggregate; on a hot key the single reducer
    buffers every value. This variant keeps the two-stage salted shape
    (same shared aggregation, ``_salted_ohlcv``) and adds
    ``percentile_approx`` — Spark's mergeable quantile sketch (bounded
    rank error 1/accuracy) per salt bucket; the final estimate is the
    bucket medians' median (each bucket a uniform 1/salt_buckets sample
    by trade_id, so bucket medians concentrate around the true median;
    differential-tested within tolerance vs the exact form)."""
    return _salted_ohlcv(df, key, salt_buckets, by, median_accuracy=accuracy)


def fill_empty_bars(
    bars: DataFrame,
    interval_ns: int,
    key: str = "bar_close_ns",
    chunk_bars: int = 1440,
) -> DataFrame:
    """Re-create empty bars on the wall-clock grid, filling OHLC with the
    previous close and zero volume (``base.py:352-361``).

    Generates the calendar with ``sequence()`` from min to max close —
    distributed explode, no driver loop. The previous-close forward fill
    runs partition-parallel: time chunks of ``chunk_bars`` grid slots
    (default one day of 1-min bars), within-chunk cumulative
    last-non-null, and a k-row per-chunk summary (last real close per
    chunk) carried by ``functions.prefix.exclusive_prefix`` and
    broadcast back — exact because the fill only COPIES values. The
    remaining single-partition node is the 1-row min/max bounds
    aggregate.
    """
    bounds = bars.agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(interval_ns))).alias(key)
    )
    joined = cal.join(bars, key, "left")
    chunk_ns = int(interval_ns) * int(chunk_bars)
    joined = joined.withColumn("_fck", F.floor(F.col(key) / F.lit(chunk_ns)))
    w = (
        Window.partitionBy("_fck")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cin = F.last("close", ignorenulls=True).over(w)
    joined = joined.withColumn("_cin", cin)
    summ = joined.groupBy("_fck").agg(
        F.max_by("close", F.when(F.col("close").isNotNull(), F.col(key))).alias("_lastc")
    )
    carry = exclusive_prefix(summ, "_fck", lasts={"_carry": "_lastc"})
    joined = joined.join(F.broadcast(carry), "_fck")
    prev_close = F.coalesce("_cin", "_carry")
    return joined.select(
        key,
        F.coalesce("open", prev_close).alias("open"),
        F.coalesce("high", prev_close).alias("high"),
        F.coalesce("low", prev_close).alias("low"),
        F.coalesce("close", prev_close).alias("close"),
        F.coalesce("volume", F.lit(0.0)).alias("volume"),
        F.coalesce("vwap", F.lit(0.0)).alias("vwap"),
        F.coalesce("trades", F.lit(0)).alias("trades"),
        F.coalesce("median_trade_size", F.lit(0.0)).alias("median_trade_size"),
    )


def bar_directional_features(df: DataFrame, key: str = "bar_close_ns", by: str | None = None) -> DataFrame:
    """Directional flow features (``base.py:409-546``).

    Conditional aggregations for buy/sell tick/volume/dollar splits;
    spread = |Δprice| on side flips (pairs may straddle the bar boundary
    exactly as the reference's loop does — ``prev_tick_sign`` seeds from
    the prior bar's last trade, ``base.py:487-498``); mean_spread =
    Σ flip spreads / TOTAL ticks in the bar (``base.py:536``), 0 when no
    flips; path extrema of the running signed imbalances via an
    intra-bar cumulative window + min/max in the same groupBy.

    Requires columns: ts_ns, trade_id, price, qty, side.
    """
    w = _w(by)
    flip = (F.col("side") != F.lag("side").over(w)).cast("double")
    spread = F.abs(F.col("price") - F.lag("price").over(w))
    df = df.withColumn("_flip_spread", F.when(flip == 1.0, spread))
    return _directional_bar_agg(df, key, by)


def bar_directional_features_chunked(
    df: DataFrame,
    key: str = "bar_close_ns",
    chunk_ns: int | None = None,
    mode: str = "auto",
) -> DataFrame:
    """Single-stream form of :func:`bar_directional_features`: tick-rule
    side AND the flip spreads ride one side-frame window pass
    (``preprocess.chunked_side_frame``). ``mode="chunked"`` is the
    zero-SinglePartition scale plan; ``"auto"`` (default) drops to the
    cheaper global window below the measured crossover — bit-identical
    either way (the stacked lag expressions read the same helper
    columns, typed NULLs in global mode).
    Cross-chunk lags come from the per-chunk summary: each chunk's first
    row compares against ``_prev_last_p`` (previous chunk's last price)
    and ``coalesce(_carry, 1)`` (previous chunk's last row's side), so
    every row's flip/spread matches the global window bit-for-bit — the
    globally-first row keeps NULL flip (no predecessor), exactly as
    ``lag`` yields. Requires (ts_ns, trade_id, price, qty) plus the
    ``key`` column (e.g. from ``with_time_bar``).
    """
    from .preprocess import SIDE_HELPERS, chunked_side_frame

    kwargs = {} if chunk_ns is None else {"chunk_ns": chunk_ns}
    d, w = chunked_side_frame(df, mode=mode, **kwargs)
    lag_side = F.lag("side").over(w)
    lag_price = F.lag("price").over(w)
    prev_exists = F.col("_prev_last_p").isNotNull()
    prev_side = F.coalesce(F.col("_carry"), F.lit(1.0)).cast("int")
    flip = (
        F.when(lag_price.isNotNull(), (F.col("side") != lag_side).cast("double"))
        .otherwise(F.when(prev_exists, (F.col("side") != prev_side).cast("double")))
    )
    spread = F.coalesce(
        F.abs(F.col("price") - lag_price),
        F.abs(F.col("price") - F.col("_prev_last_p")),
    )
    d = d.withColumn("_flip_spread", F.when(flip == 1.0, spread)).drop(*SIDE_HELPERS)
    return _directional_bar_agg(d, key, None)


def _directional_bar_agg(df: DataFrame, key: str, by: str | None) -> DataFrame:
    """Shared per-bar directional aggregation: intra-bar cumulative
    windows (partitioned by the bar key — always parallel) + one hash
    aggregation. Expects ``side`` and ``_flip_spread`` columns."""
    wb = (
        Window.partitionBy(*([by] if by else []), key)
        .orderBy("ts_ns", "trade_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_buy = (F.col("side") == 1).cast("double")
    is_sell = (F.col("side") == -1).cast("double")
    df = (
        df.withColumn("_cum_ticks", F.sum(F.col("side").cast("double")).over(wb))
        .withColumn("_cum_vol", F.sum(F.col("side") * F.col("qty")).over(wb))
        .withColumn("_cum_dollar", F.sum(F.col("side") * F.col("qty") * F.col("price")).over(wb))
    )
    keys = ([by] if by else []) + [key]
    return df.groupBy(*keys).agg(
        F.sum(is_buy).cast("long").alias("ticks_buy"),
        F.sum(is_sell).cast("long").alias("ticks_sell"),
        F.sum(is_buy * F.col("qty")).alias("volume_buy"),
        F.sum(is_sell * F.col("qty")).alias("volume_sell"),
        F.sum(is_buy * F.col("qty") * F.col("price")).alias("dollars_buy"),
        F.sum(is_sell * F.col("qty") * F.col("price")).alias("dollars_sell"),
        (
            F.coalesce(F.sum("_flip_spread"), F.lit(0.0)) / F.count("*")
        ).alias("mean_spread"),
        F.coalesce(F.max("_flip_spread"), F.lit(0.0)).alias("max_spread"),
        F.min("_cum_ticks").alias("cum_ticks_min"),
        F.max("_cum_ticks").alias("cum_ticks_max"),
        F.min("_cum_vol").alias("cum_volume_min"),
        F.max("_cum_vol").alias("cum_volume_max"),
        F.min("_cum_dollar").alias("cum_dollars_min"),
        F.max("_cum_dollar").alias("cum_dollars_max"),
    )


def bar_trade_size_features(
    df: DataFrame,
    typical_size: float,
    block_mult: float = 10.0,
    key: str = "bar_close_ns",
    by: str | None = None,
) -> DataFrame:
    """Trade-size distribution features (``base.py:549-612``).

    thr = block_mult·θ (the block threshold) normalizes EVERY feature —
    the reference divides mean and p95 by thr, not bare θ
    (``base.py:584-586``): mean_size_rel = log1p(mean qty / thr),
    size_95_rel = log1p(p95 / thr), pct_block = Σ qty·[qty > thr] / Σ qty,
    size_gini = 1 − Σ (qtyᵢ/Σqty)² computed as Σqty² / (Σqty)² — a single
    pass instead of the reference's two-pass normalized loop.
    """
    theta = float(typical_size)
    thr = block_mult * theta
    keys = ([by] if by else []) + [key]
    return df.groupBy(*keys).agg(
        F.log1p(F.avg("qty") / F.lit(thr)).alias("mean_size_rel"),
        F.log1p(F.percentile("qty", F.lit(0.95)) / F.lit(thr)).alias("size_95_rel"),
        (
            F.sum(F.when(F.col("qty") > thr, F.col("qty")).otherwise(0.0)) / F.sum("qty")
        ).alias("pct_block"),
        (F.lit(1.0) - F.sum(F.col("qty") * F.col("qty")) / (F.sum("qty") * F.sum("qty"))).alias(
            "size_gini"
        ),
    )
